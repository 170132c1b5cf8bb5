"""Incremental-maintenance and physical-layout operators (round 4e).

The lakehouse maintenance jobs that surround a 100 TB table — all
expressed as declarative DataFrame plans with exact cross-engine
oracles:

- ``op_incremental_join`` — incremental JOIN-view maintenance:
  Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB. The view (revenue per
  nation over orders⋈customer) is refreshed by merging the old
  partial with the three delta contributions; the oracle recomputes
  the full join from scratch, so equality PROVES the delta
  decomposition exact — the companion to ``ev_delta_rollup``'s
  aggregate-side merge.
- ``op_compaction_plan`` — OPTIMIZE-style small-file bin packing:
  per partition, files roll up into output groups by cumulative-size
  window assignment — the compaction planner that turns a
  million-small-file partition into target-sized rewrites.
- ``op_target_encode`` — leave-one-out target encoding with additive
  smoothing (the classic train-safe categorical feature): per-row
  enc = (Σ_cat − y_i + α·prior) / (n_cat − 1 + α), computed from
  exact 1e-6-quantized integer sums so the encoding is
  order-independent and bit-identical cross-engine.

Scale notes (100 TB intent):
- Incremental join: the delta sides are ingest batches (≪ base), so
  both ΔA⋈B and A⋈ΔB broadcast the delta; the old view is a
  nation-cardinality partial that never re-reads the base fact. Cost
  per refresh is O(Δ), not O(A⋈B) — the materialized-view contract.
- Compaction: the file inventory is metadata (one row per file), the
  cumulative window runs per partition — thousands of rows per
  partition, never data-sized.
- Target encoding: one groupBy per category table (broadcast back) +
  one map-side expression; no window over the fact table, so no
  per-category sort of 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import (
    dsum,
    dsum_wide,
    duck_dsum,
    duck_rnd,
    rnd,
)

QUERIES: dict = {}
ORACLES: dict = {}


# --- op_incremental_join -----------------------------------------------------

# Ingest-batch membership: stand-ins for "rows that arrived since the
# last refresh" on each side of the join.
NEW_O_MOD = 13
NEW_C_MOD = 17


def op_incremental_join(t: dict[str, DataFrame]) -> DataFrame:
    """Incremental join-view refresh, merged from four quadrant partials.

    quadrant = 2·is_new(order) + is_new(customer); the view's measures
    are algebraic (count, dsum), so the quadrant partials merge by
    addition. ``n_quadrants`` counts how many partials contributed per
    nation — the gate row shows the merge genuinely combined deltas
    (it is 4 for every populated nation at sf0.01).
    """
    o = t["orders"].withColumn("o_new", F.col("o_orderkey") % NEW_O_MOD == 0)
    c = t["customer"].withColumn("c_new", F.col("c_custkey") % NEW_C_MOD == 0)
    quadrants = []
    for o_new in (False, True):
        for c_new in (False, True):
            part = (
                o.filter(F.col("o_new") == o_new)
                .join(
                    F.broadcast(c.filter(F.col("c_new") == c_new)),
                    F.col("o_custkey") == F.col("c_custkey"),
                )
                .groupBy("c_nationkey")
                .agg(
                    F.count("*").alias("pn"),
                    # decimal accumulation: per-nation order counts are
                    # unbounded, so the quantized partial must not ride
                    # a wrappable int64 (dsum_wide discipline inline —
                    # the quadrant partials then merge as decimals)
                    F.sum(
                        F.floor(F.col("o_totalprice") * 1e6 + F.lit(0.5)).cast(
                            "decimal(27,0)"
                        )
                    ).alias("psum"),
                )
                .withColumn("quadrant", F.lit(2 * int(o_new) + int(c_new)))
            )
            quadrants.append(part)
    merged = quadrants[0]
    for q in quadrants[1:]:
        merged = merged.unionByName(q)
    return (
        merged.groupBy("c_nationkey")
        .agg(
            F.sum("pn").alias("n_orders"),
            (F.sum("psum").cast("double") / F.lit(1e6)).alias("rev"),
            F.count_distinct("quadrant").alias("n_quadrants"),
        )
        .select(
            "c_nationkey",
            "n_orders",
            rnd(F.col("rev"), 2).alias("revenue"),
            "n_quadrants",
        )
    )


ORACLE_INCREMENTAL_JOIN = f"""
SELECT c_nationkey,
       count(*) AS n_orders,
       {duck_rnd(duck_dsum('o_totalprice'), 2)} AS revenue,
       count(DISTINCT 2 * CAST(o_orderkey % {NEW_O_MOD} = 0 AS INT)
                       + CAST(c_custkey % {NEW_C_MOD} = 0 AS INT)) AS n_quadrants
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

QUERIES["op_incremental_join"] = op_incremental_join
ORACLES["op_incremental_join"] = ORACLE_INCREMENTAL_JOIN


# --- op_compaction_plan ------------------------------------------------------

FILE_BUCKETS = 16  # synthetic "file" id within a partition
ROW_BYTES = 120  # per-row size estimate for the inventory
TARGET_BYTES = 40_000  # compaction output target size


def op_compaction_plan(t: dict[str, DataFrame]) -> DataFrame:
    """OPTIMIZE bin-packing plan over a synthetic file inventory.

    Inventory: one row per (month partition, file) with estimated
    bytes; plan: files ordered within the partition, output group =
    floor(cumulative-bytes-before / target) — the greedy first-fit
    packing every table-maintenance service runs. Output is one row
    per planned output file with what it compacts.
    """
    inv = (
        t["orders"]
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("p_month"),
            (F.col("o_orderkey") % FILE_BUCKETS).alias("file_id"),
        )
        .agg(F.count("*").alias("n_rows"))
        .withColumn("bytes", F.col("n_rows") * ROW_BYTES)
    )
    w = (
        Window.partitionBy("p_month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = inv.withColumn(
        "out_file",
        F.floor(F.coalesce(F.sum("bytes").over(w), F.lit(0)) / TARGET_BYTES),
    )
    return (
        planned.groupBy("p_month", "out_file")
        .agg(
            F.count("*").alias("n_input_files"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


ORACLE_COMPACTION_PLAN = f"""
WITH inv AS (
  SELECT date_trunc('month', o_orderdate) AS p_month,
         o_orderkey % {FILE_BUCKETS} AS file_id,
         count(*) AS n_rows,
         count(*) * {ROW_BYTES} AS bytes
  FROM orders GROUP BY 1, 2
),
planned AS (
  SELECT *,
         CAST(floor(coalesce(sum(bytes) OVER (
             PARTITION BY p_month ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {TARGET_BYTES}) AS BIGINT) AS out_file
  FROM inv
)
SELECT p_month, out_file, count(*) AS n_input_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_rows) AS BIGINT) AS n_rows
FROM planned
GROUP BY 1, 2
ORDER BY p_month, out_file
"""

QUERIES["op_compaction_plan"] = op_compaction_plan
ORACLES["op_compaction_plan"] = ORACLE_COMPACTION_PLAN


# --- op_target_encode --------------------------------------------------------

TE_ALPHA = 10  # additive-smoothing pseudo-count


def op_target_encode(t: dict[str, DataFrame]) -> DataFrame:
    """Leave-one-out target encoding of event_type against value,
    reported as per-category encoding statistics.

    All sums are exact 1e-6-quantized int64s; the per-row encoding is
    a ratio of exact integers (identical IEEE division in both
    engines) and the readout re-aggregates the encodings through the
    same quantized-sum discipline — order-independent end to end.
    LOO removes the row's own target from its category sum, the
    standard train-leakage guard.
    """
    ev = t["events"].withColumn(
        "sv", F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    )
    # category/global sums are unbounded-cardinality — accumulate the
    # quantized terms in decimal (int64 wraps at ~1e12 rows × 1e8-scale
    # terms); the per-row LOO subtraction stays exact in decimal
    cat = ev.groupBy("event_type").agg(
        F.count("*").alias("n_c"),
        F.sum(F.col("sv").cast("decimal(27,0)")).alias("s_c"),
    )
    glob = ev.agg(
        F.count("*").alias("n_g"),
        F.sum(F.col("sv").cast("decimal(27,0)")).alias("s_g"),
    )
    prior = (F.col("s_g") / F.lit(1e6)).cast("double") / F.col("n_g")
    enc = (
        (F.col("s_c") - F.col("sv")).cast("double") / F.lit(1e6)
        + F.lit(float(TE_ALPHA)) * prior
    ) / (F.col("n_c") - 1 + TE_ALPHA).cast("double")
    return (
        ev.join(F.broadcast(cat), "event_type")
        .crossJoin(F.broadcast(glob))
        .select("event_type", enc.alias("enc"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            rnd(dsum(F.col("enc")) / F.count("*"), 6).alias("mean_enc"),
            rnd(F.min("enc"), 6).alias("min_enc"),
            rnd(F.max("enc"), 6).alias("max_enc"),
        )
    )


ORACLE_TARGET_ENCODE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS sv
  FROM events
),
cat AS (SELECT event_type, count(*) AS n_c, sum(sv) AS s_c FROM ev GROUP BY 1),
tot AS (SELECT count(*) AS n_g, sum(sv) AS s_g FROM ev),
enc AS (
  SELECT ev.event_type AS event_type,
         (CAST(s_c - sv AS DOUBLE) / 1000000.0
          + CAST({TE_ALPHA} AS DOUBLE) * (CAST(s_g AS DOUBLE) / 1000000.0 / n_g))
         / CAST(n_c - 1 + {TE_ALPHA} AS DOUBLE) AS enc
  FROM ev JOIN cat ON ev.event_type = cat.event_type, tot
)
SELECT event_type, count(*) AS n,
       {duck_rnd(f"{duck_dsum('enc')} / count(*)", 6)} AS mean_enc,
       {duck_rnd('min(enc)', 6)} AS min_enc,
       {duck_rnd('max(enc)', 6)} AS max_enc
FROM enc
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["op_target_encode"] = op_target_encode
ORACLES["op_target_encode"] = ORACLE_TARGET_ENCODE


# --- op_snapshot_diff --------------------------------------------------------

DEL_MOD = 11  # v2 drops these keys
UPD_MOD = 7  # v2 reprices these keys
INS_MOD = 13  # v2 adds a shifted copy of these keys
INS_SHIFT = 10_000_000


def _snapshot_v2(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic 'next snapshot' of orders: deletes (mod 11),
    updates (+10% reprice, mod 7), inserts (shifted-key copies,
    mod 13) — the CDC fixture both engines derive identically."""
    o = t["orders"].select("o_orderkey", "o_totalprice")
    kept = o.filter(F.col("o_orderkey") % DEL_MOD != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % UPD_MOD == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserted = o.filter(F.col("o_orderkey") % INS_MOD == 0).select(
        (F.col("o_orderkey") + INS_SHIFT).alias("o_orderkey"),
        F.col("o_totalprice"),
    )
    return kept.unionByName(inserted)


def op_snapshot_diff(t: dict[str, DataFrame]) -> DataFrame:
    """Snapshot reconciliation (the CDC diff job): full-outer join of
    two table versions on the key, rows classified added / removed /
    changed / unchanged, per-class counts + exact value drift.

    At 100 TB both snapshots are bucketed on the key (sources/
    bucketed.py) so this join is Exchange-free; the diff report is the
    audit artifact a replication pipeline emits per sync run.
    """
    v1 = t["orders"].select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p1")
    )
    v2 = _snapshot_v2(t).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p2")
    )
    joined = v1.join(v2, "k", "full_outer")
    cls = (
        F.when(F.col("p1").isNull(), F.lit("added"))
        .when(F.col("p2").isNull(), F.lit("removed"))
        .when(F.col("p1") != F.col("p2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            cls.alias("change_type"),
            F.coalesce(F.col("p2"), F.lit(0.0)).alias("p2v"),
            F.coalesce(F.col("p1"), F.lit(0.0)).alias("p1v"),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            # per-class drift totals are unbounded-cardinality sums of
            # price-scale terms — decimal accumulation (dsum_wide), not
            # the int64 fast path
            rnd(dsum_wide(F.col("p2v") - F.col("p1v")), 2).alias("value_drift"),
        )
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS p1 FROM orders),
v2 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % {UPD_MOD} = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS p2
  FROM orders WHERE o_orderkey % {DEL_MOD} != 0
  UNION ALL
  SELECT o_orderkey + {INS_SHIFT} AS k, o_totalprice AS p2
  FROM orders WHERE o_orderkey % {INS_MOD} = 0
),
joined AS (
  SELECT CASE WHEN p1 IS NULL THEN 'added'
              WHEN p2 IS NULL THEN 'removed'
              WHEN p1 != p2 THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         coalesce(p2, 0.0) - coalesce(p1, 0.0) AS drift
  FROM v1 FULL OUTER JOIN v2 USING (k)
)
SELECT change_type, count(*) AS n_rows,
       {duck_rnd(duck_dsum('drift'), 2)} AS value_drift
FROM joined
GROUP BY change_type
ORDER BY change_type
"""

QUERIES["op_snapshot_diff"] = op_snapshot_diff
ORACLES["op_snapshot_diff"] = ORACLE_SNAPSHOT_DIFF


# --- pipe_incremental --------------------------------------------------------

from pypers_spark.functions.text import duck_normalize_text, normalize_text  # noqa: E402
from pypers_spark.stage import Stage  # noqa: E402

MIN_ADMIT_TOKENS = 25  # quality gate: drop sub-25-token batch docs


class IngestIncrDocs(Stage):
    """Base corpus + the deterministic ingest batch (even ids arrive as
    normalize-equal duplicates, odd ids as genuinely new docs)."""

    outputs = ("base", "batch")

    def process(self, pipeline, config, status=None, **inputs):
        from pypers_spark.session import current_session
        from pypers_spark.sources.io import read_parquet

        spark = current_session()
        df = read_parquet(spark, f'{config["sf_dir"]}/documents.parquet')
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        base = df.repartition(n, F.col("doc_id"))
        batch = base.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("  "), F.upper(F.col("text"))),
            )
            .otherwise(F.concat(F.col("text"), F.lit(" fresh")))
            .alias("text"),
            F.col("source"),
        )
        return {"base": base, "batch": batch}


class ExactAdmitGate(Stage):
    """Flag batch docs whose normalized fingerprint already exists in the
    base corpus (the dd_incremental anti-join, kept as a flag so the
    report can account for every row)."""

    inputs = ("base",)
    consumes = ("batch",)
    outputs = ("flagged",)

    def process(self, pipeline, config, status=None, base=None, batch=None, **kw):
        fp = F.md5(normalize_text(F.col("text")))
        base_fps = base.select(fp.alias("fp")).distinct().withColumn(
            "hit", F.lit(1)
        )
        flagged = (
            batch.withColumn("fp", fp)
            .join(base_fps, "fp", "left")
            .withColumn("is_dup", F.col("hit").isNotNull())
            .drop("hit")
        )
        return {"flagged": flagged}


class QualityAdmitGate(Stage):
    """Flag batch docs below the token-count floor (Gopher-style length
    gate on the ingest path)."""

    consumes = ("flagged",)
    outputs = ("gated",)

    def process(self, pipeline, config, status=None, flagged=None, **kw):
        n_tok = F.size(F.split(normalize_text(F.col("text")), " "))
        return {
            "gated": flagged.withColumn(
                "ok_quality", n_tok >= MIN_ADMIT_TOKENS
            )
        }


class AdmitReport(Stage):
    """Per-source ingest accounting: batch size, exact-dup rejects,
    quality rejects, admitted rows — one conditional aggregation."""

    consumes = ("gated",)
    outputs = ("report",)

    def process(self, pipeline, config, status=None, gated=None, **kw):
        adm = ~F.col("is_dup") & F.col("ok_quality")
        return {
            "report": gated.groupBy("source").agg(
                F.count("*").alias("n_batch"),
                F.count(F.when(F.col("is_dup"), 1)).alias("n_exact_dup"),
                F.count(
                    F.when(~F.col("is_dup") & ~F.col("ok_quality"), 1)
                ).alias("n_quality_drop"),
                F.count(F.when(adm, 1)).alias("n_admitted"),
            )
        }


def pipe_incremental(t) -> DataFrame:
    """The incremental-ingest pipeline as ONE oracled query through the
    real create_pipeline/Pipeline.process machinery (the third
    orchestration-in-the-gate query beside pipe_curation and
    pipe_training): synthesize batch → exact-dup gate against the base
    fingerprint index → quality gate → per-source admit accounting.
    Everything composes into a single Catalyst plan; the only shuffles
    are the base fingerprint distinct and the admit join (batch-sized —
    ingest cost is O(batch), never O(corpus): at 100 TB the base
    fingerprint index is a checkpointed bucketed table).
    """
    from pypers_spark.config import Config
    from pypers_spark.pipeline import create_pipeline

    pipeline = create_pipeline(
        [IngestIncrDocs(), ExactAdmitGate(), QualityAdmitGate(), AdmitReport()]
    )
    config = Config({"ingest-incr-docs": {"sf_dir": t._sf_dir}})
    data, _, _ = pipeline.process(input_id=1, config=config)
    return data["report"]


_DUCK_BATCH_NTOK = f"len(string_split({duck_normalize_text('text')}, ' '))"

ORACLE_PIPE_INCREMENTAL = f"""
WITH batch AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 2 = 0 THEN '  ' || upper(text)
              ELSE text || ' fresh' END AS text,
         source
  FROM documents
),
base_fps AS (
  SELECT DISTINCT md5({duck_normalize_text('text')}) AS fp FROM documents
),
gated AS (
  SELECT b.source AS source,
         (f.fp IS NOT NULL) AS is_dup,
         {_DUCK_BATCH_NTOK} >= {MIN_ADMIT_TOKENS} AS ok_quality
  FROM batch b
  LEFT JOIN base_fps f ON md5({duck_normalize_text('b.text')}) = f.fp
)
SELECT source,
       count(*) AS n_batch,
       count(CASE WHEN is_dup THEN 1 END) AS n_exact_dup,
       count(CASE WHEN NOT is_dup AND NOT ok_quality THEN 1 END) AS n_quality_drop,
       count(CASE WHEN NOT is_dup AND ok_quality THEN 1 END) AS n_admitted
FROM gated
GROUP BY source
ORDER BY source
"""

QUERIES["pipe_incremental"] = pipe_incremental
ORACLES["pipe_incremental"] = ORACLE_PIPE_INCREMENTAL


# --- op_zone_map_prune -------------------------------------------------------

ZM_FILES = 16
ZM_PRED_LO = 150_000.0
ZM_PRED_HI = 200_000.0


def op_zone_map_prune(t: dict[str, DataFrame]) -> DataFrame:
    """Data-skipping effectiveness readout: per-file (min, max) zone
    maps on o_totalprice under two physical layouts — hash (orderkey
    mod) vs value-clustered (equi-width value bucket between the global
    min/max) — scored against a fixed range predicate. The clustered
    layout's zone maps prune almost every file; the hash layout's prune
    none: the one-table artifact that justifies paying the clustering
    write (op_zorder's multi-column sibling).

    The clustered assignment is a MAP-SIDE bucket against broadcast
    global bounds — not an ntile window, which would force a global
    single-partition sort (at 100 TB the write path range-partitions
    instead; the zone-map arithmetic is identical). Everything after
    the two inventory aggregations is file-cardinality metadata; in
    production the zone maps come from parquet footers (op_file_stats)
    and this op is the planner that reads them.
    """
    o = t["orders"]
    hash_inv = (
        o.groupBy((F.col("o_orderkey") % ZM_FILES).alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("zmin"),
            F.max("o_totalprice").alias("zmax"),
        )
        .withColumn("layout", F.lit("hash"))
    )
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(ZM_FILES))
    clus_inv = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            "o_totalprice",
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("bigint"),
                F.lit(ZM_FILES - 1),
            ).alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("zmin"),
            F.max("o_totalprice").alias("zmax"),
        )
        .withColumn("layout", F.lit("clustered"))
    )
    inv = hash_inv.unionByName(clus_inv)
    skippable = (F.col("zmax") < ZM_PRED_LO) | (F.col("zmin") > ZM_PRED_HI)
    return (
        inv.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.count(F.when(skippable, 1)).alias("n_skipped"),
            F.sum(F.when(skippable, F.col("n_rows"))).alias("rows_skipped"),
            rnd(
                F.count(F.when(skippable, 1)).cast("double") / F.count("*"), 4
            ).alias("skip_ratio"),
        )
    )


ORACLE_ZONE_MAP_PRUNE = f"""
WITH hash_inv AS (
  SELECT 'hash' AS layout, o_orderkey % {ZM_FILES} AS file_id,
         count(*) AS n_rows, min(o_totalprice) AS zmin, max(o_totalprice) AS zmax
  FROM orders GROUP BY 2
),
bounds AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
clus_inv AS (
  SELECT 'clustered' AS layout, file_id, count(*) AS n_rows,
         min(o_totalprice) AS zmin, max(o_totalprice) AS zmax
  FROM (
    SELECT o_totalprice,
           least(CAST(floor((o_totalprice - lo)
                            / ((hi - lo) / {float(ZM_FILES)})) AS BIGINT),
                 {ZM_FILES - 1}) AS file_id
    FROM orders, bounds
  ) GROUP BY 2
),
inv AS (SELECT * FROM hash_inv UNION ALL SELECT * FROM clus_inv),
scored AS (
  SELECT *, (zmax < {ZM_PRED_LO} OR zmin > {ZM_PRED_HI}) AS skippable FROM inv
)
SELECT layout, count(*) AS n_files,
       count(CASE WHEN skippable THEN 1 END) AS n_skipped,
       CAST(sum(CASE WHEN skippable THEN n_rows END) AS BIGINT) AS rows_skipped,
       {duck_rnd('CAST(count(CASE WHEN skippable THEN 1 END) AS DOUBLE) / count(*)', 4)}
         AS skip_ratio
FROM scored
GROUP BY layout
ORDER BY layout
"""

QUERIES["op_zone_map_prune"] = op_zone_map_prune
ORACLES["op_zone_map_prune"] = ORACLE_ZONE_MAP_PRUNE


# --- op_k_anonymity ----------------------------------------------------------

KANON_K = 10  # release threshold (min QI-class size on this corpus is 5,
# so the risky path is non-vacuous in every segment)


def op_k_anonymity(t: dict[str, DataFrame]) -> DataFrame:
    """k-anonymity audit before a data release: group the table by its
    quasi-identifier tuple (nation × market segment) and report, per
    segment, how many equivalence classes fall below k — the
    re-identification risk gate a privacy review runs before
    publishing micro-data. Two hash aggregations (QI classes, then the
    rollup); class cardinality is |QI-value-space|, never row-scale.
    """
    classes = (
        t["customer"]
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").alias("class_size"))
    )
    risky = F.col("class_size") < KANON_K
    return (
        classes.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_classes"),
            F.count(F.when(risky, 1)).alias("n_risky_classes"),
            F.sum(F.when(risky, F.col("class_size")).otherwise(F.lit(0))).alias(
                "n_risky_rows"
            ),
            F.min("class_size").alias("min_class_size"),
        )
    )


ORACLE_K_ANONYMITY = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS class_size
  FROM customer GROUP BY 1, 2
)
SELECT c_mktsegment,
       count(*) AS n_classes,
       count(CASE WHEN class_size < {KANON_K} THEN 1 END) AS n_risky_classes,
       CAST(sum(CASE WHEN class_size < {KANON_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS n_risky_rows,
       min(class_size) AS min_class_size
FROM classes
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["op_k_anonymity"] = op_k_anonymity
ORACLES["op_k_anonymity"] = ORACLE_K_ANONYMITY


# --- op_market_basket --------------------------------------------------------

MB_MIN_SUPPORT = 20  # pair-support floor before lift is meaningful
MB_TOP_K = 20


def op_market_basket(t: dict[str, DataFrame]) -> DataFrame:
    """Market-basket co-occurrence with lift: brands bought together in
    one order, scored lift = P(ab)·N / (P(a)·P(b)) — the
    recommender/assortment primitive, ln-free (a ratio of exact
    counts, identical IEEE division in both engines).

    Baskets are (order × distinct brand) — ≤13 lines here, bounded by
    order width at any corpus size — so the within-basket pair
    explosion is the same bounded-block discipline as every LSH/IVF
    operator. part is a broadcast dim. ONE shuffle builds the basket
    array per order (collect_set folds the brand-distinct in — no
    separate distinct pass, no basket self-join); the bounded pair
    expansion happens in-row over the sorted array, then one shuffle
    keys pair counts on the brand pair and one keys brand support.
    The fact⋈dim scan is paid exactly once.
    """
    from pypers_spark.functions.caching import tracked_persist

    # Persisted once (r11): the basket table feeds both the support
    # chain and the pair chain — without the persist each consumer
    # re-ran the post-shuffle collect_set aggregation (the scan+join
    # below the exchange was shared via ReusedExchange, the aggregation
    # above it was not), and AQE coalesced both consumers to 5 tasks.
    grp = tracked_persist(
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands")),
        "incremental.market_baskets",
    )
    n_orders = t["orders"].agg(F.count("*").alias("n_orders"))
    supp = (
        grp.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("supp"))
    )
    # In-row ordered-pair expansion: for brand i, pair with every later
    # brand in the sorted set — width-bounded (order width), so the
    # expansion is O(rows · w²) with small constant w, never a self-join.
    pair_expr = F.expr(
        "flatten(transform(brands, (x, i) -> "
        "transform(slice(brands, i + 2, size(brands)), "
        "y -> struct(x AS brand_a, y AS brand_b))))"
    )
    pairs = (
        grp.select(F.explode(pair_expr).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("pair_supp"))
        .filter(F.col("pair_supp") >= MB_MIN_SUPPORT)
    )
    sa = supp.select(F.col("p_brand").alias("brand_a"), F.col("supp").alias("supp_a"))
    sb = supp.select(F.col("p_brand").alias("brand_b"), F.col("supp").alias("supp_b"))
    lift = (
        F.col("pair_supp").cast("double")
        * F.col("n_orders")
        / (F.col("supp_a").cast("double") * F.col("supp_b"))
    )
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "pair_supp",
            "supp_a",
            "supp_b",
            rnd(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(MB_TOP_K)
    )


ORACLE_MARKET_BASKET = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(*) AS n_orders FROM orders),
supp AS (SELECT p_brand, count(*) AS supp FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS pair_supp
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING count(*) >= {MB_MIN_SUPPORT}
)
SELECT brand_a, brand_b, pair_supp,
       sa.supp AS supp_a, sb.supp AS supp_b,
       {duck_rnd('CAST(pair_supp AS DOUBLE) * n_orders / (CAST(sa.supp AS DOUBLE) * sb.supp)', 4)}
         AS lift
FROM pairs
JOIN supp sa ON pairs.brand_a = sa.p_brand
JOIN supp sb ON pairs.brand_b = sb.p_brand, n
ORDER BY lift DESC, brand_a, brand_b
LIMIT {MB_TOP_K}
"""

QUERIES["op_market_basket"] = op_market_basket
ORACLES["op_market_basket"] = ORACLE_MARKET_BASKET


# --- op_interval_overlap -----------------------------------------------------

IVL_A_MOD = 3  # promo intervals: every third order, 10 days
IVL_B_MOD = 5  # outage intervals: every fifth order, 15 days
IVL_A_DAYS = 10
IVL_B_DAYS = 15


def op_interval_overlap(t: dict[str, DataFrame]) -> DataFrame:
    """Interval-overlap temporal join (promo windows × outage windows
    per customer): the classic interval-intersection workload, blocked
    by MONTH grid cells — each interval registers in every month it
    touches, the join is an equi-join on (customer, month), and the
    exact `a.start ≤ b.end ∧ b.start ≤ a.end` predicate verifies
    inside the cell. Pairs deduplicate through min-month attribution
    (an interval pair meets in possibly many months; it counts once,
    in the first shared month) — all arithmetic on DATE/int days.

    This is the time-domain version of gs_radius_join's grid blocking:
    never an inequality-only join over the full fact table.
    """
    o = t["orders"]
    a = o.filter(F.col("o_orderkey") % IVL_A_MOD == 0).select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("a_id"),
        F.col("o_orderdate").cast("date").alias("a_start"),
        F.date_add(F.col("o_orderdate").cast("date"), IVL_A_DAYS).alias("a_end"),
    )
    b = o.filter(F.col("o_orderkey") % IVL_B_MOD == 0).select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("b_id"),
        F.col("o_orderdate").cast("date").alias("b_start"),
        F.date_add(F.col("o_orderdate").cast("date"), IVL_B_DAYS).alias("b_end"),
    )

    def cells(df: DataFrame, start: str, end: str) -> DataFrame:
        months = F.sequence(
            F.date_trunc("month", F.col(start)).cast("date"),
            F.date_trunc("month", F.col(end)).cast("date"),
            F.expr("INTERVAL 1 MONTH"),
        )
        return df.withColumn("cell", F.explode(months))

    pairs = (
        cells(a, "a_start", "a_end")
        .join(cells(b, "b_start", "b_end"), ["cust", "cell"])
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            & (F.col("a_id") != F.col("b_id"))
        )
        .groupBy("cust", "a_id", "b_id")
        .agg(
            F.min("cell").alias("first_cell"),
            F.first(
                F.datediff(
                    F.least(F.col("a_end"), F.col("b_end")),
                    F.greatest(F.col("a_start"), F.col("b_start")),
                )
                + 1
            ).alias("overlap_days"),
        )
    )
    return (
        pairs.groupBy(F.date_trunc("month", F.col("first_cell")).alias("month"))
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum("overlap_days").alias("total_overlap_days"),
            F.max("overlap_days").alias("max_overlap_days"),
        )
    )


ORACLE_INTERVAL_OVERLAP = f"""
WITH a AS (
  SELECT o_custkey AS cust, o_orderkey AS a_id,
         CAST(o_orderdate AS DATE) AS a_start,
         CAST(o_orderdate AS DATE) + {IVL_A_DAYS} AS a_end
  FROM orders WHERE o_orderkey % {IVL_A_MOD} = 0
),
b AS (
  SELECT o_custkey AS cust, o_orderkey AS b_id,
         CAST(o_orderdate AS DATE) AS b_start,
         CAST(o_orderdate AS DATE) + {IVL_B_DAYS} AS b_end
  FROM orders WHERE o_orderkey % {IVL_B_MOD} = 0
),
ac AS (
  SELECT a.*, unnest(generate_series(
           CAST(date_trunc('month', a_start) AS DATE),
           CAST(date_trunc('month', a_end) AS DATE),
           INTERVAL 1 MONTH))::DATE AS cell
  FROM a
),
bc AS (
  SELECT b.*, unnest(generate_series(
           CAST(date_trunc('month', b_start) AS DATE),
           CAST(date_trunc('month', b_end) AS DATE),
           INTERVAL 1 MONTH))::DATE AS cell
  FROM b
),
pairs AS (
  SELECT cust, a_id, b_id, min(cell) AS first_cell,
         first(least(a_end, b_end) - greatest(a_start, b_start) + 1)
           AS overlap_days
  FROM ac JOIN bc USING (cust, cell)
  WHERE a_start <= b_end AND b_start <= a_end AND a_id != b_id
  GROUP BY 1, 2, 3
)
SELECT date_trunc('month', first_cell) AS month,
       count(*) AS n_overlaps,
       CAST(sum(overlap_days) AS BIGINT) AS total_overlap_days,
       max(overlap_days) AS max_overlap_days
FROM pairs
GROUP BY 1
ORDER BY month
"""

QUERIES["op_interval_overlap"] = op_interval_overlap
ORACLES["op_interval_overlap"] = ORACLE_INTERVAL_OVERLAP


# --- op_dsr_export -----------------------------------------------------------

DSR_MOD = 37  # the subject keyset: user/customer ids ≡ 3 (mod 37)


def op_dsr_export(t: dict[str, DataFrame]) -> DataFrame:
    """Subject-access-request (DSR export) manifest: for the deletion/
    export keyset, count every row held about those subjects across
    the event stream and the order system — the per-table inventory a
    privacy officer attaches to a GDPR Art. 15 response
    (op_forget_user is the Art. 17 companion). Each leg is one
    broadcast-filterable scan aggregated to (table, metric) rows; the
    union is metadata-sized.
    """
    doomed_u = F.col("user_id") % DSR_MOD == 3
    doomed_c = F.col("o_custkey") % DSR_MOD == 3
    ev = t["events"].filter(doomed_u).agg(
        F.lit("events").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("user_id")).alias("n_subjects"),
        F.min("ts").cast("date").cast("string").alias("earliest"),
        F.max("ts").cast("date").cast("string").alias("latest"),
    )
    orders = t["orders"].filter(doomed_c).agg(
        F.lit("orders").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("o_custkey")).alias("n_subjects"),
        F.min("o_orderdate").cast("date").cast("string").alias("earliest"),
        F.max("o_orderdate").cast("date").cast("string").alias("latest"),
    )
    cust = t["customer"].filter(F.col("c_custkey") % DSR_MOD == 3).agg(
        F.lit("customer").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("c_custkey")).alias("n_subjects"),
        F.lit(None).cast("string").alias("earliest"),
        F.lit(None).cast("string").alias("latest"),
    )
    return ev.unionByName(orders).unionByName(cust)


ORACLE_DSR_EXPORT = f"""
SELECT 'customer' AS table_name, count(*) AS n_rows,
       count(DISTINCT c_custkey) AS n_subjects,
       NULL AS earliest, NULL AS latest
FROM customer WHERE c_custkey % {DSR_MOD} = 3
UNION ALL
SELECT 'events', count(*), count(DISTINCT user_id),
       CAST(CAST(min(ts) AS DATE) AS VARCHAR),
       CAST(CAST(max(ts) AS DATE) AS VARCHAR)
FROM events WHERE user_id % {DSR_MOD} = 3
UNION ALL
SELECT 'orders', count(*), count(DISTINCT o_custkey),
       CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR),
       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)
FROM orders WHERE o_custkey % {DSR_MOD} = 3
ORDER BY table_name
"""

QUERIES["op_dsr_export"] = op_dsr_export
ORACLES["op_dsr_export"] = ORACLE_DSR_EXPORT


# --- op_benford_check --------------------------------------------------------

# log10(1 + 1/d), d = 1..9 — embedded as double literals so both engines
# compare against the identical constants (no runtime log10 anywhere).
BENFORD_P = (
    0.30102999566398114,
    0.17609125905568124,
    0.12493873660829985,
    0.09691001300805638,
    0.07918124604762478,
    0.06694678963061318,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)


def op_benford_check(t: dict[str, DataFrame]) -> DataFrame:
    """Benford first-digit audit of order totals — the fraud/synthetic-
    data screen: observed leading-digit shares vs the Benford
    expectation, with the per-digit squared-deviation contribution
    (χ²-style, constants embedded as literals — no runtime log).
    One map-side digit extraction + one 9-group aggregation; the
    synthetic uniform-ish totals FAIL Benford loudly, which is the
    point of the audit (the flag demonstrates a detected anomaly, not
    a pass).
    """
    # Quantize to exact integer cents BEFORE stringifying: Java's
    # Double.toString flips to scientific notation at >=1e7 while
    # DuckDB's VARCHAR cast does not, so a raw double→string leading
    # digit would silently diverge outside the TPC-H price range.  The
    # leading digit of the cents integer equals the leading digit of
    # the price for any value >= 0.01 printed positionally.
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        t["orders"]
        .select(digit.alias("d"))
        .filter(F.col("d").between(1, 9))
        .groupBy("d")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    expected = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_P]), F.col("d")
    )
    obs = F.col("n").cast("double") / F.col("tot")
    dev = (obs - expected) * (obs - expected) / expected
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "d",
            "n",
            rnd(obs, 6).alias("observed"),
            rnd(expected, 6).alias("benford"),
            rnd(dev, 6).alias("chi2_term"),
        )
    )


# CAST each literal: DuckDB parses bare decimals as DECIMAL(18,17) and
# the rnd quantization's ×1e6 then overflows the decimal width.
_DUCK_BENFORD_ARR = (
    "[" + ", ".join(f"CAST({p!r} AS DOUBLE)" for p in BENFORD_P) + "]"
)

ORACLE_BENFORD_CHECK = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d,
         count(*) AS n
  FROM orders
  WHERE CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) BETWEEN 1 AND 9
  GROUP BY 1
),
tot AS (SELECT sum(n) AS tot FROM counts)
SELECT d, n,
       {duck_rnd('CAST(n AS DOUBLE) / tot', 6)} AS observed,
       {duck_rnd(f'{_DUCK_BENFORD_ARR}[d]', 6)} AS benford,
       {duck_rnd(f'(CAST(n AS DOUBLE) / tot - {_DUCK_BENFORD_ARR}[d])'
                 f' * (CAST(n AS DOUBLE) / tot - {_DUCK_BENFORD_ARR}[d])'
                 f' / ({_DUCK_BENFORD_ARR}[d])', 6)} AS chi2_term
FROM counts, tot
ORDER BY d
"""

QUERIES["op_benford_check"] = op_benford_check
ORACLES["op_benford_check"] = ORACLE_BENFORD_CHECK


# --- op_table_checksum -------------------------------------------------------

def op_table_checksum(t: dict[str, DataFrame]) -> DataFrame:
    """Order-independent table fingerprints — the replication-integrity
    primitive: per table, row count plus the modular sum of 60-bit row
    hashes (decimal accumulation, residue mod 2^61−1 — wrap-free at
    any row count, and the residue itself is a BIGINT). Two replicas
    agree iff counts and checksums agree; the checksum is mergeable
    per partition (sum), so a 100 TB comparison is one map-side pass
    per side. (dd_exact answers "which rows duplicate"; this answers
    "are these two tables byte-equal" in O(1) exchanged state.)
    """
    from pypers_spark.functions.hashing import md5_int64

    MOD = (1 << 61) - 1  # Mersenne modulus: the final residue fits int64

    def leg(df: DataFrame, name: str, key) -> DataFrame:
        # Accumulate the 60-bit hash sum in decimal(38,0) — a 100 TB
        # table has ~1e12 rows and an int64 sum would wrap at ~1e6 —
        # then reduce mod 2^61−1 so the published checksum is a BIGINT.
        # DuckDB's BIGINT sum promotes to HUGEINT, so the identical
        # modular residue comes out of both engines at any row count.
        h = md5_int64(key)
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            (F.sum(h.cast("decimal(38,0)")) % F.lit(MOD))
            .cast("bigint")
            .alias("checksum"),
        )

    # Doubles are quantized to fixed-point integer cents BEFORE the
    # string concat: Java's Double.toString switches to scientific
    # notation at >=1e7 / <1e-3 where DuckDB's VARCHAR cast does not,
    # so stringifying the raw double would silently break cross-engine
    # byte-equality outside the TPC-H value range — fatal for a
    # replication-integrity primitive.  Integer stringification is
    # positional in every engine.
    def cents(col: str):
        return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("bigint")

    o = leg(
        t["orders"],
        "orders",
        F.concat_ws("|", F.col("o_orderkey"), cents("o_totalprice")),
    )
    c = leg(
        t["customer"],
        "customer",
        F.concat_ws("|", F.col("c_custkey"), cents("c_acctbal")),
    )
    e = leg(
        t["events"],
        "events",
        F.concat_ws("|", F.col("event_id"), F.col("user_id")),
    )
    return o.unionByName(c).unionByName(e)


def _duck_checksum_leg(table: str, key: str) -> str:
    from pypers_spark.functions.hashing import duck_md5_int64

    return (
        f"SELECT '{table}' AS table_name, count(*) AS n_rows, "
        f"CAST(sum({duck_md5_int64(key)}) % {(1 << 61) - 1} AS BIGINT) "
        f"AS checksum FROM {table}"
    )


ORACLE_TABLE_CHECKSUM = f"""
{_duck_checksum_leg(
    "customer",
    "c_custkey || '|' || CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)",
)}
UNION ALL
{_duck_checksum_leg("events", "event_id || '|' || user_id")}
UNION ALL
{_duck_checksum_leg(
    "orders",
    "o_orderkey || '|' || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)",
)}
ORDER BY table_name
"""

QUERIES["op_table_checksum"] = op_table_checksum
ORACLES["op_table_checksum"] = ORACLE_TABLE_CHECKSUM


# --- op_changelog_compact (r8) ------------------------------------------------

CLC_UPD_MOD = 7   # keys receiving an Update op (price * 1.1)
CLC_DEL_MOD = 11  # keys receiving a Delete op (tombstone)


def op_changelog_compact(t: dict[str, DataFrame]) -> DataFrame:
    """CDC changelog compaction: replay an op-coded (I/U/D) change log
    down to latest state — last op per key wins by sequence number,
    tombstones drop the key — and emit the compaction report (ops
    read, live/deleted keys, winning-op census, exact live-value
    total). The batch twin of the streaming upsert sink, and the job
    every changelog-table (Debezium/Delta CDF-shaped) pipeline runs.

    The log is derived deterministically from orders: every key gets an
    Insert at seq 1; keys ≡0 mod {CLC_UPD_MOD} an Update (+10%) at seq
    2; keys ≡0 mod {CLC_DEL_MOD} a Delete at seq 3 — so both engines
    replay the identical log. One window keyed on the key column (the
    100 TB shuffle), one aggregation; the live-value total accumulates
    through the wide-decimal path (unbounded-cardinality sum of
    price-scale terms).
    """
    o = t["orders"].select("o_orderkey", "o_totalprice")
    ins = o.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("val"),
    )
    upd = o.filter(F.col("o_orderkey") % CLC_UPD_MOD == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * 1.1).alias("val"),
    )
    dele = o.filter(F.col("o_orderkey") % CLC_DEL_MOD == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(0.0).alias("val"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return latest.agg(
        F.count("*").alias("n_keys"),
        F.sum((F.col("op") != "D").cast("long")).alias("n_live"),
        F.sum((F.col("op") == "D").cast("long")).alias("n_deleted"),
        F.sum((F.col("op") == "I").cast("long")).alias("won_by_insert"),
        F.sum((F.col("op") == "U").cast("long")).alias("won_by_update"),
        rnd(
            dsum_wide(F.when(F.col("op") != "D", F.col("val")).otherwise(F.lit(0.0))),
            2,
        ).alias("live_value_total"),
    ).crossJoin(
        F.broadcast(log.agg(F.count("*").alias("n_ops")))
    ).select(
        "n_ops",
        "n_keys",
        "n_live",
        "n_deleted",
        "won_by_insert",
        "won_by_update",
        "live_value_total",
    )


ORACLE_CHANGELOG_COMPACT = f"""
WITH log AS (
  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op, o_totalprice AS val FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_totalprice * 1.1 FROM orders
  WHERE o_orderkey % {CLC_UPD_MOD} = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', 0.0 FROM orders
  WHERE o_orderkey % {CLC_DEL_MOD} = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT (SELECT count(*) FROM log) AS n_ops,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN op != 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS won_by_insert,
       CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS won_by_update,
       {duck_rnd(duck_dsum("CASE WHEN op != 'D' THEN val ELSE 0.0 END"), 2)}
         AS live_value_total
FROM latest
"""

QUERIES["op_changelog_compact"] = op_changelog_compact
ORACLES["op_changelog_compact"] = ORACLE_CHANGELOG_COMPACT
