"""pipe_lakehouse: the WRITE-side lakehouse maintenance pipeline.

The sixth composed pipeline (r7 verdict item #5): where pipe_curation
puts the dedup/quality READ path inside the correctness gate, this one
gates the write path — ingest a new table snapshot, land BOTH versions
as bucketed parquet tables (sources/bucketed.py), then run the three
maintenance jobs every lakehouse runs against what was actually
written and read back:

1. zone-map report (op_zone_map_prune's clustered pass) — data-skipping
   effectiveness of the landed layout against a fixed range predicate,
2. compaction plan (op_compaction_plan's greedy bin-packing) — how many
   input files the next OPTIMIZE folds into how many outputs,
3. snapshot diff (op_snapshot_diff's CDC classes) — added / removed /
   changed / unchanged vs the previous version, computed through an
   **Exchange-free co-located join**: both versions are bucketed on the
   key into the same bucket count, so the full-outer diff join reads
   bucket i of each side in one task with zero shuffle
   (tests/test_round8_ops.py pins the plan shape, matching
   tests/test_bucketed.py).

Everything downstream of the write depends only on LOGICAL content the
write round-trips losslessly, so the DuckDB oracle derives the same
report straight from the `orders` view — a silent write-path
corruption (dropped rows, mangled values, bucket misassignment) breaks
the value match.

At 100 TB: the snapshot write is the nightly ingest (bucketed so every
downstream key join is co-located), the zone-map/compaction reports are
file-cardinality metadata aggregates, and the diff join is scan-local.

Reference parity: repype stores every stage product as a versioned
on-disk artifact with marginal stripping (repype/task.py:1); this
pipeline is that store discipline re-expressed as lakehouse table
maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import rnd, duck_rnd
from pypers_spark.operators.incremental import (
    DEL_MOD,
    FILE_BUCKETS,
    INS_MOD,
    INS_SHIFT,
    ROW_BYTES,
    TARGET_BYTES,
    UPD_MOD,
    ZM_FILES,
    ZM_PRED_HI,
    ZM_PRED_LO,
)
from pypers_spark.stage import Stage

LH_BUCKETS = 8  # bucket count shared by both snapshot tables
LH_BASE_TABLE = "pypers_lh_base"
LH_SNAP_TABLE = "pypers_lh_snapshot"
# Per-process landing zone: concurrent sessions (test suite + sweep on
# one box) each land into their own directory — table names are already
# isolated per session catalog, but the external path is not.
LH_PATH = f"/tmp/pypers_spark_lakehouse_{os.getpid()}"


class IngestSnapshot(Stage):
    """Read the previous version (orders) and derive the deterministic
    next snapshot: deletes (mod {DEL_MOD}), +10% reprices (mod
    {UPD_MOD}), shifted-key inserts (mod {INS_MOD}) — the CDC fixture
    both engines derive identically, carried with the order date so the
    maintenance jobs can partition by month."""

    outputs = ("base", "snapshot")

    def process(self, pipeline, config, status=None, **inputs):
        from pypers_spark.session import current_session
        from pypers_spark.sources.io import read_parquet

        spark = current_session()
        o = read_parquet(spark, f'{config["sf_dir"]}/orders.parquet').select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").alias("odate"),
        )
        kept = o.filter(F.col("k") % DEL_MOD != 0).select(
            "k",
            F.when(F.col("k") % UPD_MOD == 0, F.col("price") * 1.1)
            .otherwise(F.col("price"))
            .alias("price"),
            "odate",
        )
        inserted = o.filter(F.col("k") % INS_MOD == 0).select(
            (F.col("k") + INS_SHIFT).alias("k"), "price", "odate"
        )
        return {"base": o, "snapshot": kept.unionByName(inserted)}


class BucketedLand(Stage):
    """Land both versions as bucketed, intra-bucket-sorted parquet
    tables on the SAME key and bucket count — the write-once shuffle
    that makes every downstream key join Exchange-free."""

    inputs = ("base", "snapshot")
    outputs = ("base_tbl", "snap_tbl")

    def process(self, pipeline, config, status=None, base=None, snapshot=None, **inputs):
        from pypers_spark.sources.bucketed import write_bucketed

        for df, tbl, sub in (
            (base, LH_BASE_TABLE, "base"),
            (snapshot, LH_SNAP_TABLE, "snapshot"),
        ):
            write_bucketed(
                df,
                tbl,
                n_buckets=LH_BUCKETS,
                bucket_cols=["k"],
                sort_cols=["k"],
                path=os.path.join(config.get("lh_path", LH_PATH), sub),
            )
        return {"base_tbl": LH_BASE_TABLE, "snap_tbl": LH_SNAP_TABLE}


class ZoneMapReport(Stage):
    """Zone-map skip effectiveness of the landed snapshot under the
    value-clustered layout (op_zone_map_prune's clustered pass) against
    the fixed [{ZM_PRED_LO}, {ZM_PRED_HI}] predicate — computed from the
    READ-BACK table, so the write is inside the gate."""

    inputs = ("snap_tbl",)
    outputs = ("zone_report",)

    def process(self, pipeline, config, status=None, snap_tbl=None, **inputs):
        from pypers_spark.session import current_session

        s = current_session().table(snap_tbl)
        bounds = s.agg(F.min("price").alias("lo"), F.max("price").alias("hi"))
        width = (F.col("hi") - F.col("lo")) / F.lit(float(ZM_FILES))
        inv = (
            s.crossJoin(F.broadcast(bounds))
            .select(
                "price",
                F.least(
                    F.floor((F.col("price") - F.col("lo")) / width).cast("bigint"),
                    F.lit(ZM_FILES - 1),
                ).alias("file_id"),
            )
            .groupBy("file_id")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("price").alias("zmin"),
                F.max("price").alias("zmax"),
            )
        )
        skippable = (F.col("zmax") < ZM_PRED_LO) | (F.col("zmin") > ZM_PRED_HI)
        report = inv.agg(
            F.count("*").alias("zm_files"),
            F.count(F.when(skippable, 1)).alias("zm_skipped"),
            F.sum(F.when(skippable, F.col("n_rows")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("zm_rows_skipped"),
            rnd(
                F.count(F.when(skippable, 1)).cast("double") / F.count("*"), 4
            ).alias("zm_skip_ratio"),
        )
        return {"zone_report": report}


class CompactionReport(Stage):
    """Greedy first-fit compaction plan over the landed snapshot's
    per-(month, file) inventory (op_compaction_plan's pass) — rolled up
    to how many inputs fold into how many planned outputs."""

    inputs = ("snap_tbl",)
    outputs = ("compaction_report",)

    def process(self, pipeline, config, status=None, snap_tbl=None, **inputs):
        from pypers_spark.session import current_session

        s = current_session().table(snap_tbl)
        inv = (
            s.groupBy(
                F.date_trunc("month", F.col("odate")).alias("p_month"),
                (F.col("k") % FILE_BUCKETS).alias("file_id"),
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
        report = planned.agg(
            F.count("*").alias("cp_input_files"),
            F.count_distinct("p_month", "out_file").alias("cp_output_files"),
            F.sum("bytes").cast("bigint").alias("cp_total_bytes"),
        )
        return {"compaction_report": report}


class SnapshotDiffReport(Stage):
    """CDC classification of snapshot vs base through the co-located
    full-outer join (zero Exchange: both tables bucketed on k into
    {LH_BUCKETS} buckets) — per-class counts pivoted to one row."""

    inputs = ("base_tbl", "snap_tbl")
    outputs = ("diff_report",)

    def process(
        self, pipeline, config, status=None, base_tbl=None, snap_tbl=None, **inputs
    ):
        from pypers_spark.session import current_session
        from pypers_spark.sources.bucketed import assert_colocated

        spark = current_session()
        assert_colocated(spark, base_tbl, snap_tbl)
        lt, st = spark.table(base_tbl), spark.table(snap_tbl)
        # same join shape as sources.bucketed.colocated_join, inlined so
        # the CASE can disambiguate the duplicate column names via the
        # parent DataFrame references
        joined = lt.join(st, lt["k"] == st["k"], "full_outer")
        classified = joined.select(
            F.when(lt["price"].isNull(), F.lit("added"))
            .when(st["price"].isNull(), F.lit("removed"))
            .when(lt["price"] != st["price"], F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type")
        )
        report = classified.agg(
            *[
                F.count(F.when(F.col("change_type") == c, 1)).alias(f"diff_{c}")
                for c in ("added", "removed", "changed", "unchanged")
            ]
        )
        return {"diff_report": report}


class LakehouseReport(Stage):
    """Assemble the one-row maintenance report (every partial is a
    1-row aggregate — broadcast cross-joins, no shuffle)."""

    consumes = ("zone_report", "compaction_report", "diff_report")
    outputs = ("report",)

    def process(
        self,
        pipeline,
        config,
        status=None,
        zone_report=None,
        compaction_report=None,
        diff_report=None,
        **inputs,
    ):
        report = (
            zone_report.crossJoin(F.broadcast(compaction_report))
            .crossJoin(F.broadcast(diff_report))
        )
        return {"report": report}


def pipe_lakehouse(t) -> DataFrame:
    """The whole lakehouse write-path pipeline as one oracled query,
    built through the actual Stage/Pipeline machinery (create_pipeline
    → process): ingest → bucketed land of both versions → zone-map /
    compaction / co-located CDC diff over the read-back tables → one
    wide report row."""
    from pypers_spark.config import Config
    from pypers_spark.pipeline import create_pipeline

    pipeline = create_pipeline(
        [
            IngestSnapshot(),
            BucketedLand(),
            ZoneMapReport(),
            CompactionReport(),
            SnapshotDiffReport(),
            LakehouseReport(),
        ]
    )
    config = Config({"ingest-snapshot": {"sf_dir": t._sf_dir}})
    data, _, _ = pipeline.process(input_id=1, config=config)
    return data["report"]


ORACLE_PIPE_LAKEHOUSE = f"""
WITH snapshot AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % {UPD_MOD} = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price,
         o_orderdate AS odate
  FROM orders WHERE o_orderkey % {DEL_MOD} != 0
  UNION ALL
  SELECT o_orderkey + {INS_SHIFT} AS k, o_totalprice AS price,
         o_orderdate AS odate
  FROM orders WHERE o_orderkey % {INS_MOD} = 0
),
bounds AS (SELECT min(price) AS lo, max(price) AS hi FROM snapshot),
zinv AS (
  SELECT least(CAST(floor((price - lo) / ((hi - lo) / {float(ZM_FILES)})) AS BIGINT),
               {ZM_FILES - 1}) AS file_id,
         count(*) AS n_rows, min(price) AS zmin, max(price) AS zmax
  FROM snapshot, bounds GROUP BY 1
),
zone AS (
  SELECT CAST(count(*) AS BIGINT) AS zm_files,
         CAST(sum(CASE WHEN zmax < {ZM_PRED_LO} OR zmin > {ZM_PRED_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS zm_skipped,
         CAST(sum(CASE WHEN zmax < {ZM_PRED_LO} OR zmin > {ZM_PRED_HI}
                       THEN n_rows ELSE 0 END) AS BIGINT) AS zm_rows_skipped,
         {duck_rnd(
             "sum(CASE WHEN zmax < " + str(ZM_PRED_LO) + " OR zmin > "
             + str(ZM_PRED_HI) + " THEN 1 ELSE 0 END) * 1.0 / count(*)", 4)}
           AS zm_skip_ratio
  FROM zinv
),
cinv AS (
  SELECT date_trunc('month', odate) AS p_month, k % {FILE_BUCKETS} AS file_id,
         count(*) AS n_rows, count(*) * {ROW_BYTES} AS bytes
  FROM snapshot GROUP BY 1, 2
),
planned AS (
  SELECT *,
         CAST(floor(coalesce(sum(bytes) OVER (
             PARTITION BY p_month ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {TARGET_BYTES}) AS BIGINT) AS out_file
  FROM cinv
),
compaction AS (
  SELECT CAST(count(*) AS BIGINT) AS cp_input_files,
         CAST(count(DISTINCT (p_month, out_file)) AS BIGINT) AS cp_output_files,
         CAST(sum(bytes) AS BIGINT) AS cp_total_bytes
  FROM planned
),
diff AS (
  SELECT CAST(sum(CASE WHEN p1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS diff_added,
         CAST(sum(CASE WHEN p2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS diff_removed,
         CAST(sum(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p1 != p2
                       THEN 1 ELSE 0 END) AS BIGINT) AS diff_changed,
         CAST(sum(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p1 = p2
                       THEN 1 ELSE 0 END) AS BIGINT) AS diff_unchanged
  FROM (
    SELECT b.o_totalprice AS p1, s.price AS p2
    FROM orders b FULL OUTER JOIN snapshot s ON b.o_orderkey = s.k
  )
)
SELECT zone.*, compaction.*, diff.* FROM zone, compaction, diff
"""

QUERIES = {"pipe_lakehouse": pipe_lakehouse}
ORACLES = {"pipe_lakehouse": ORACLE_PIPE_LAKEHOUSE}
