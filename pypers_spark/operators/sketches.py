"""Mergeable-sketch operators (SURVEY.md §2.D additions, round 4e).

The three sketch families every 100 TB aggregation layer ends up
shipping — implemented deterministically (md5→int64 base hash + affine
families, integer-exact accumulators) so DuckDB reproduces every
register, cell, and estimate bit-for-bit:

- ``sk_cms_heavy``  — Count-Min sketch (depth 4 × width 128) over the
  corpus word-3-gram stream; the exact top-20 heavy hitters are probed
  against the sketch, so the gate row checks both the cell table and
  the min-over-rows estimate (including real collision overestimates —
  ~16k distinct grams share 128 buckets per row).
- ``sk_hll_distinct`` — HyperLogLog (m=64 registers, standard
  α₆₄=0.709 raw estimator + linear-counting fallback) over the same
  stream; rho is derived from the hash's trailing-zero count via
  lowest-set-bit + log2, both engines bit-identical.
- ``sk_kmv_distinct`` — k-minimum-values (theta-sketch family, k=64):
  distinct-hash min-k via TakeOrderedAndProject, estimate
  (k−1)·2^60/h_k.

Why sketches when the engine can count exactly: at 100 TB the exact
count-distinct / heavy-hitter shuffle is the bottleneck; all three
sketches are ONE map-side pass producing a tiny mergeable state
(512 cells / 64 registers / 64 hashes) that partial-aggregates per
partition and merges associatively on the reduce side — the same
contract as Spark's own approx_count_distinct, but reproducible
cross-engine (Spark's HLL++ register layout is not portable, so the
oracle could never check it; this one is checked to the last bit).

Scale notes (100 TB intent):
- The gram/token stream is the classic inverted-index explode: grams
  are built from a materialized token array below a hash exchange
  (perf lesson 1 — lambdas must reference columns, not expression
  subtrees).
- CMS cell build: one hash aggregation keyed (row, bucket) — 512
  groups regardless of corpus size; partial aggregation makes the
  shuffle O(512 × partitions).
- HLL registers: one hash aggregation keyed bucket (64 groups); the
  register merge is max() — associative, partial-aggregated.
- KMV: orderBy(h).limit(k) plans as TakeOrderedAndProject — per-
  partition top-k map-side, k-row merge on the driver.
- Estimates join the tiny sketch tables back via broadcast; no
  second scan of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.hashing import (
    affine_hash,
    duck_affine_hash,
    duck_md5_int64,
    md5_int64,
)
from pypers_spark.functions.rounding import duck_rnd, rnd
from pypers_spark.functions.text import duck_normalize_text, normalize_text

QUERIES: dict = {}
ORACLES: dict = {}


# --- shared word-3-gram stream ----------------------------------------------


def _gram_rows(t: dict[str, DataFrame]) -> DataFrame:
    """One row per word-3-gram occurrence in ``documents`` (with repeats —
    CMS counts occurrences; HLL/KMV dedupe downstream).

    Token arrays are materialized below a hash exchange so the gram
    lambda references a COLUMN (perf lesson 1: inlining the normalize
    regex into the transform re-evaluates it per array element).
    """
    docs = t["documents"]
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        docs.select("doc_id", F.split(normalize_text(F.col("text")), " ").alias("tk"))
        .repartition(n, F.col("doc_id"))
        .filter(F.size("tk") >= 3)
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at(F.col("tk"), i),
        F.element_at(F.col("tk"), i + 1),
        F.element_at(F.col("tk"), i + 2),
    )
    return toks.select(
        F.explode(
            F.transform(F.sequence(F.lit(1), F.size("tk") - 2), lambda i: gram(i))
        ).alias("gram")
    )


def _shard_gram_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Per-(shard, gram) occurrence counts + base hash, persisted under
    ONE shared key (r11, guide §2.2 + §5): the FINEST-grained count
    table any sketch key needs — sk_cms_merge aggregates per shard,
    and everything else marginalizes the shard away. The exchange
    carries only distinct (shard, gram) rows (map-side partial), and
    because the groupBy exchange sits INSIDE the persisted plan, every
    consumer stage shares the one tokenize+explode map stage through
    the cached RDD lineage (work ABOVE a cache is what concurrent
    consumer branches duplicate — the dd_minhash_incremental lesson)."""
    from pypers_spark.functions.caching import tracked_persist

    docs = t["documents"]
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        docs.select("doc_id", F.split(normalize_text(F.col("text")), " ").alias("tk"))
        .repartition(n, F.col("doc_id"))
        .filter(F.size("tk") >= 3)
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at(F.col("tk"), i),
        F.element_at(F.col("tk"), i + 1),
        F.element_at(F.col("tk"), i + 2),
    )
    rows = toks.select(
        (F.col("doc_id") % CMSM_SHARDS).alias("shard"),
        F.explode(
            F.transform(F.sequence(F.lit(1), F.size("tk") - 2), lambda i: gram(i))
        ).alias("gram"),
    )
    return tracked_persist(
        rows.groupBy("shard", "gram")
        .agg(F.count("*").alias("occ_cnt"))
        .withColumn("h", md5_int64(F.col("gram"))),
        "sketches.shard_gram_counts",
    )


def _gram_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Per-gram occurrence counts + base hash, persisted under ONE
    shared key (r11, guide §5 caching rule): sk_cms_heavy,
    sk_hll_distinct and sk_kmv_distinct all derive from the word-3-gram
    stream; each used to re-run the tokenize + explode chain. The
    count table is vocabulary-cardinality, and every downstream readout
    (CMS cells sum occ_cnt, HLL registers and KMV mins are
    duplicate-insensitive, exact distinct = row count) is
    value-identical on it. Derived by marginalizing the shared SHARDED
    count table (sum over shards of per-shard counts = global count; h
    is functional in gram, so max() just carries it), so the trio and
    sk_cms_merge all pay ONE tokenize+explode between them."""
    from pypers_spark.functions.caching import tracked_persist

    return tracked_persist(
        _shard_gram_counts(t)
        .groupBy("gram")
        .agg(F.sum("occ_cnt").alias("occ_cnt"), F.max("h").alias("h")),
        "sketches.gram_counts",
    )


_DUCK_TOKS = f"string_split({duck_normalize_text('text')}, ' ')"

# DuckDB twin of the gram stream (1-based list indexing, [a, b) range).
_DUCK_GRAMS = f"""
toks AS (
  SELECT {_DUCK_TOKS} AS tk FROM documents
),
grams AS (
  SELECT unnest(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
         AS gram
  FROM toks WHERE len(tk) >= 3
)
"""


# --- sk_cms_heavy ------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 128
CMS_SEED = 200  # affine-family seeds CMS_SEED..CMS_SEED+CMS_DEPTH-1
CMS_TOP_K = 20


def _cms_probe_cols(h):
    """(row, bucket) struct per CMS row for a base-hash column."""
    return F.array(
        *[
            F.struct(
                F.lit(d).cast("bigint").alias("d"),
                (affine_hash(h, CMS_SEED + d) % CMS_WIDTH).alias("bucket"),
            )
            for d in range(CMS_DEPTH)
        ]
    )


def sk_cms_heavy(t: dict[str, DataFrame]) -> DataFrame:
    """Count-Min heavy-hitter readout: exact top-20 grams probed against
    the depth×width cell table; est = min over rows, always ≥ exact
    (CMS guarantees one-sided error — ``overest`` exposes collisions).
    """
    # Pre-aggregate per gram via the SHARED persisted count table (r11,
    # guide §2.3/§5): the gram stream fed TWO consumers here (cell
    # counts and exact top-k), each re-running the explode + tokenize
    # chain — and two sibling sketches re-ran it again. Only
    # vocabulary-cardinality rows cross the exchange; the CMS cell
    # table sums gram counts (identical to counting occurrences).
    gcnt = _gram_counts(t)
    cell = F.explode(_cms_probe_cols(F.col("h"))).alias("cell")
    cells = (
        gcnt.select("occ_cnt", cell)
        .select(
            F.col("cell.d").alias("d"),
            F.col("cell.bucket").alias("bucket"),
            "occ_cnt",
        )
        .groupBy("d", "bucket")
        .agg(F.sum("occ_cnt").alias("cell_cnt"))
    )
    top = (
        gcnt.select("gram", F.col("occ_cnt").alias("exact"), "h")
        .orderBy(F.desc("exact"), "gram")
        .limit(CMS_TOP_K)
    )
    probes = top.select("gram", "exact", F.explode(_cms_probe_cols(F.col("h"))).alias("cell"))
    return (
        probes.join(
            F.broadcast(cells),
            (probes["cell.d"] == cells["d"]) & (probes["cell.bucket"] == cells["bucket"]),
        )
        .groupBy("gram")
        .agg(F.max("exact").alias("exact"), F.min("cell_cnt").alias("est"))
        .withColumn("overest", F.col("est") - F.col("exact"))
    )


def _duck_cms_buckets(h_expr: str) -> str:
    whens = " ".join(
        f"WHEN d = {d} THEN ({duck_affine_hash(h_expr, CMS_SEED + d)}) % {CMS_WIDTH}"
        for d in range(CMS_DEPTH)
    )
    return f"CASE {whens} END"


ORACLE_CMS_HEAVY = f"""
WITH {_DUCK_GRAMS},
occ AS (SELECT gram, {duck_md5_int64('gram')} AS h FROM grams),
cells AS (
  SELECT d, {_duck_cms_buckets('h')} AS bucket, count(*) AS cell_cnt
  FROM occ, unnest(range(0, {CMS_DEPTH})) AS r(d)
  GROUP BY 1, 2
),
top AS (
  SELECT gram, count(*) AS exact, {duck_md5_int64('gram')} AS h
  FROM occ GROUP BY gram ORDER BY exact DESC, gram LIMIT {CMS_TOP_K}
),
probes AS (
  SELECT gram, exact, d, {_duck_cms_buckets('h')} AS bucket
  FROM top, unnest(range(0, {CMS_DEPTH})) AS r(d)
)
SELECT p.gram AS gram, max(p.exact) AS exact, min(c.cell_cnt) AS est,
       min(c.cell_cnt) - max(p.exact) AS overest
FROM probes p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.gram
ORDER BY exact DESC, gram
"""

QUERIES["sk_cms_heavy"] = sk_cms_heavy
ORACLES["sk_cms_heavy"] = ORACLE_CMS_HEAVY


# --- sk_hll_distinct ---------------------------------------------------------

HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers
HLL_W_BITS = 60 - HLL_P  # hash bits left after the bucket index
HLL_RHO_MAX = HLL_W_BITS + 1  # rho when the remaining bits are all zero
HLL_ALPHA = 0.709  # standard α for m=64 (Flajolet et al. 2007)


def hll_rho(w):
    """rho(w) = trailing zeros of the non-bucket hash bits + 1 (capped at
    RHO_MAX when w == 0) — shared by the batch sketch and the streaming
    register drain (st_hll_registers)."""
    return F.when(w == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.floor(F.log2(w.bitwiseAND(-w)) + F.lit(0.5)).cast("bigint") + 1
    )



def sk_hll_distinct(t: dict[str, DataFrame]) -> DataFrame:
    """HyperLogLog distinct-gram estimate vs the exact count, one row.

    rho = trailing zeros of the non-bucket hash bits + 1, via
    lowest-set-bit (w & −w) + log2 — log2 of an exact power of two is
    exact in both engines, and floor(+0.5) tolerates a half-ulp anyway.
    The harmonic-mean denominator Σ 2^−M[j] is computed as the exact
    integer Σ 2^(RHO_MAX − M[j]) ≤ 64·2^55 < 2^62 — order-independent.
    """
    # Shared per-gram count table (r11): HLL registers are max-merged,
    # so duplicate occurrences of a gram cannot change any register —
    # the distinct-gram rows of _gram_counts give identical registers
    # without re-running the tokenize + explode chain; exact distinct
    # is the table's row count.
    grams = _gram_counts(t)
    h = F.col("h")
    hashed = grams.select(
        (h % HLL_M).alias("bucket"), F.shiftright(h, HLL_P).alias("w")
    )
    regs = hashed.select("bucket", hll_rho(F.col("w")).alias("rho")).groupBy(
        "bucket"
    ).agg(F.max("rho").alias("m_reg"))
    spine = (
        grams.sparkSession.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("bucket"))
    )
    full = spine.join(F.broadcast(regs), "bucket", "left").select(
        F.coalesce(F.col("m_reg"), F.lit(0)).alias("m_reg")
    )
    sketch = full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - m_reg)")).alias("s"),
        F.count(F.when(F.col("m_reg") == 0, 1)).alias("v_zero"),
    )
    exact = grams.agg(F.count("*").alias("n_exact"))
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << HLL_RHO_MAX))
        / F.col("s").cast("double")
    )
    lin = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.greatest(F.col("v_zero"), F.lit(1)).cast("double")
    )
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (F.col("v_zero") > 0), lin).otherwise(raw)
    return sketch.crossJoin(F.broadcast(exact)).select(
        F.lit(HLL_M).alias("m"),
        F.col("n_exact"),
        rnd(raw, 4).alias("raw_est"),
        rnd(est, 4).alias("est"),
        rnd(
            F.abs(est - F.col("n_exact").cast("double")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


_DUCK_HLL_EST = f"""
  CAST({HLL_ALPHA} AS DOUBLE) * {float(HLL_M * HLL_M)} * {float(1 << HLL_RHO_MAX)}
  / CAST(s AS DOUBLE)
"""
_DUCK_HLL_LIN = (
    f"{float(HLL_M)} * ln({float(HLL_M)} / "
    f"CAST(greatest(v_zero, 1) AS DOUBLE))"
)
_DUCK_HLL_CHOSEN = f"""
  CASE WHEN ({_DUCK_HLL_EST}) <= {2.5 * HLL_M} AND v_zero > 0
       THEN {_DUCK_HLL_LIN} ELSE ({_DUCK_HLL_EST}) END
"""

ORACLE_HLL_DISTINCT = f"""
WITH {_DUCK_GRAMS},
hashed AS (
  SELECT ({duck_md5_int64('gram')}) % {HLL_M} AS bucket,
         ({duck_md5_int64('gram')}) >> {HLL_P} AS w
  FROM grams
),
regs AS (
  SELECT bucket,
         max(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                  ELSE CAST(floor(log2(w & (-w)) + 0.5) AS BIGINT) + 1 END) AS m_reg
  FROM hashed GROUP BY bucket
),
spine AS (SELECT unnest(range(0, {HLL_M})) AS bucket),
full_regs AS (
  SELECT coalesce(m_reg, 0) AS m_reg
  FROM spine LEFT JOIN regs ON spine.bucket = regs.bucket
),
sketch AS (
  SELECT sum((1::BIGINT) << ({HLL_RHO_MAX} - m_reg)) AS s,
         count(CASE WHEN m_reg = 0 THEN 1 END) AS v_zero
  FROM full_regs
),
exact AS (SELECT count(DISTINCT gram) AS n_exact FROM grams)
SELECT {HLL_M} AS m, n_exact,
       {duck_rnd(_DUCK_HLL_EST, 4)} AS raw_est,
       {duck_rnd(_DUCK_HLL_CHOSEN, 4)} AS est,
       {duck_rnd(f'abs(({_DUCK_HLL_CHOSEN}) - CAST(n_exact AS DOUBLE)) / n_exact', 6)}
         AS rel_err
FROM sketch, exact
"""

QUERIES["sk_hll_distinct"] = sk_hll_distinct
ORACLES["sk_hll_distinct"] = ORACLE_HLL_DISTINCT


# --- sk_kmv_distinct ---------------------------------------------------------

KMV_K = 64
_H_SPACE = float(1 << 60)  # md5_int64 range


def sk_kmv_distinct(t: dict[str, DataFrame]) -> DataFrame:
    """k-minimum-values distinct estimate (theta-sketch family):
    keep the k smallest distinct hashes, estimate (k−1)·2^60/h_k.
    orderBy+limit plans as TakeOrderedAndProject — per-partition
    map-side top-k, a k-row merge, never a global sort."""
    # Shared per-gram count table (r11): KMV needs distinct hashes; the
    # count table is distinct by gram already, one .distinct() on h
    # remains only to fold md5 collisions exactly as before.
    hs = _gram_counts(t).select("h").distinct()
    kmin = hs.orderBy("h").limit(KMV_K).agg(
        F.max("h").alias("kth_min_hash"), F.count("*").alias("k_eff")
    )
    exact = hs.agg(F.count("*").alias("n_exact"))
    est = (
        (F.col("k_eff") - 1).cast("double")
        * F.lit(_H_SPACE)
        / F.col("kth_min_hash").cast("double")
    )
    return kmin.crossJoin(F.broadcast(exact)).select(
        F.col("k_eff").alias("k"),
        F.col("n_exact"),
        F.col("kth_min_hash"),
        rnd(est, 4).alias("est"),
        rnd(
            F.abs(est - F.col("n_exact").cast("double")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


_DUCK_KMV_EST = (
    f"CAST(k_eff - 1 AS DOUBLE) * {_H_SPACE} / CAST(kth_min_hash AS DOUBLE)"
)

ORACLE_KMV_DISTINCT = f"""
WITH {_DUCK_GRAMS},
hs AS (SELECT DISTINCT {duck_md5_int64('gram')} AS h FROM grams),
kmin AS (
  SELECT max(h) AS kth_min_hash, count(*) AS k_eff
  FROM (SELECT h FROM hs ORDER BY h LIMIT {KMV_K})
),
exact AS (SELECT count(*) AS n_exact FROM hs)
SELECT k_eff AS k, n_exact, kth_min_hash,
       {duck_rnd(_DUCK_KMV_EST, 4)} AS est,
       {duck_rnd(f'abs(({_DUCK_KMV_EST}) - CAST(n_exact AS DOUBLE)) / n_exact', 6)}
         AS rel_err
FROM kmin, exact
"""

QUERIES["sk_kmv_distinct"] = sk_kmv_distinct
ORACLES["sk_kmv_distinct"] = ORACLE_KMV_DISTINCT


# --- sk_hist_quantile --------------------------------------------------------

HQ_BINS = 128
HQ_QS = (0.5, 0.95, 0.99)


def sk_hist_quantile(t: dict[str, DataFrame]) -> DataFrame:
    """Equi-width histogram quantile sketch over order totals: 128 bin
    counts (mergeable — bins sum associatively across partitions /
    partial states) interpolated at p50/p95/p99, next to the exact
    interpolated percentile for the measured-accuracy readout.

    The crossing bin (first cumulative count ≥ q·n) is found by
    struct-min over the ≤128-row bin table — the corpus is scanned
    once for bounds and once for counts; everything downstream is
    sketch-sized and broadcast.
    """
    from pypers_spark.functions.percentile import exact_percentiles

    vals = t["orders"].select(F.col("o_totalprice").alias("x"))
    bounds = exact_percentiles(
        vals,
        "x",
        [(0.5, "_e50"), (0.95, "_e95"), (0.99, "_e99")],
        count_alias="n",
        extra_aggs={"lo": F.min(F.col("x")), "hi": F.max(F.col("x"))},
    ).select(
        "lo",
        "hi",
        "n",
        rnd(F.col("_e50"), 4).alias("ex50"),
        rnd(F.col("_e95"), 4).alias("ex95"),
        rnd(F.col("_e99"), 4).alias("ex99"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(HQ_BINS))
    binned = (
        vals.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("x") - F.col("lo")) / width).cast("bigint"),
                F.lit(HQ_BINS - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.withColumn("cum", F.sum("cnt").over(w))
    qs = (
        vals.sparkSession.range(1)
        .select(F.explode(F.array(*[F.lit(q) for q in HQ_QS])).alias("q"))
    )
    crossing = (
        qs.crossJoin(F.broadcast(cum))
        .crossJoin(F.broadcast(bounds.select("lo", "hi", "n", "ex50", "ex95", "ex99")))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.min(F.struct("bin", "cum", "cnt")).alias("c"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            F.first("n").alias("n"),
            F.first("ex50").alias("ex50"),
            F.first("ex95").alias("ex95"),
            F.first("ex99").alias("ex99"),
        )
    )
    width2 = (F.col("hi") - F.col("lo")) / F.lit(float(HQ_BINS))
    est = F.col("lo") + width2 * (
        F.col("c.bin").cast("double")
        + (F.col("q") * F.col("n") - (F.col("c.cum") - F.col("c.cnt")).cast("double"))
        / F.col("c.cnt").cast("double")
    )
    exact = (
        F.when(F.col("q") == 0.5, F.col("ex50"))
        .when(F.col("q") == 0.95, F.col("ex95"))
        .otherwise(F.col("ex99"))
    )
    return crossing.select(
        "q",
        rnd(est, 4).alias("est"),
        exact.alias("exact"),
        rnd(F.abs(rnd(est, 4) - exact) / exact, 6).alias("rel_err"),
    )


_DUCK_HQ_EST = f"""
  lo + ((hi - lo) / {float(HQ_BINS)}) * (
    CAST(bin AS DOUBLE)
    + (q * n - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
"""

ORACLE_HIST_QUANTILE = f"""
WITH vals AS (SELECT o_totalprice AS x FROM orders),
bounds AS (
  SELECT min(x) AS lo, max(x) AS hi, count(*) AS n,
         {duck_rnd('quantile_cont(x, 0.5)', 4)} AS ex50,
         {duck_rnd('quantile_cont(x, 0.95)', 4)} AS ex95,
         {duck_rnd('quantile_cont(x, 0.99)', 4)} AS ex99
  FROM vals
),
binned AS (
  SELECT least(CAST(floor((x - lo) / ((hi - lo) / {float(HQ_BINS)})) AS BIGINT),
               {HQ_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM vals, bounds GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         CAST(sum(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM binned
),
qs AS (SELECT unnest([{', '.join(str(q) for q in HQ_QS)}]) AS q),
crossing AS (
  SELECT q, min(bin) AS bin FROM qs, cum, bounds
  WHERE cum >= q * n GROUP BY q
),
pick AS (
  SELECT q, c.bin AS bin, c.cum AS cum, c.cnt AS cnt, lo, hi, n,
         ex50, ex95, ex99
  FROM crossing JOIN cum c USING (bin), bounds
)
SELECT q, {duck_rnd(_DUCK_HQ_EST, 4)} AS est,
       CASE WHEN q = 0.5 THEN ex50 WHEN q = 0.95 THEN ex95 ELSE ex99 END AS exact,
       {duck_rnd(
           f'abs({duck_rnd(_DUCK_HQ_EST, 4)} - '
           'CASE WHEN q = 0.5 THEN ex50 WHEN q = 0.95 THEN ex95 ELSE ex99 END) / '
           'CASE WHEN q = 0.5 THEN ex50 WHEN q = 0.95 THEN ex95 ELSE ex99 END', 6)}
         AS rel_err
FROM pick
ORDER BY q
"""

QUERIES["sk_hist_quantile"] = sk_hist_quantile
ORACLES["sk_hist_quantile"] = ORACLE_HIST_QUANTILE


# --- sk_join_cardinality -----------------------------------------------------

JC_SEED = 300  # CMS family for the join estimator (distinct from CMS_SEED)
JC_WIDTH = 4096  # wider than CMS_WIDTH: inner-product error ~ n_a*n_b/width,
# so the join estimator needs width >> distinct keys where the heavy-hitter
# probe only needs width >> k


def sk_join_cardinality(t: dict[str, DataFrame]) -> DataFrame:
    """Join-size estimation by Count-Min inner product (the AMS/CMS
    optimizer statistic): |A ⋈ B| on a many-to-many key is estimated as
    min_d Σ_b cmsA[d][b]·cmsB[d][b] — computable from two tiny sketches
    without touching either table again, and a guaranteed overestimate
    (bucket collisions only add cross terms).

    Sides: events.user_id vs orders.o_custkey (genuinely many-to-many).
    The exact cardinality Σ_k cntA(k)·cntB(k) — what the estimate is
    judged against — is one join of the two per-key count tables (key
    cardinality, not row cardinality). Each CMS build is one hash
    aggregation to {CMS_DEPTH}×{JC_WIDTH} cells; the inner product is a
    {JC_WIDTH}-row broadcast join per depth. At 100 TB the sketches are
    maintained incrementally at ingest (cell counts sum) and the
    estimator never scans the facts at all.
    """

    # Build the sketches from the PER-KEY COUNT tables, not the raw fact
    # rows (r11, guide §2.3 "aggregate before you shuffle"): the r10 form
    # exploded CMS_DEPTH structs per FACT ROW and shuffled 4x|events|
    # rows; the per-key aggregation is map-side partial, so only key
    # cardinality crosses the exchange, the depth explode runs over the
    # skinny key table, and the SAME count tables feed the exact
    # cardinality below — the two consumers of each count table share
    # the aggregation's exchange via ReusedExchange (no persist: the
    # tables are key-cardinality and the rebuild above the shared
    # exchange is one trivial final aggregation).
    ca = t["events"].groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").alias("na")
    )
    cb = t["orders"].groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("nb")
    )

    def cms_of(keys: DataFrame, cnt: str) -> DataFrame:
        h = md5_int64(F.col("k"))
        cell = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("bigint").alias("d"),
                        (affine_hash(h, JC_SEED + d) % JC_WIDTH).alias("bucket"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("cell")
        return (
            keys.select(F.col(cnt).alias("kc"), cell)
            .select(
                F.col("cell.d").alias("d"),
                F.col("cell.bucket").alias("bucket"),
                "kc",
            )
            .groupBy("d", "bucket")
            .agg(F.sum("kc").alias("cnt"))
        )
    cms_a = cms_of(ca, "na")
    cms_b = cms_of(cb, "nb")
    # Decimal accumulation: at 100 TB cell counts reach ~1e10 and the
    # per-cell product ~1e20 — past int64. decimal(38,0) keeps the
    # inner product exact at any scale (DuckDB's BIGINT sum already
    # promotes to HUGEINT; the CAST AS BIGINT there matches this).
    est = (
        cms_a.alias("a")
        .join(
            F.broadcast(cms_b.alias("b")),
            (F.col("a.d") == F.col("b.d")) & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(
            F.sum(
                F.col("a.cnt").cast("decimal(19,0)") * F.col("b.cnt")
            )
            .cast("bigint")
            .alias("est_card")
        )
    )
    exact = ca.join(cb, "k").agg(
        F.sum(F.col("na") * F.col("nb")).alias("exact_card")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "d",
            "est_card",
            "exact_card",
            (F.col("est_card") - F.col("exact_card")).alias("overest"),
        )
    )


def _duck_jc_cms(table: str, key: str) -> str:
    return f"""
  SELECT d, {_duck_cms_buckets_seeded(duck_md5_int64(key), JC_SEED)} AS bucket,
         count(*) AS cnt
  FROM {table}, unnest(range(0, {CMS_DEPTH})) AS r(d)
  GROUP BY 1, 2
"""


def _duck_cms_buckets_seeded(h_expr: str, seed: int, width: int = JC_WIDTH) -> str:
    whens = " ".join(
        f"WHEN d = {d} THEN ({duck_affine_hash(h_expr, seed + d)}) % {width}"
        for d in range(CMS_DEPTH)
    )
    return f"CASE {whens} END"


ORACLE_JOIN_CARDINALITY = f"""
WITH cms_a AS ({_duck_jc_cms('events', 'user_id')}),
cms_b AS ({_duck_jc_cms('orders', 'o_custkey')}),
est AS (
  SELECT a.d AS d, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS est_card
  FROM cms_a a JOIN cms_b b ON a.d = b.d AND a.bucket = b.bucket
  GROUP BY 1
),
ca AS (SELECT user_id AS k, count(*) AS na FROM events GROUP BY 1),
cb AS (SELECT o_custkey AS k, count(*) AS nb FROM orders GROUP BY 1),
exact AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS exact_card FROM ca JOIN cb USING (k)
)
SELECT d, est_card, exact_card, est_card - exact_card AS overest
FROM est, exact
ORDER BY d
"""

QUERIES["sk_join_cardinality"] = sk_join_cardinality
ORACLES["sk_join_cardinality"] = ORACLE_JOIN_CARDINALITY


# --- sk_hll_grouped ----------------------------------------------------------

HLLG_P = 8
HLLG_M = 1 << HLLG_P  # 256 registers: per-type cardinality (~150) sits in
# the linear-counting regime, so the fallback branch -- dead in the
# corpus-wide sketch -- is genuinely exercised here
HLLG_W_BITS = 60 - HLLG_P
HLLG_RHO_MAX = HLLG_W_BITS + 1
HLLG_ALPHA = 0.7213 / (1 + 1.079 / HLLG_M)  # Flajolet alpha_m for m >= 128

_DUCK_HLLG_EST = f"""
  CAST({HLLG_ALPHA!r} AS DOUBLE) * {float(HLLG_M * HLLG_M)} * {float(1 << HLLG_RHO_MAX)}
  / CAST(s AS DOUBLE)
"""
_DUCK_HLLG_LIN = (
    f"{float(HLLG_M)} * ln({float(HLLG_M)} / "
    f"CAST(greatest(v_zero, 1) AS DOUBLE))"
)
_DUCK_HLLG_CHOSEN = f"""
  CASE WHEN ({_DUCK_HLLG_EST}) <= {2.5 * HLLG_M} AND v_zero > 0
       THEN {_DUCK_HLLG_LIN} ELSE ({_DUCK_HLLG_EST}) END
"""


def hll_rho_g(w):
    """rho for the grouped sketch's {HLLG_P}-bit bucket split."""
    return F.when(w == 0, F.lit(HLLG_RHO_MAX)).otherwise(
        F.floor(F.log2(w.bitwiseAND(-w)) + F.lit(0.5)).cast("bigint") + 1
    )



def sk_hll_grouped(t: dict[str, DataFrame]) -> DataFrame:
    """Per-group HyperLogLog: distinct users per event type from 64
    registers per group — the GROUPed form every "distinct users per
    day/segment" dashboard ships at 100 TB (state: groups × 64 rows,
    mergeable by max). At this corpus's per-type cardinality (~150
    users) the sketch sits in the linear-counting regime, so the
    fallback branch — dead in the corpus-wide sk_hll_distinct — is
    exercised non-vacuously here, next to the exact count for the
    accuracy readout.
    """
    ev = t["events"]
    h = md5_int64(F.col("user_id"))
    regs = (
        ev.select(
            "event_type",
            (h % HLLG_M).alias("bucket"),
            F.shiftright(h, HLLG_P).alias("w"),
        )
        .select("event_type", "bucket", hll_rho_g(F.col("w")).alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_reg"))
    )
    types = ev.select("event_type").distinct()
    spine = types.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(HLLG_M - 1))).alias("bucket"),
    )
    full = spine.join(regs, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce(F.col("m_reg"), F.lit(0)).alias("m_reg")
    )
    sketch = full.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLLG_RHO_MAX} - m_reg)")).alias("s"),
        F.count(F.when(F.col("m_reg") == 0, 1)).alias("v_zero"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    raw = (
        F.lit(HLLG_ALPHA)
        * F.lit(float(HLLG_M * HLLG_M))
        * F.lit(float(1 << HLLG_RHO_MAX))
        / F.col("s").cast("double")
    )
    lin = F.lit(float(HLLG_M)) * F.log(
        F.lit(float(HLLG_M)) / F.greatest(F.col("v_zero"), F.lit(1)).cast("double")
    )
    est = F.when((raw <= F.lit(2.5 * HLLG_M)) & (F.col("v_zero") > 0), lin).otherwise(raw)
    return (
        sketch.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            F.lit(HLLG_M).alias("m"),
            F.col("n_exact"),
            rnd(est, 4).alias("est"),
            rnd(
                F.abs(est - F.col("n_exact").cast("double")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )


ORACLE_HLL_GROUPED = f"""
WITH hashed AS (
  SELECT event_type,
         ({duck_md5_int64('user_id')}) % {HLLG_M} AS bucket,
         ({duck_md5_int64('user_id')}) >> {HLLG_P} AS w
  FROM events
),
regs AS (
  SELECT event_type, bucket,
         max(CASE WHEN w = 0 THEN {HLLG_RHO_MAX}
                  ELSE CAST(floor(log2(w & (-w)) + 0.5) AS BIGINT) + 1 END) AS m_reg
  FROM hashed GROUP BY 1, 2
),
spine AS (
  SELECT event_type, b.bucket
  FROM (SELECT DISTINCT event_type FROM events),
       (SELECT unnest(range(0, {HLLG_M})) AS bucket) b
),
full_regs AS (
  SELECT spine.event_type AS event_type, coalesce(m_reg, 0) AS m_reg
  FROM spine LEFT JOIN regs
    ON spine.event_type = regs.event_type AND spine.bucket = regs.bucket
),
sketch AS (
  SELECT event_type,
         sum((1::BIGINT) << ({HLLG_RHO_MAX} - m_reg)) AS s,
         count(CASE WHEN m_reg = 0 THEN 1 END) AS v_zero
  FROM full_regs GROUP BY 1
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
)
SELECT sketch.event_type AS event_type, {HLLG_M} AS m, n_exact,
       {duck_rnd(_DUCK_HLLG_CHOSEN, 4)} AS est,
       {duck_rnd(f'abs(({_DUCK_HLLG_CHOSEN}) - CAST(n_exact AS DOUBLE)) / n_exact', 6)}
         AS rel_err
FROM sketch JOIN exact ON sketch.event_type = exact.event_type
ORDER BY event_type
"""

QUERIES["sk_hll_grouped"] = sk_hll_grouped
ORACLES["sk_hll_grouped"] = ORACLE_HLL_GROUPED


# --- sk_kmv_set_ops ----------------------------------------------------------

KSO_K = 64


def sk_kmv_set_ops(t: dict[str, DataFrame]) -> DataFrame:
    """Theta-sketch set operations — the reason KMV sketches exist:
    union and intersection cardinality of two sets estimated from two
    64-hash sketches alone, next to the exact answers.

    Sets: distinct (user, day) pairs with a 'click' vs with a
    'purchase' (the "did both on the same day" audience-overlap
    question). Union: min-k of the merged sketches. Intersection:
    θ = min(θ_A, θ_B); common hashes below θ are a uniform sample of
    A∩B at rate θ/2^60, so est = |common < θ| · 2^60 / θ — all exact
    integer/double arithmetic, both engines identical.
    """
    ev = t["events"]
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.date_trunc("day", F.col("ts")).cast("date").cast("string"),
    )
    def sketch(typ: str) -> DataFrame:
        hs = (
            ev.filter(F.col("event_type") == typ)
            .select(md5_int64(key).alias("h"))
            .distinct()
        )
        return hs
    a, b = sketch("click"), sketch("purchase")
    mink = lambda df: df.orderBy("h").limit(KSO_K)  # noqa: E731
    ka, kb = mink(a), mink(b)
    theta_a = ka.agg(F.max("h").alias("ta"), F.count("*").alias("na_k"))
    theta_b = kb.agg(F.max("h").alias("tb"), F.count("*").alias("nb_k"))
    union_k = mink(ka.unionByName(kb).distinct())
    union_est = union_k.agg(F.max("h").alias("tu"), F.count("*").alias("nu_k"))
    common = ka.join(kb, "h")  # hashes in both sketches
    thetas = theta_a.crossJoin(theta_b).select(
        F.least(F.col("ta"), F.col("tb")).alias("theta"), "ta", "tb"
    )
    n_common = (
        common.crossJoin(F.broadcast(thetas))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        a.withColumn("s", F.lit(1))
        .unionByName(b.withColumn("s", F.lit(2)))
        .groupBy("h")
        .agg(F.count_distinct("s").alias("ns"))
        .agg(
            F.count("*").alias("exact_union"),
            F.count(F.when(F.col("ns") == 2, 1)).alias("exact_inter"),
        )
    )
    est_u = (
        (F.col("nu_k") - 1).cast("double") * F.lit(_H_SPACE) / F.col("tu")
    )
    est_i = (
        F.col("n_common").cast("double")
        * F.lit(_H_SPACE)
        / F.col("theta").cast("double")
    )
    return (
        union_est.crossJoin(F.broadcast(thetas))
        .crossJoin(F.broadcast(n_common))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KSO_K).alias("k"),
            F.col("exact_union"),
            rnd(est_u, 4).alias("est_union"),
            F.col("exact_inter"),
            rnd(est_i, 4).alias("est_inter"),
            rnd(
                F.abs(est_u - F.col("exact_union").cast("double"))
                / F.col("exact_union"),
                6,
            ).alias("union_rel_err"),
        )
    )


_DUCK_KSO_KEY = (
    "CAST(user_id AS VARCHAR) || ':' || "
    "CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)"
)

ORACLE_KMV_SET_OPS = f"""
WITH a AS (
  SELECT DISTINCT {duck_md5_int64(_DUCK_KSO_KEY)} AS h
  FROM events WHERE event_type = 'click'
),
b AS (
  SELECT DISTINCT {duck_md5_int64(_DUCK_KSO_KEY)} AS h
  FROM events WHERE event_type = 'purchase'
),
ka AS (SELECT h FROM a ORDER BY h LIMIT {KSO_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {KSO_K}),
theta_ab AS (
  SELECT least((SELECT max(h) FROM ka), (SELECT max(h) FROM kb)) AS theta
),
union_k AS (
  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT {KSO_K}
),
union_est AS (SELECT max(h) AS tu, count(*) AS nu_k FROM union_k),
n_common AS (
  SELECT count(*) AS n_common
  FROM ka JOIN kb USING (h), theta_ab WHERE h < theta
),
exact AS (
  SELECT count(*) AS exact_union,
         count(CASE WHEN ns = 2 THEN 1 END) AS exact_inter
  FROM (
    SELECT h, count(DISTINCT s) AS ns FROM (
      SELECT h, 1 AS s FROM a UNION ALL SELECT h, 2 AS s FROM b
    ) GROUP BY h
  )
)
SELECT {KSO_K} AS k, exact_union,
       {duck_rnd(f'CAST(nu_k - 1 AS DOUBLE) * {_H_SPACE} / tu', 4)} AS est_union,
       exact_inter,
       {duck_rnd(f'CAST(n_common AS DOUBLE) * {_H_SPACE} / CAST(theta AS DOUBLE)', 4)}
         AS est_inter,
       {duck_rnd(f'abs(CAST(nu_k - 1 AS DOUBLE) * {_H_SPACE} / tu'
                 f' - CAST(exact_union AS DOUBLE)) / exact_union', 6)}
         AS union_rel_err
FROM union_est, theta_ab, n_common, exact
"""

QUERIES["sk_kmv_set_ops"] = sk_kmv_set_ops
ORACLES["sk_kmv_set_ops"] = ORACLE_KMV_SET_OPS


# --- sk_ks_stat --------------------------------------------------------------

KS_BINS = 64


def sk_ks_stat(t: dict[str, DataFrame]) -> DataFrame:
    """Histogram-approximate two-sample Kolmogorov–Smirnov statistic
    between the 'click' and 'purchase' value distributions:
    D = max_bins |F̂_A − F̂_B| over {KS_BINS} shared equi-width bins.

    The exact KS needs a global sort of the pooled sample — at 100 TB
    you compute it from the mergeable histogram instead (error ≤ one
    bin's mass), exactly as sk_hist_quantile approximates percentiles.
    Complements ev_psi_drift: KS is the max-gap statistic, PSI the
    mass-weighted divergence. Cumulative sums run over the 64-row bin
    table; everything corpus-sized is the two binned aggregations.
    """
    ev = t["events"].filter(F.col("event_type").isin("click", "purchase"))
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(KS_BINS))
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("bigint"),
                F.lit(KS_BINS - 1),
            ).alias("bin"),
            (F.col("event_type") == "click").alias("is_a"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
            F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.select(
        "bin",
        F.sum("n_a").over(w).alias("ca"),
        F.sum("n_b").over(w).alias("cb"),
    )
    totals = binned.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    gap = F.abs(
        F.col("ca").cast("double") / F.col("ta")
        - F.col("cb").cast("double") / F.col("tb")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(gap.alias("gap"), "ta", "tb")
        .agg(
            F.first("ta").alias("n_a"),
            F.first("tb").alias("n_b"),
            rnd(F.max("gap"), 6).alias("ks_d"),
        )
    )


ORACLE_KS_STAT = f"""
WITH ev AS (
  SELECT value, event_type = 'click' AS is_a
  FROM events WHERE event_type IN ('click', 'purchase')
),
bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
binned AS (
  SELECT least(CAST(floor((value - lo) / ((hi - lo) / {float(KS_BINS)}))
                    AS BIGINT), {KS_BINS - 1}) AS bin,
         count(CASE WHEN is_a THEN 1 END) AS n_a,
         count(CASE WHEN NOT is_a THEN 1 END) AS n_b
  FROM ev, bounds GROUP BY 1
),
cum AS (
  SELECT bin,
         sum(n_a) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ca,
         sum(n_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cb
  FROM binned
),
totals AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM binned)
SELECT CAST(first(ta) AS BIGINT) AS n_a, CAST(first(tb) AS BIGINT) AS n_b,
       {duck_rnd('max(abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb))', 6)}
         AS ks_d
FROM cum, totals
"""

QUERIES["sk_ks_stat"] = sk_ks_stat
ORACLES["sk_ks_stat"] = ORACLE_KS_STAT


# --- sk_moments --------------------------------------------------------------


def sk_moments(t: dict[str, DataFrame]) -> DataFrame:
    """Mergeable higher-moment sketch per event type: (n, Σx, Σx², Σx³,
    Σx⁴) folds associatively like every other sketch in this module, and
    the readout derives mean / population variance / skewness / excess
    kurtosis — the one-pass distribution-shape profile a drift monitor
    keeps per metric (KS/PSI need a reference; moments are standalone).

    Exactness: the four power sums go through ``dsum_wide`` (1e-6
    integer-decimal — x⁴ terms reach ~6e16 in quantum units at value
    ≈ 490, past int64 for big groups; the decimal path is exact to
    ~1e31 and order-free), so both engines derive the moments from
    IDENTICAL doubles with an identical association order, and sqrt is
    correctly-rounded IEEE. Zero-variance groups emit NULL shape stats
    explicitly in both engines. One hash aggregation, map-side
    combined; state is 5 numbers per (type) regardless of corpus size.
    """
    from pypers_spark.functions.rounding import dsum_wide

    x = F.col("value")
    agg = (
        t["events"]
        .select("event_type", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum_wide(F.col("x")).alias("s1"),
            dsum_wide(F.col("x") * F.col("x")).alias("s2"),
            dsum_wide(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
            dsum_wide(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
        )
    )
    mean = F.col("s1") / F.col("n")
    ex2 = F.col("s2") / F.col("n")
    ex3 = F.col("s3") / F.col("n")
    ex4 = F.col("s4") / F.col("n")
    var = ex2 - mean * mean
    m3 = ex3 - 3 * mean * ex2 + 2 * mean * mean * mean
    m4 = (
        ex4
        - 4 * mean * ex3
        + 6 * mean * mean * ex2
        - 3 * mean * mean * mean * mean
    )
    return (
        agg.select(
            "event_type",
            "n",
            rnd(mean, 6).alias("mean"),
            rnd(var, 6).alias("var_pop"),
            F.when(
                var > 0, rnd(m3 / (F.sqrt(var) * F.sqrt(var) * F.sqrt(var)), 4)
            ).alias("skewness"),
            F.when(var > 0, rnd(m4 / (var * var) - 3, 4)).alias("kurtosis"),
        )
    )


def _finalize_moments_oracle() -> str:
    from pypers_spark.functions.rounding import duck_dsum

    return f"""
WITH agg AS (
  SELECT event_type, count(*) AS n,
         {duck_dsum('value')} AS s1,
         {duck_dsum('value * value')} AS s2,
         {duck_dsum('value * value * value')} AS s3,
         {duck_dsum('value * value * value * value')} AS s4
  FROM events GROUP BY 1
),
m AS (
  SELECT event_type, n,
         s1 / n AS mean, s2 / n AS ex2, s3 / n AS ex3, s4 / n AS ex4
  FROM agg
),
st AS (
  SELECT event_type, n, mean,
         ex2 - mean * mean AS var_pop,
         ex3 - 3 * mean * ex2 + 2 * mean * mean * mean AS m3,
         ex4 - 4 * mean * ex3 + 6 * mean * mean * ex2
             - 3 * mean * mean * mean * mean AS m4
  FROM m
)
SELECT event_type, n,
       {duck_rnd('mean', 6)} AS mean,
       {duck_rnd('var_pop', 6)} AS var_pop,
       CASE WHEN var_pop > 0 THEN
         {duck_rnd('m3 / (sqrt(var_pop) * sqrt(var_pop) * sqrt(var_pop))', 4)}
       END AS skewness,
       CASE WHEN var_pop > 0 THEN
         {duck_rnd('m4 / (var_pop * var_pop) - 3', 4)}
       END AS kurtosis
FROM st
ORDER BY event_type
"""


QUERIES["sk_moments"] = sk_moments
ORACLES["sk_moments"] = _finalize_moments_oracle()


# --- sk_bloom_fpr (r8) --------------------------------------------------------

BF_BITS = 4096  # filter size (the dd_bloom_admit demo geometry)
BF_K = 2        # hash functions


def sk_bloom_fpr(t: dict[str, DataFrame]) -> DataFrame:
    """Measured Bloom-filter false-positive rate: build the
    {BF_BITS}-bit/{BF_K}-hash filter over the corpus's distinct content
    fingerprints, then probe it with an equal-sized set of keys
    GUARANTEED absent (a second md5 derivation of each fingerprint —
    disjoint hash space), and report occupancy + the measured FPR. The
    sizing artifact you compute before trusting dd_bloom_admit's
    prefilter at a new corpus scale: measured FPR vs the
    (1 − e^{-kn/m})^k design point, without the libm exp in the gate.

    Scale shape: the filter IS a distinct bit-position table (≤
    {BF_BITS} rows at any corpus size) broadcast to every executor;
    build and probe are each one hash aggregation + {BF_K} broadcast
    joins — the filter never round-trips through the driver.
    """
    d = t["documents"]
    fp = d.select(F.md5(normalize_text(F.col("text"))).alias("fp")).distinct()

    def positions(col: F.Column, tag: str) -> list:
        return [
            (
                md5_int64(F.concat(F.lit(f"bf{j}:"), col)) % BF_BITS
            ).alias(f"{tag}{j}")
            for j in range(BF_K)
        ]

    bits = (
        fp.select(F.explode(F.array(*positions(F.col("fp"), "p"))).alias("pos"))
        .distinct()
    )
    # probe keys: re-hash each fingerprint into a disjoint key space
    probes = fp.select(F.md5(F.concat(F.lit("probe:"), F.col("fp"))).alias("pk"))
    flagged = probes.select("pk", *positions(F.col("pk"), "q"))
    for j in range(BF_K):
        b = bits.select(F.col("pos").alias(f"bpos{j}"))
        flagged = flagged.join(
            F.broadcast(b), flagged[f"q{j}"] == b[f"bpos{j}"], "left"
        )
    hit = F.lit(True)
    for j in range(BF_K):
        hit = hit & F.col(f"bpos{j}").isNotNull()
    probe_agg = flagged.agg(
        F.count("*").alias("n_probes"),
        F.sum(hit.cast("long")).alias("n_false_pos"),
    )
    build_agg = fp.agg(F.count("*").alias("n_keys")).crossJoin(
        F.broadcast(bits.agg(F.count("*").alias("bits_set")))
    )
    return build_agg.crossJoin(F.broadcast(probe_agg)).select(
        F.lit(BF_BITS).alias("m_bits"),
        F.lit(BF_K).alias("k_hashes"),
        "n_keys",
        "bits_set",
        rnd(F.col("bits_set").cast("double") / F.lit(BF_BITS), 6).alias(
            "load_factor"
        ),
        "n_probes",
        "n_false_pos",
        rnd(
            F.col("n_false_pos").cast("double") / F.col("n_probes"), 6
        ).alias("fpr"),
    )


def _oracle_bloom_fpr() -> str:
    pos_fp = ", ".join(
        f"({duck_md5_int64(repr('bf' + str(j) + ':') + ' || fp')}) % {BF_BITS}"
        for j in range(BF_K)
    )
    pos_pk = [
        f"({duck_md5_int64(repr('bf' + str(j) + ':') + ' || pk')}) % {BF_BITS}"
        for j in range(BF_K)
    ]
    all_hit = " AND ".join(
        f"{p} IN (SELECT pos FROM bits)" for p in pos_pk
    )
    return f"""
WITH fp AS (
  SELECT DISTINCT md5({duck_normalize_text('text')}) AS fp FROM documents
),
bits AS (
  SELECT DISTINCT unnest([{pos_fp}]) AS pos FROM fp
),
probes AS (SELECT md5('probe:' || fp) AS pk FROM fp),
probe_agg AS (
  SELECT count(*) AS n_probes,
         CAST(sum(CASE WHEN {all_hit} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos
  FROM probes
)
SELECT {BF_BITS} AS m_bits, {BF_K} AS k_hashes,
       (SELECT count(*) FROM fp) AS n_keys,
       (SELECT count(*) FROM bits) AS bits_set,
       {duck_rnd(f'(SELECT count(*) FROM bits) * 1.0 / {BF_BITS}', 6)}
         AS load_factor,
       n_probes, n_false_pos,
       {duck_rnd('CAST(n_false_pos AS DOUBLE) / n_probes', 6)} AS fpr
FROM probe_agg
"""


QUERIES["sk_bloom_fpr"] = sk_bloom_fpr
ORACLES["sk_bloom_fpr"] = _oracle_bloom_fpr()


# --- sk_hll_union (r8): the sketch MERGE gate ----------------------------------
#
# Mergeability is the entire 100 TB argument for sketches — "aggregate
# each shard, max-merge the registers, estimate once" — but the gate so
# far only checked single-pass sketches. This operator runs the merge
# itself: per-event_type PARTIAL register tables (the shard sketches),
# max-merged into one register vector, compared REGISTER-BY-REGISTER to
# the sketch built in one global pass. n_register_mismatch must be 0 in
# both engines (max is associative — the merge is lossless by algebra,
# and the gate proves the implementation honors it), and the union
# estimate from the merged registers lands at the usual HLL error.


def sk_hll_union(t: dict[str, DataFrame]) -> DataFrame:
    """Max-merge of per-type partial HLL sketches vs the global sketch."""
    ev = t["events"]
    h = md5_int64(F.col("user_id"))
    hashed = ev.select(
        "event_type",
        (h % HLLG_M).alias("bucket"),
        F.shiftright(h, HLLG_P).alias("w"),
    ).select("event_type", "bucket", hll_rho_g(F.col("w")).alias("rho"))
    partial = hashed.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("m_partial")
    )
    merged = partial.groupBy("bucket").agg(F.max("m_partial").alias("m_merged"))
    global_ = hashed.groupBy("bucket").agg(F.max("rho").alias("m_global"))
    cmp = merged.join(global_, "bucket", "full").select(
        F.coalesce(F.col("m_merged"), F.lit(0)).alias("m_merged"),
        F.coalesce(F.col("m_global"), F.lit(0)).alias("m_global"),
    )
    mismatch = cmp.agg(
        F.sum((F.col("m_merged") != F.col("m_global")).cast("bigint")).alias(
            "n_register_mismatch"
        )
    )
    spine = ev.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(HLLG_M - 1))).alias("bucket")
    )
    full = spine.join(F.broadcast(merged), "bucket", "left").select(
        F.coalesce(F.col("m_merged"), F.lit(0)).alias("m_reg")
    )
    sketch = full.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLLG_RHO_MAX} - m_reg)")
        ).alias("s"),
        F.count(F.when(F.col("m_reg") == 0, 1)).alias("v_zero"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    raw = (
        F.lit(HLLG_ALPHA)
        * F.lit(float(HLLG_M * HLLG_M))
        * F.lit(float(1 << HLLG_RHO_MAX))
        / F.col("s").cast("double")
    )
    lin = F.lit(float(HLLG_M)) * F.log(
        F.lit(float(HLLG_M)) / F.greatest(F.col("v_zero"), F.lit(1)).cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLLG_M)) & (F.col("v_zero") > 0), lin
    ).otherwise(raw)
    return (
        sketch.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(mismatch))
        .select(
            F.lit(HLLG_M).alias("m"),
            F.lit(5).alias("n_shards"),
            F.col("n_register_mismatch"),
            F.col("n_exact"),
            rnd(est, 4).alias("est"),
            rnd(
                F.abs(est - F.col("n_exact").cast("double")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )


ORACLE_HLL_UNION = f"""
WITH hashed AS (
  SELECT event_type,
         ({duck_md5_int64('user_id')}) % {HLLG_M} AS bucket,
         ({duck_md5_int64('user_id')}) >> {HLLG_P} AS w
  FROM events
),
rho AS (
  SELECT event_type, bucket,
         CASE WHEN w = 0 THEN {HLLG_RHO_MAX}
              ELSE CAST(floor(log2(w & (-w)) + 0.5) AS BIGINT) + 1 END AS rho
  FROM hashed
),
partial AS (
  SELECT event_type, bucket, max(rho) AS m_partial FROM rho GROUP BY 1, 2
),
merged AS (SELECT bucket, max(m_partial) AS m_merged FROM partial GROUP BY 1),
gsk AS (SELECT bucket, max(rho) AS m_global FROM rho GROUP BY 1),
mism AS (
  SELECT CAST(sum(CASE WHEN coalesce(m_merged, 0) != coalesce(m_global, 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_register_mismatch
  FROM merged FULL JOIN gsk USING (bucket)
),
full_regs AS (
  SELECT coalesce(m_merged, 0) AS m_reg
  FROM (SELECT unnest(range(0, {HLLG_M})) AS bucket) s
  LEFT JOIN merged USING (bucket)
),
sk AS (
  SELECT sum(CAST(1 AS BIGINT) << ({HLLG_RHO_MAX} - m_reg)) AS s,
         count(CASE WHEN m_reg = 0 THEN 1 END) AS v_zero
  FROM full_regs
),
ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
SELECT {HLLG_M} AS m, 5 AS n_shards, n_register_mismatch, n_exact,
       {duck_rnd(f'''CASE WHEN (CAST({HLLG_ALPHA} AS DOUBLE) * {float(HLLG_M * HLLG_M)}
                      * {float(1 << HLLG_RHO_MAX)} / CAST(s AS DOUBLE)) <= {2.5 * HLLG_M}
                      AND v_zero > 0
                 THEN {float(HLLG_M)} * ln({float(HLLG_M)} / CAST(greatest(v_zero, 1) AS DOUBLE))
                 ELSE CAST({HLLG_ALPHA} AS DOUBLE) * {float(HLLG_M * HLLG_M)}
                      * {float(1 << HLLG_RHO_MAX)} / CAST(s AS DOUBLE) END''', 4)} AS est,
       {duck_rnd(f'''abs((CASE WHEN (CAST({HLLG_ALPHA} AS DOUBLE) * {float(HLLG_M * HLLG_M)}
                      * {float(1 << HLLG_RHO_MAX)} / CAST(s AS DOUBLE)) <= {2.5 * HLLG_M}
                      AND v_zero > 0
                 THEN {float(HLLG_M)} * ln({float(HLLG_M)} / CAST(greatest(v_zero, 1) AS DOUBLE))
                 ELSE CAST({HLLG_ALPHA} AS DOUBLE) * {float(HLLG_M * HLLG_M)}
                      * {float(1 << HLLG_RHO_MAX)} / CAST(s AS DOUBLE) END)
                 - CAST(n_exact AS DOUBLE)) / n_exact''', 6)} AS rel_err
FROM sk, ex, mism
"""

QUERIES["sk_hll_union"] = sk_hll_union
ORACLES["sk_hll_union"] = ORACLE_HLL_UNION


# --- sk_cms_merge (r8): the CMS merge gate -------------------------------------
#
# Companion to sk_hll_union: Count-Min sketches merge by CELL-WISE SUM
# (counters are linear), and this gate runs the merge itself — per-shard
# (doc_id mod N_SHARDS) cell tables summed and compared cell-by-cell to
# the one-pass global sketch (n_cell_mismatch pinned 0 in both
# engines), then the exact top-10 grams probed against the MERGED
# sketch, where the one-sided CMS guarantee (est ≥ exact) must still
# hold. Together the two gates cover both sketch-merge algebras a
# 100 TB rollup uses: max-merge (HLL registers) and sum-merge (CMS /
# counter matrices).

CMSM_SHARDS = 4
CMSM_TOP_K = 10


def sk_cms_merge(t: dict[str, DataFrame]) -> DataFrame:
    # All four consumers (sharded partials, global single-pass CMS,
    # exact top-k, probe rows) derive from the SHARED per-(shard, gram)
    # count table (r11, guide §2.2 + §5): the raw gram stream used to
    # be the persisted artifact, and each consumer re-aggregated ~1M
    # occurrence rows (4 stages × 10-19 executor-cpu-s at sf0.1).
    # Cell counts sum occ_cnt — identical to counting occurrences —
    # and only vocabulary-cardinality rows are cached or re-read.
    occ = _shard_gram_counts(t)
    cell = F.explode(_cms_probe_cols(F.col("h"))).alias("cell")
    partial = (
        occ.select("shard", "occ_cnt", cell)
        .select(
            "shard",
            F.col("cell.d").alias("d"),
            F.col("cell.bucket").alias("bucket"),
            "occ_cnt",
        )
        .groupBy("shard", "d", "bucket")
        .agg(F.sum("occ_cnt").alias("cnt"))
    )
    merged = partial.groupBy("d", "bucket").agg(F.sum("cnt").alias("m_cnt"))
    global_ = (
        occ.select("occ_cnt", cell)
        .select(
            F.col("cell.d").alias("d"),
            F.col("cell.bucket").alias("bucket"),
            "occ_cnt",
        )
        .groupBy("d", "bucket")
        .agg(F.sum("occ_cnt").alias("g_cnt"))
    )
    mismatch = (
        merged.join(global_, ["d", "bucket"], "full")
        .agg(
            F.sum(
                (
                    F.coalesce(F.col("m_cnt"), F.lit(0))
                    != F.coalesce(F.col("g_cnt"), F.lit(0))
                ).cast("bigint")
            ).alias("n_cell_mismatch"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )
    top = (
        occ.groupBy("gram")
        .agg(F.sum("occ_cnt").alias("exact"), F.max("h").alias("h"))
        .orderBy(F.desc("exact"), "gram")
        .limit(CMSM_TOP_K)
    )
    probes = top.select(
        "gram", "exact", F.explode(_cms_probe_cols(F.col("h"))).alias("cell")
    )
    ests = (
        probes.join(
            F.broadcast(merged),
            (probes["cell.d"] == merged["d"])
            & (probes["cell.bucket"] == merged["bucket"]),
        )
        .groupBy("gram")
        .agg(F.max("exact").alias("exact"), F.min("m_cnt").alias("est"))
        .agg(
            F.sum("exact").alias("topk_sum_exact"),
            F.sum(F.col("est") - F.col("exact")).alias("topk_sum_overest"),
            F.min((F.col("est") >= F.col("exact")).cast("bigint")).alias(
                "one_sided_holds"
            ),
        )
    )
    return (
        mismatch.crossJoin(F.broadcast(ests)).select(
            F.lit(CMS_DEPTH).alias("depth"),
            F.lit(CMS_WIDTH).alias("width"),
            F.lit(CMSM_SHARDS).alias("n_shards"),
            "n_cell_mismatch",
            "n_cells",
            "topk_sum_exact",
            "topk_sum_overest",
            "one_sided_holds",
        )
    )


ORACLE_CMS_MERGE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
),
occ AS (
  SELECT doc_id % {CMSM_SHARDS} AS shard,
         unnest(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
           AS gram
  FROM toks WHERE len(tk) >= 3
),
hashed AS (SELECT shard, gram, {duck_md5_int64('gram')} AS h FROM occ),
partial AS (
  SELECT shard, d, {_duck_cms_buckets('h')} AS bucket, count(*) AS cnt
  FROM hashed, unnest(range(0, {CMS_DEPTH})) AS r(d)
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT d, bucket, sum(cnt) AS m_cnt FROM partial GROUP BY 1, 2
),
glob_cells AS (
  SELECT d, {_duck_cms_buckets('h')} AS bucket, count(*) AS g_cnt
  FROM hashed, unnest(range(0, {CMS_DEPTH})) AS r(d)
  GROUP BY 1, 2
),
mism AS (
  SELECT CAST(sum(CASE WHEN coalesce(m_cnt, 0) != coalesce(g_cnt, 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cell_mismatch,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM merged FULL JOIN glob_cells USING (d, bucket)
),
top AS (
  SELECT gram, count(*) AS exact, {duck_md5_int64('gram')} AS h
  FROM hashed GROUP BY gram ORDER BY exact DESC, gram LIMIT {CMSM_TOP_K}
),
probes AS (
  SELECT gram, exact, d, {_duck_cms_buckets('h')} AS bucket
  FROM top, unnest(range(0, {CMS_DEPTH})) AS r(d)
),
per_gram AS (
  SELECT p.gram, max(p.exact) AS exact, min(m.m_cnt) AS est
  FROM probes p JOIN merged m ON p.d = m.d AND p.bucket = m.bucket
  GROUP BY p.gram
),
ests AS (
  SELECT CAST(sum(exact) AS BIGINT) AS topk_sum_exact,
         CAST(sum(est - exact) AS BIGINT) AS topk_sum_overest,
         CAST(min(CASE WHEN est >= exact THEN 1 ELSE 0 END) AS BIGINT)
           AS one_sided_holds
  FROM per_gram
)
SELECT {CMS_DEPTH} AS depth, {CMS_WIDTH} AS width, {CMSM_SHARDS} AS n_shards,
       n_cell_mismatch, n_cells, topk_sum_exact, topk_sum_overest,
       one_sided_holds
FROM mism, ests
"""

QUERIES["sk_cms_merge"] = sk_cms_merge
ORACLES["sk_cms_merge"] = ORACLE_CMS_MERGE
