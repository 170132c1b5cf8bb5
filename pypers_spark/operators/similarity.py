"""Similarity search over the ``embeddings`` table (SURVEY.md §2.D).

- ``ann_topk_cosine``: brute-force top-k — the correctness baseline.
  One scan, dot products as JVM-side higher-order functions, global
  top-k via TakeOrderedAndProject (no full sort, no collect).
- ``ann_lsh_bucketed``: random-hyperplane LSH — the 100 TB path. The
  hyperplanes are deterministic module-level literals (seeded numpy) so
  the DuckDB oracle reproduces bucket assignment bit-for-bit. At scale
  the bucket id becomes the shuffle/storage partition key and probes
  touch only their own bucket.
- ``dd_embedding_cos``: embedding near-dup pairs, pairwise only within
  a bounded block (label here; an IVF/LSH cell in production).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import DECIMAL_T, dsum, duck_dsum, duck_rnd, rnd
from pypers_spark.functions.vectors import cosine_similarity, dot, duck_cosine, duck_dot

N_PLANES = 8
EMB_DIM = 64
COS_THRESHOLD = 0.9
# Gate-visible threshold: the synthetic embeddings max out at cos≈0.475
# within blocks, so τ=0.3 exercises the pair path non-vacuously.
COS_T03 = 0.3
TOP_K = 10
QUERY_VEC_ID = 0

# Deterministic ±1 hyperplanes — fixed seed, embedded as literals in both
# engines (no runtime RNG anywhere).
_rng = np.random.RandomState(42)
PLANES: list[list[float]] = (
    _rng.choice([-1.0, 1.0], size=(N_PLANES, EMB_DIM)).tolist()
)


def _plane_col(p: int):
    return F.array(*[F.lit(float(v)) for v in PLANES[p]])


def _duck_plane(p: int) -> str:
    return "[" + ", ".join(f"{v:.1f}" for v in PLANES[p]) + "]::DOUBLE[]"


def _dot_plane(vec, p: int):
    return F.aggregate(
        F.zip_with(vec, _plane_col(p), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ann_topk_cosine(t: dict[str, DataFrame]) -> DataFrame:
    """Brute-force top-10 cosine neighbors of QUERY_VEC_ID."""
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


ORACLE_ANN_TOPK = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label, {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
"""


def ann_lsh_bucketed(t: dict[str, DataFrame]) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (the partition key at scale)."""
    emb = t["embeddings"]
    bucket = None
    for p in range(N_PLANES):
        bit = F.when(_dot_plane(F.col("embedding"), p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return (
        emb.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


def _duck_lsh_sql() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_duck_plane(p)}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
SELECT CAST({bits} AS INT) AS bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
FROM embeddings GROUP BY 1 ORDER BY bucket
"""


# Planted near-duplicates: the synthetic embeddings max out at
# cos≈0.475 organically, so at the production threshold τ=0.9 every
# pair query would be 0-row — correct, but a vacuous gate. The first
# PLANT_N vectors get a deterministic clone (same label, element 1
# zeroed — cosine 0.984–0.9999 against the origin at every shipped SF,
# measured, never near the 1e-4 rounding boundary) under offset ids.
# Zeroing is exact in both engines (no float arithmetic to disagree
# on), so the planted pairs are bit-reproducible cross-engine.
PLANT_N = 4
PLANT_OFFSET = 1_000_000


def emb_with_planted(t: dict[str, DataFrame]) -> DataFrame:
    """embeddings ∪ PLANT_N deterministic near-dup clones (see above)."""
    base = t["embeddings"].select("vec_id", "label", "embedding")
    clones = base.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + F.lit(PLANT_OFFSET)).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.lit(0.0).cast("float")),
            F.slice(F.col("embedding"), 2, EMB_DIM - 1),
        ).alias("embedding"),
    )
    return base.unionByName(clones)


# The matching DuckDB view — every τ=0.9 oracle selects FROM this CTE.
DUCK_EMB_PLANTED = f"""emb AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id, label,
         list_concat([0.0::FLOAT], embedding[2:]) AS embedding
  FROM embeddings WHERE vec_id < {PLANT_N}
)"""


def _emb_source(t: dict[str, DataFrame], tau: float) -> DataFrame:
    """The embedding view a τ-thresholded pair query runs over: the
    production threshold (τ = COS_THRESHOLD) gets the planted fixture
    so its gate is non-vacuous; every other τ uses the raw table
    (organic pairs exist there)."""
    return emb_with_planted(t) if tau == COS_THRESHOLD else t["embeddings"]


def _embedding_cos_pairs(t: dict[str, DataFrame], tau: float) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ ``tau``) within label blocks:
    the declared pair queries and every internal consumer (graph pair
    caches, connected components, modularity) share this plan.

    The per-vector norm is computed ONCE on a persisted projection —
    folding it into the pairwise cosine would re-run the 64-element
    norm aggregation for every candidate pair (3x the lambda work).
    cos = dot / (norm_a · norm_b) is value-identical to the oracle's
    formula (sqrt is deterministic), so rounding still matches.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.functions.vectors import dot, l2_norm

    src = _emb_source(t, tau)
    n = int(t["embeddings"].sparkSession.conf.get("spark.sql.shuffle.partitions"))
    emb = tracked_persist(
        src
        .repartition(n, F.col("vec_id"))
        .select("vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm")),
        f"similarity.embedding_norms_tau{tau}",
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), "label", F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(denom > 0, dot(F.col("e_a"), F.col("e_b")) / denom).otherwise(F.lit(0.0))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", rnd(cos, 4))
        .filter(F.col("cos_sim") >= F.lit(tau))
        .select("label", "id_a", "id_b", "cos_sim")
    )


def dd_embedding_cos(t: dict[str, DataFrame]) -> DataFrame:
    """Production threshold (τ=0.9) embedding near-dup pairs, over the
    planted fixture (PLANT_N deterministic clones) so the production
    threshold itself returns rows and gates non-vacuously."""
    return _embedding_cos_pairs(t, COS_THRESHOLD)


def dd_embedding_cos_t03(t: dict[str, DataFrame]) -> DataFrame:
    """τ=0.3 variant over the RAW table: the organic corpus maxes out
    at cos≈0.475 within blocks, so this entry exercises the
    organic-pair path (many pairs, no planting) through the same plan."""
    return _embedding_cos_pairs(t, COS_T03)


def _oracle_dd_emb(tau: float) -> str:
    pre = f"WITH {DUCK_EMB_PLANTED}\n" if tau == COS_THRESHOLD else ""
    src = "emb" if tau == COS_THRESHOLD else "embeddings"
    return f"""
{pre}SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
       {duck_rnd(duck_cosine('a.embedding', 'b.embedding'), 4)} AS cos_sim
FROM {src} a JOIN {src} b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {duck_rnd(duck_cosine('a.embedding', 'b.embedding'), 4)} >= {tau}
ORDER BY label, id_a, id_b
"""


ORACLE_DD_EMB = _oracle_dd_emb(COS_THRESHOLD)


def ann_topk_pandas(t: dict[str, DataFrame]) -> DataFrame:
    """Brute-force top-k via an Arrow-batched numpy Pandas UDF.

    The vectorized scan path for wide embeddings: one matrix-vector
    product per Arrow batch instead of per-element JVM lambda folds.
    Float caveat: numpy's dot uses pairwise/BLAS summation while the
    JVM/DuckDB fold is sequential — values can differ in the last ulp,
    so this variant rounds to 4 decimals like the rest and shares the
    brute-force oracle (mismatches would only occur for vectors whose
    cosine sits exactly on a 1e-4 rounding boundary).
    """
    from pyspark.sql.functions import pandas_udf

    emb = t["embeddings"]
    q_row = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding")

    @pandas_udf("double")
    def cos_to_query(col: pd.Series) -> pd.Series:
        # The query vector arrives via closure capture — tiny, constant,
        # shipped once per task like a broadcast variable.
        q = np.asarray(_QUERY_CACHE["vec"], dtype=np.float64)
        qn = np.linalg.norm(q)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        norms = np.linalg.norm(mat, axis=1) * qn
        dots = mat @ q
        out = np.where(norms > 0, dots / np.where(norms == 0, 1.0, norms), 0.0)
        return pd.Series(out)

    # Resolve the query vector eagerly (one tiny job) so the UDF closure
    # carries plain floats, not a DataFrame.
    q = q_row.first()
    if q is None:  # empty corpus: no query vector -> empty result, same schema
        return emb.select(
            "vec_id", "label", F.lit(0.0).cast("double").alias("cos_sim")
        ).limit(0)
    _QUERY_CACHE["vec"] = [float(x) for x in q["embedding"]]
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            rnd(cos_to_query(F.col("embedding")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


_QUERY_CACHE: dict = {}

RANGE_TAU = 0.2


def ann_range_search(t: dict[str, DataFrame]) -> DataFrame:
    """Range search: every vector within cosine radius τ of the query.

    The fixed-radius dual of top-k — one broadcast of the query vector,
    one scan, a pushable filter on the similarity expression. At scale
    the same LSH bucket key as ``ann_lsh_bucketed`` bounds the scan to
    the query's neighboring buckets.
    """
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= RANGE_TAU)
    )


ORACLE_ANN_RANGE = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label, {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
  AND {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} >= {RANGE_TAU}
ORDER BY cos_sim DESC, vec_id
"""


def ann_ivf(t: dict[str, DataFrame]) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize to centroid cells, then
    search only the probe's nearest cell.

    Cells here are the label partitions; centroids are the exact
    per-dimension means (decimal sums — order-independent, so the
    DuckDB oracle reproduces them bit-for-bit). The probe picks its
    nearest centroid (nprobe=1) and scans just that cell — at 100 TB
    the cell id is the storage partition key and the scan touches
    1/n_cells of the data; a production build swaps the label cells for
    k-means centroids without changing the plan shape.
    """
    emb = t["embeddings"]
    dims = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    centroids = (
        dims.groupBy("label", "pos")
        .agg((F.sum(F.col("v").cast(DECIMAL_T)).cast("double") / F.count(F.lit(1))).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    cell = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "label",
            cosine_similarity(F.col("centroid"), F.col("q_emb")).alias("c_cos"),
        )
        .orderBy(F.desc("c_cos"), "label")
        .limit(1)
        .select(F.col("label").alias("cell"), rnd(F.col("c_cos"), 4).alias("cell_cos"))
    )
    return (
        emb.join(F.broadcast(cell), emb["label"] == F.col("cell"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "cell_cos",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


ORACLE_ANN_IVF = f"""
WITH dims AS (
  SELECT label, pos, embedding[pos]::DOUBLE AS v
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS pos)
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos,
           CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
    FROM dims GROUP BY label, pos
  )
  GROUP BY label
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cell AS (
  SELECT label AS cell, {duck_rnd(duck_cosine('centroid', 'q_emb'), 4)} AS cell_cos
  FROM centroids, q
  ORDER BY {duck_cosine('centroid', 'q_emb')} DESC, label
  LIMIT 1
)
SELECT vec_id, label, cell_cos,
       {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
FROM embeddings, q, cell
WHERE label = cell AND vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
"""


N_PROBE = 3


def ann_ivf_nprobe(t: dict[str, DataFrame]) -> DataFrame:
    """IVF ANN with nprobe={N_PROBE}: scan the query's {N_PROBE} nearest
    cells instead of one — the standard recall knob a production IVF
    deployment tunes (recall grows with probes, scan cost grows
    linearly with probes, everything else is ann_ivf unchanged). The
    probed cell list is a {N_PROBE}-row broadcast; at 100 TB the scan
    touches nprobe/n_cells of the data via partition pruning.
    """
    emb = t["embeddings"]
    dims = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    centroids = (
        dims.groupBy("label", "pos")
        .agg((F.sum(F.col("v").cast(DECIMAL_T)).cast("double") / F.count(F.lit(1))).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    cells = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "label",
            cosine_similarity(F.col("centroid"), F.col("q_emb")).alias("c_cos"),
        )
        .orderBy(F.desc("c_cos"), "label")
        .limit(N_PROBE)
        .select(F.col("label").alias("cell"), rnd(F.col("c_cos"), 4).alias("cell_cos"))
    )
    return (
        emb.join(F.broadcast(cells), emb["label"] == F.col("cell"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "cell_cos",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


ORACLE_ANN_IVF_NPROBE = f"""
WITH dims AS (
  SELECT label, pos, embedding[pos]::DOUBLE AS v
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS pos)
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos,
           CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
    FROM dims GROUP BY label, pos
  )
  GROUP BY label
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cells AS (
  SELECT label AS cell, {duck_rnd(duck_cosine('centroid', 'q_emb'), 4)} AS cell_cos
  FROM centroids, q
  ORDER BY {duck_cosine('centroid', 'q_emb')} DESC, label
  LIMIT {N_PROBE}
)
SELECT vec_id, label, cell_cos,
       {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
FROM embeddings, q, cells
WHERE label = cell AND vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
"""


def ann_lsh_probe(t: dict[str, DataFrame]) -> DataFrame:
    """LSH bucket-probe ANN: search ONLY the query's hyperplane bucket.

    The search companion to ``ann_lsh_bucketed``'s histogram: both the
    corpus and the query hash to an 8-bit hyperplane signature; the
    scan touches one bucket (~1/256 of the data at scale — the bucket
    id is the storage partition key, so this is partition pruning, not
    a filter over a full scan). Exact cosine ranks within the bucket.
    """
    emb = t["embeddings"]

    def bucket_of(vec):
        b = None
        for p in range(N_PLANES):
            bit = F.when(_dot_plane(vec, p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
            b = bit if b is None else b + bit
        return b.cast("int")

    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb"),
        bucket_of(F.col("embedding")).alias("q_bucket"),
    )
    return (
        emb.withColumn("bucket", bucket_of(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != QUERY_VEC_ID))
        .select(
            "vec_id",
            "label",
            "bucket",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


def _duck_lsh_probe_sql() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_duck_plane(p)}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    qbits = " + ".join(
        f"(CASE WHEN list_dot_product(q_emb::DOUBLE[], {_duck_plane(p)}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
WITH q AS (
  SELECT embedding AS q_emb, CAST({qbits.replace('q_emb', 'embedding')} AS INT) AS q_bucket
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
)
SELECT vec_id, label, CAST({bits} AS INT) AS bucket,
       {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
FROM embeddings, q
WHERE CAST({bits} AS INT) = q_bucket AND vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
"""




def _cluster_on_pairs(t: dict[str, DataFrame], tau: float) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the embedding
    near-dup pair graph (cos ≥ ``tau`` within label blocks).

    Pair lists under-serve dedup pipelines — the keep/drop decision
    needs the transitive closure (A~B, B~C ⟹ {A,B,C} one group).
    Min-label propagation with pointer jumping (functions/
    components.py): each round every node takes the min label over its
    closed neighborhood, then shortcuts ``lbl ← lbl(lbl)`` — O(log
    diameter) rounds, so long boilerplate-drift chains converge instead
    of tripping a diameter cap. Convergence is detected via the label
    SUM — a monotonically decreasing scalar, so one cheap aggregate per
    round instead of a change-count join. At 100 TB each round is two
    node-keyed shuffles over (node, lbl) int64 pairs.
    """
    from pypers_spark.functions.components import min_label_components

    emb = _emb_source(t, tau)
    # Unsorted pair plan: the sorted declared-query form would make the
    # edges persist pay a sampling re-run + sort that CC never needs.
    pairs = _embedding_cos_pairs(t, tau).select("id_a", "id_b")
    edges = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.persist()
    labels = min_label_components(
        edges,
        emb.select(F.col("vec_id").alias("node"), F.col("vec_id").alias("lbl")),
        "similarity.cc_labels",
    )
    edges.unpersist()
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("node").alias("vec_id"), F.col("lbl").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


def dd_semantic_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al., 2023): embedding
    near-dup pairs within K-MEANS CELLS — the cell assignment IS the
    blocking key, no metadata (label/source) blocking required.

    K = ceil(sqrt(n)) cells, computed IN-PLAN from the corpus count
    (identical arithmetic in the DuckDB oracle): sqrt-scaling balances
    the two cost terms — assignment is n·K dot products, within-cell
    pair work is ~n²/K cosines, and K = √n makes both O(n^1.5). A
    fixed K is the scale trap: 20x the corpus at constant K makes the
    per-cell pair count grow 400x (measured 79x wall at 20x rows before
    this was made adaptive; 4.6x after). Centroids are deterministic
    seeds (the first K vectors by id — one Lloyd assignment step, the
    ann_kmeans_assign building block); every vector assigns map-side to
    its nearest centroid (broadcast K-row table, squared-L2 argmin with
    ties to the lower centroid id). At 100 TB the cell id becomes the
    storage partition key and a production build iterates the centroids
    on a sample — the plan shape is unchanged.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.functions.vectors import dot, l2_norm

    emb = t["embeddings"]
    k_row = emb.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("k"))
    cent = (
        emb.crossJoin(F.broadcast(k_row))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    av, cv = F.col("embedding"), F.col("cvec")
    d2 = (dot(av, av) - 2 * dot(av, cv) + dot(cv, cv)).alias("d2")
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", d2)
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cell"))
    )
    v = tracked_persist(
        emb.join(assigned, "vec_id").select(
            "vec_id", "cell", "embedding", l2_norm(F.col("embedding")).alias("nrm")
        ),
        "similarity.semdedup_cells",
    )
    # Spread the probe side on the cell key before the within-cell pair
    # join (r11): AQE coalesces the small cached assignment table by
    # BYTES, but this stage's cost is the C(k,2) per-pair cosines AQE
    # cannot see — the coalesced cache serialized the expansion onto one
    # core (the dd_containment_idx expansion lesson). At scale hash(cell,
    # n) satisfies the join's clustering requirement, so this exchange
    # replaces the join's own rather than adding one.
    n_part = int(v.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = v.repartition(n_part, F.col("cell")).select(
        F.col("vec_id").alias("id_a"), "cell", F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), "cell", F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(denom > 0, dot(F.col("e_a"), F.col("e_b")) / denom).otherwise(
        F.lit(0.0)
    )
    out = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", rnd(cos, 4))
        .filter(F.col("cos_sim") >= F.lit(COS_T03))
        .select("cell", "id_a", "id_b", "cos_sim")
    )
    return out


def _oracle_semdedup() -> str:
    from pypers_spark.functions.vectors import duck_dot

    d2 = (
        f"({duck_dot('e.embedding', 'e.embedding')} "
        f"- 2 * {duck_dot('e.embedding', 'c.cvec')} "
        f"+ {duck_dot('c.cvec', 'c.cvec')})"
    )
    return f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)
),
pairs AS (
  SELECT e.vec_id, c.cid, {d2} AS d2
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM pairs
  ) WHERE rn = 1
),
v AS (
  SELECT e.vec_id, a.cell, e.embedding
  FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
)
SELECT v1.cell AS cell, v1.vec_id AS id_a, v2.vec_id AS id_b,
       {duck_rnd(duck_cosine('v1.embedding', 'v2.embedding'), 4)} AS cos_sim
FROM v v1 JOIN v v2 ON v1.cell = v2.cell AND v1.vec_id < v2.vec_id
WHERE {duck_rnd(duck_cosine('v1.embedding', 'v2.embedding'), 4)} >= {COS_T03}
ORDER BY cell, id_a, id_b
"""


def dd_cluster(t: dict[str, DataFrame]) -> DataFrame:
    """Production threshold (τ=0.9) near-dup clusters over the planted
    fixture: the PLANT_N clone pairs form real (origin, clone)
    components, so the propagation loop and the keep/drop decision are
    exercised at the production threshold, not just at τ=0.3."""
    return _cluster_on_pairs(t, COS_THRESHOLD)


def dd_cluster_t03(t: dict[str, DataFrame]) -> DataFrame:
    """τ=0.3 variant over the RAW table: drives the propagation loop
    over the organic pair graph (larger, multi-hop components)."""
    return _cluster_on_pairs(t, COS_T03)


def _oracle_dd_cluster(tau: float) -> str:
    pre = f"{DUCK_EMB_PLANTED},\n" if tau == COS_THRESHOLD else ""
    src = "emb" if tau == COS_THRESHOLD else "embeddings"
    return f"""
WITH RECURSIVE {pre}pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM {src} a JOIN {src} b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {duck_rnd(duck_cosine('a.embedding', 'b.embedding'), 4)} >= {tau}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM {src}
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
cl AS (SELECT node AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY 1)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cl
ORDER BY vec_id
"""


ORACLE_DD_CLUSTER = _oracle_dd_cluster(COS_THRESHOLD)



# --- ann_pq (product quantization) -------------------------------------------

PQ_M = 4          # subspaces
PQ_SUB = EMB_DIM // PQ_M   # dims per subspace
PQ_K = 16         # codebook size per subspace (code fits in 4 bits)
_PQ_WEIGHTS = [PQ_K ** m for m in range(PQ_M)]  # code packing radix


def _pq_slices() -> F.Column:
    return F.array(
        *[F.slice(F.col("embedding"), m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """(cid, m, cv): subvectors of the first PQ_K vectors by id."""
    return emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"), F.posexplode(_pq_slices()).alias("m", "cv")
    )


def _pq_d2(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def _pq_best(t: dict[str, DataFrame]) -> DataFrame:
    """PQ encode: per (vec_id, m) the nearest codebook centroid + its d2.

    The squared norms |sv|² and |cv|² are computed ONCE per subvector
    below the join (a materialized column per side), not inside the
    K-way pair expression — folding them in would run the 16-element
    aggregation lambda 3x per candidate (the same lesson as the
    persisted norm table in ``_embedding_cos_pairs``; measured ~2x on
    the 20x corpus). The d2 association order (sv2 − 2·dot) + cv2 is
    mirrored exactly in the oracle, so IEEE equality holds.
    """
    return _pq_best_df(t["embeddings"], t["embeddings"])


def _pq_best_df(vectors: DataFrame, codebook_src: DataFrame) -> DataFrame:
    """PQ-encode ``vectors`` against the codebook seeded from
    ``codebook_src`` (the FULL table — a cell-restricted encode must
    still use the corpus-wide codebook, as a real IVFADC index does)."""
    sub = vectors.select(
        "vec_id", F.posexplode(_pq_slices()).alias("m", "sv")
    ).withColumn("sv2", dot(F.col("sv"), F.col("sv")))
    cb = _pq_codebook(codebook_src).withColumn("cv2", dot(F.col("cv"), F.col("cv")))
    pairs = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "cid",
        (
            (F.col("sv2") - 2 * dot(F.col("sv"), F.col("cv"))) + F.col("cv2")
        ).alias("d2"),
    )
    return (
        pairs.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "cid")).alias("best"))
        .select("vec_id", "m", F.col("best.cid").alias("cid"), F.col("best.d2").alias("d2"))
    )


def ann_pq(t: dict[str, DataFrame]) -> DataFrame:
    """Product-quantization encode: split each {EMB_DIM}-dim embedding
    into {PQ_M} subspaces of {PQ_SUB} dims, assign each subvector to its
    nearest of {PQ_K} per-subspace codebook centroids (deterministically
    seeded from the first {PQ_K} vectors, as in ann_kmeans_assign), and
    emit the packed 16-bit PQ code plus the exact reconstruction error.

    This is the memory side of the ANN story the IVF/LSH entries don't
    cover: {EMB_DIM} float32 dims (256 B) compress to PQ_M*log2(PQ_K)
    = 16 bits per vector, and asymmetric-distance search scans CODES
    with a K x M lookup table instead of raw vectors. At 100 TB the
    plan is the one you want: the K*M codebook (64 rows here)
    broadcasts, encode is a map-side O(n*K*M) pass, and the only
    shuffles are the per-(vector, subspace) argmin and the final
    per-vector pack — both partial-aggregated. Codebook TRAINING at
    scale iterates ann_kmeans_assign per subspace; the seeded single
    step keeps the gate deterministic in both engines.
    """
    best = _pq_best(t)
    radix = F.array(*[F.lit(w) for w in _PQ_WEIGHTS])
    return (
        best.groupBy("vec_id")
        .agg(
            F.sum(F.col("cid") * F.element_at(radix, F.col("m") + 1)).alias("pq_code"),
            rnd(dsum(F.col("d2")), 4).alias("recon_d2"),
        )
    )


_PQ_SV = "(e.embedding::DOUBLE[])[(m * {sub} + 1):((m + 1) * {sub})]".format(sub=PQ_SUB)
_PQ_D2 = (
    "(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)"
    " + list_dot_product(c.cv, c.cv))"
)

ORACLE_ANN_PQ = f"""
WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
sub AS (
  SELECT e.vec_id, m, {_PQ_SV} AS sv FROM embeddings e, ms
),
cb AS (
  SELECT e.vec_id AS cid, m, {_PQ_SV} AS cv FROM embeddings e, ms
  WHERE e.vec_id < {PQ_K}
),
pairs AS (
  SELECT s.vec_id, s.m, c.cid, {_PQ_D2} AS d2
  FROM sub s JOIN cb c USING (m)
),
best AS (
  SELECT vec_id, m, cid, d2 FROM (
    SELECT vec_id, m, cid, d2,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT vec_id,
       CAST(sum(cid * ({_PQ_WEIGHTS})[m + 1]) AS BIGINT) AS pq_code,
       {duck_rnd(duck_dsum('d2'), 4)} AS recon_d2
FROM best GROUP BY vec_id ORDER BY vec_id
"""


def ann_pq_adc(t: dict[str, DataFrame]) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: top-{TOP_K} neighbors of
    QUERY_VEC_ID by APPROXIMATE squared L2, computed from PQ codes and a
    K x M query-to-centroid lookup table — never touching the raw
    database vectors at query time.

    The scan side of the PQ story: approx_d2(v) = sum over subspaces of
    table[m, code_m(v)]. The lookup table is {PQ_K}x{PQ_M} rows (built
    from the query against the broadcast codebook), the codes come from
    the shared encode stage, and the per-vector sum is one
    partial-aggregated shuffle over code-width rows — at 100 TB this
    reads 16-BIT codes instead of 256-byte vectors, which is why PQ is
    the standard billion-vector memory layout. Exactness caveat by
    design: distances are quantized approximations; the exact twins
    (ann_topk_cosine) rank by true distance. Measured on this corpus at
    sf0.01 (16-bit codes on 64 dims — a deliberately extreme 128:1
    budget): 7/10 of the ADC top-10 fall in the exact-L2 top-50; a
    production config (8 subspaces x 256 centroids) trades 4x code
    size for near-exact recall, with the identical plan shape.
    """
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.posexplode(_pq_slices()).alias("m", "qv")
    )
    table = q.join(F.broadcast(_pq_codebook(emb)), "m").select(
        "m", "cid", _pq_d2(F.col("qv"), F.col("cv")).alias("qd2")
    )
    codes = _pq_best(t).select("vec_id", "m", "cid")
    return (
        codes.join(F.broadcast(table), ["m", "cid"])
        .groupBy("vec_id")
        .agg(rnd(dsum(F.col("qd2")), 4).alias("approx_d2"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("approx_d2", "vec_id")
        .limit(TOP_K)
    )


_PQ_QSV = "(q.embedding::DOUBLE[])[(m * {sub} + 1):((m + 1) * {sub})]".format(sub=PQ_SUB)

ORACLE_ANN_PQ_ADC = f"""
WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
sub AS (
  SELECT e.vec_id, m, {_PQ_SV} AS sv FROM embeddings e, ms
),
cb AS (
  SELECT e.vec_id AS cid, m, {_PQ_SV} AS cv FROM embeddings e, ms
  WHERE e.vec_id < {PQ_K}
),
best AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m ORDER BY {_PQ_D2}, c.cid
           ) AS rn
    FROM sub s JOIN cb c USING (m)
  ) WHERE rn = 1
),
tbl AS (
  SELECT c.m, c.cid,
         (list_dot_product(qs.qv, qs.qv) - 2 * list_dot_product(qs.qv, c.cv)
          + list_dot_product(c.cv, c.cv)) AS qd2
  FROM cb c JOIN (
    SELECT m, {_PQ_QSV} AS qv FROM embeddings q, ms WHERE q.vec_id = {QUERY_VEC_ID}
  ) qs USING (m)
)
SELECT b.vec_id, {duck_rnd(duck_dsum('t.qd2'), 4)} AS approx_d2
FROM best b JOIN tbl t USING (m, cid)
WHERE b.vec_id != {QUERY_VEC_ID}
GROUP BY b.vec_id
ORDER BY approx_d2, vec_id
LIMIT {TOP_K}
"""

PQ_SHORTLIST = 40  # ADC candidates fed to the exact rerank (4x TOP_K)


def ann_pq_refine(t: dict[str, DataFrame]) -> DataFrame:
    """Two-stage PQ search: ADC shortlist → exact rerank — the standard
    production billion-vector serving shape (IVFADC+R / DiskANN-style).

    Stage 1 scans only 16-bit codes and takes the top-{PQ_SHORTLIST} by
    approximate distance (the ann_pq_adc plan with a wider limit);
    stage 2 fetches JUST those {PQ_SHORTLIST} raw vectors and reranks by
    exact cosine to the final top-{TOP_K}. At 100 TB this is the reason
    PQ exists: the full corpus is read as codes (128:1 smaller), and the
    expensive exact distance touches a constant-size candidate set — a
    broadcast-join fetch, not a scan. Recall knob = shortlist width;
    measured here the 40-wide shortlist recovers 8/10 of the exact
    brute-force top-10 that bare ADC (ann_pq_adc) ranks correctly only
    approximately. Plan: codes join broadcast(K x M table) →
    partial-agg sum → TakeOrderedAndProject({PQ_SHORTLIST}) →
    broadcast-join raw vectors → TakeOrderedAndProject({TOP_K}).
    """
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.posexplode(_pq_slices()).alias("m", "qv")
    )
    table = q.join(F.broadcast(_pq_codebook(emb)), "m").select(
        "m", "cid", _pq_d2(F.col("qv"), F.col("cv")).alias("qd2")
    )
    shortlist = (
        _pq_best(t)
        .select("vec_id", "m", "cid")
        .join(F.broadcast(table), ["m", "cid"])
        .groupBy("vec_id")
        .agg(rnd(dsum(F.col("qd2")), 4).alias("approx_d2"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("approx_d2", "vec_id")
        .limit(PQ_SHORTLIST)
    )
    qvec = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "approx_d2",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


ORACLE_ANN_PQ_REFINE = f"""
WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
sub AS (
  SELECT e.vec_id, m, {_PQ_SV} AS sv FROM embeddings e, ms
),
cb AS (
  SELECT e.vec_id AS cid, m, {_PQ_SV} AS cv FROM embeddings e, ms
  WHERE e.vec_id < {PQ_K}
),
best AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m ORDER BY {_PQ_D2}, c.cid
           ) AS rn
    FROM sub s JOIN cb c USING (m)
  ) WHERE rn = 1
),
tbl AS (
  SELECT c.m, c.cid,
         (list_dot_product(qs.qv, qs.qv) - 2 * list_dot_product(qs.qv, c.cv)
          + list_dot_product(c.cv, c.cv)) AS qd2
  FROM cb c JOIN (
    SELECT m, {_PQ_QSV} AS qv FROM embeddings q, ms WHERE q.vec_id = {QUERY_VEC_ID}
  ) qs USING (m)
),
shortlist AS (
  SELECT b.vec_id, {duck_rnd(duck_dsum('t.qd2'), 4)} AS approx_d2
  FROM best b JOIN tbl t USING (m, cid)
  WHERE b.vec_id != {QUERY_VEC_ID}
  GROUP BY b.vec_id
  ORDER BY approx_d2, vec_id
  LIMIT {PQ_SHORTLIST}
),
qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT s.vec_id, s.approx_d2,
       {duck_rnd(duck_cosine('e.embedding', 'q_emb'), 4)} AS cos_sim
FROM shortlist s JOIN embeddings e ON s.vec_id = e.vec_id, qv
ORDER BY cos_sim DESC, s.vec_id
LIMIT {TOP_K}
"""


QUERIES = {
    "ann_topk_cosine": ann_topk_cosine,
    "ann_topk_pandas": ann_topk_pandas,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_range_search": ann_range_search,
    "dd_cluster": dd_cluster,
    "ann_ivf": ann_ivf,
    "ann_lsh_probe": ann_lsh_probe,
    "dd_embedding_cos": dd_embedding_cos,
    "dd_embedding_cos_t03": dd_embedding_cos_t03,
    "dd_cluster_t03": dd_cluster_t03,
    "dd_semantic_dedup": dd_semantic_dedup,
    "ann_ivf_nprobe": ann_ivf_nprobe,
    "ann_pq": ann_pq,
    "ann_pq_adc": ann_pq_adc,
    "ann_pq_refine": ann_pq_refine,
}

ORACLES = {
    "ann_topk_cosine": ORACLE_ANN_TOPK,
    "ann_topk_pandas": ORACLE_ANN_TOPK,
    "ann_lsh_bucketed": _duck_lsh_sql(),
    "ann_range_search": ORACLE_ANN_RANGE,
    "dd_cluster": ORACLE_DD_CLUSTER,
    "ann_ivf": ORACLE_ANN_IVF,
    "ann_lsh_probe": _duck_lsh_probe_sql(),
    "dd_embedding_cos": ORACLE_DD_EMB,
    "dd_embedding_cos_t03": _oracle_dd_emb(COS_T03),
    "dd_cluster_t03": _oracle_dd_cluster(COS_T03),
    "dd_semantic_dedup": _oracle_semdedup(),
    "ann_ivf_nprobe": ORACLE_ANN_IVF_NPROBE,
    "ann_pq": ORACLE_ANN_PQ,
    "ann_pq_adc": ORACLE_ANN_PQ_ADC,
    "ann_pq_refine": ORACLE_ANN_PQ_REFINE,
}


# --- ann_knn_graph -----------------------------------------------------------

KNN_K = 3


def ann_knn_graph(t: dict[str, DataFrame]) -> DataFrame:
    """k-NN graph construction: each vector's top-{KNN_K} cosine
    neighbors WITHIN ITS BLOCK (label here; an IVF/LSH cell in
    production) — the build step every graph-based ANN index (HNSW,
    NSG) and graph-clustering pipeline starts from.

    Block self-join → per-source window rank → keep {KNN_K}. The window
    shares the self-join's block partitioning (one exchange); blocks
    bound the pair count, so the build is O(Σ block²) with block size
    capped by the cell assignment — never corpus². Emits a DIRECTED
    edge list (vec_id → nbr_id, rank, cos); symmetrization (union with
    the reverse and dedup) is one extra aggregate when an undirected
    graph is needed.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.functions.vectors import l2_norm

    emb = t["embeddings"]
    v = tracked_persist(
        emb.select(
            "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm")
        ),
        "similarity.knn_graph_vecs",
    )
    a = v.select(
        F.col("vec_id").alias("vec_id"), "label",
        F.col("embedding").alias("e_a"), F.col("nrm").alias("n_a"),
    )
    b = v.select(
        F.col("vec_id").alias("nbr_id"), "label",
        F.col("embedding").alias("e_b"), F.col("nrm").alias("n_b"),
    )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(denom > 0, dot(F.col("e_a"), F.col("e_b")) / denom).otherwise(
        F.lit(0.0)
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("label", "vec_id", "nbr_id", rnd(cos, 4).alias("cos_sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "nbr_id")
    out = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "rank", "nbr_id", "cos_sim", "label")
    )
    return out


ORACLE_ANN_KNN_GRAPH = f"""
WITH pairs AS (
  SELECT a.label AS label, a.vec_id AS vec_id, b.vec_id AS nbr_id,
         {duck_rnd(duck_cosine('a.embedding', 'b.embedding'), 4)} AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id != b.vec_id
)
SELECT vec_id, CAST(rank AS INT) AS rank, nbr_id, cos_sim, label FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id
  ) AS rank
  FROM pairs
) WHERE rank <= {KNN_K}
ORDER BY vec_id, rank
"""

QUERIES["ann_knn_graph"] = ann_knn_graph
ORACLES["ann_knn_graph"] = ORACLE_ANN_KNN_GRAPH


# --- ann_recall_report -------------------------------------------------------

RECALL_METHODS = ("ann_lsh_probe", "ann_ivf", "ann_ivf_nprobe", "ann_pq_adc", "ann_pq_refine")


def ann_recall_report(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@{TOP_K} of every approximate ANN variant against the
    brute-force exact top-{TOP_K} — "measure, don't guess" applied to
    the ANN family itself: the artifact you read before trading exact
    scans for bucketed/coded search at scale.

    Each method's result set (already a ≤{TOP_K}-row plan) is tagged
    and unioned; one broadcast semi-join against the exact set marks
    hits; one aggregation emits (method, n_returned, n_hits, recall).
    Costs the sum of its member plans — the per-query top-k tables are
    single-digit rows regardless of corpus size.
    """
    exact = ann_topk_cosine(t).select("vec_id")
    tagged = None
    fns = {
        "ann_lsh_probe": ann_lsh_probe,
        "ann_ivf": ann_ivf,
        "ann_ivf_nprobe": ann_ivf_nprobe,
        "ann_pq_adc": ann_pq_adc,
        "ann_pq_refine": ann_pq_refine,
    }
    for name in RECALL_METHODS:
        m = fns[name](t).select("vec_id").withColumn("method", F.lit(name))
        tagged = m if tagged is None else tagged.unionByName(m)
    # ONE pass over the tagged union (r11, guide §5): `hits` (semi-join
    # + agg) and `returned` (bare agg) were two consumers of `tagged`,
    # and exchange reuse does not fire across the differing subtrees —
    # every member ANN plan executed TWICE per report. A left join
    # against the (distinct-keyed) exact set carries the hit marker
    # through a single aggregation instead: n_returned = count(*),
    # n_hits = count(marker), values identical to the semi-join form.
    ex = exact.withColumn("hit", F.lit(1))
    stats = (
        tagged.join(F.broadcast(ex), "vec_id", "left")
        .groupBy("method")
        .agg(
            F.count("*").alias("n_returned"),
            F.count("hit").alias("n_hits"),
        )
    )
    return (
        stats.select(
            "method",
            "n_returned",
            "n_hits",
            rnd(F.col("n_hits") / F.lit(float(TOP_K)), 4).alias("recall_at_k"),
        )
    )


def _duck_recall_report_sql() -> str:
    subs = {
        "ann_lsh_probe": _duck_lsh_probe_sql(),
        "ann_ivf": ORACLE_ANN_IVF,
        "ann_ivf_nprobe": ORACLE_ANN_IVF_NPROBE,
        "ann_pq_adc": ORACLE_ANN_PQ_ADC,
        "ann_pq_refine": ORACLE_ANN_PQ_REFINE,
    }
    union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, '{name}' AS method FROM ({sql})"
        for name, sql in subs.items()
    )
    return f"""
WITH exact AS (SELECT vec_id FROM ({ORACLE_ANN_TOPK})),
tagged AS (
{union}
)
SELECT method,
       count(*) AS n_returned,
       count(CASE WHEN vec_id IN (SELECT vec_id FROM exact) THEN 1 END) AS n_hits,
       {duck_rnd(f'count(CASE WHEN vec_id IN (SELECT vec_id FROM exact) THEN 1 END) / {float(TOP_K)}', 4)}
         AS recall_at_k
FROM tagged GROUP BY method ORDER BY method
"""


QUERIES["ann_recall_report"] = ann_recall_report
ORACLES["ann_recall_report"] = _duck_recall_report_sql()


# --- ann_batch_topk ----------------------------------------------------------

BATCH_Q_MOD = 97  # query set: vec_id ≡ 0 (mod 97)
BATCH_TOP_K = 3


def ann_batch_topk(t: dict[str, DataFrame]) -> DataFrame:
    """BATCH ANN serving: every query vector (the mod-97 sample) gets
    its top-3 cosine neighbors within its label block in ONE plan —
    the nightly batch-scoring shape, vs the single-query ops above.
    Queries broadcast (query set ≪ corpus); candidates are bounded to
    the block (label → IVF cell in production); per-query top-k is a
    rank window partitioned by the query id, so k·|queries| rows
    survive, never the full candidate product.
    """
    emb = t["embeddings"]
    qset = emb.filter(F.col("vec_id") % BATCH_Q_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    cands = emb.join(
        F.broadcast(qset),
        (F.col("label") == F.col("q_label"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BATCH_TOP_K)
        .select("query_id", "rank", "vec_id", "cos_sim")
    )


ORACLE_ANN_BATCH_TOPK = f"""
WITH qset AS (
  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
  FROM embeddings WHERE vec_id % {BATCH_Q_MOD} = 0
),
cands AS (
  SELECT query_id, vec_id,
         {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
  FROM embeddings JOIN qset
    ON label = q_label AND vec_id != query_id
)
SELECT query_id, rank, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rank
  FROM cands
)
WHERE rank <= {BATCH_TOP_K}
ORDER BY query_id, rank
"""

QUERIES["ann_batch_topk"] = ann_batch_topk
ORACLES["ann_batch_topk"] = ORACLE_ANN_BATCH_TOPK


# --- ann_filtered_topk -------------------------------------------------------

FILT_K = 10


def ann_filtered_topk(t: dict[str, DataFrame]) -> DataFrame:
    """Filtered ANN, PRE vs POST: top-{FILT_K} neighbors of the query
    vector under a metadata predicate (even label), computed both ways
    — pre-filtering (restrict candidates, then rank: always returns k)
    and post-filtering (global top-k, then filter: returns fewer when
    the predicate thins the neighborhood). The one-readout comparison
    behind every filtered-vector-search design debate; on this corpus
    post-filtering keeps only the even-label survivors of the global
    top-10, making the recall hole a measured number.
    """
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            rnd(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4).alias(
                "cos_sim"
            ),
        )
    )
    pred = F.col("label") % 2 == 0
    pre = (
        scored.filter(pred)
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(FILT_K)
        .agg(
            F.count("*").alias("k_returned"),
            rnd(F.min("cos_sim"), 4).alias("min_cos"),
            rnd(F.max("cos_sim"), 4).alias("max_cos"),
        )
        .withColumn("strategy", F.lit("pre_filter"))
    )
    post = (
        scored.orderBy(F.desc("cos_sim"), "vec_id")
        .limit(FILT_K)
        .filter(pred)
        .agg(
            F.count("*").alias("k_returned"),
            rnd(F.min("cos_sim"), 4).alias("min_cos"),
            rnd(F.max("cos_sim"), 4).alias("max_cos"),
        )
        .withColumn("strategy", F.lit("post_filter"))
    )
    return (
        pre.unionByName(post)
        .select("strategy", "k_returned", "min_cos", "max_cos")
    )


ORACLE_ANN_FILTERED = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT vec_id, label,
         {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
  FROM embeddings, q WHERE vec_id != {QUERY_VEC_ID}
),
pre AS (
  SELECT 'pre_filter' AS strategy, count(*) AS k_returned,
         {duck_rnd('min(cos_sim)', 4)} AS min_cos,
         {duck_rnd('max(cos_sim)', 4)} AS max_cos
  FROM (SELECT * FROM scored WHERE label % 2 = 0
        ORDER BY cos_sim DESC, vec_id LIMIT {FILT_K})
),
post AS (
  SELECT 'post_filter' AS strategy, count(*) AS k_returned,
         {duck_rnd('min(cos_sim)', 4)} AS min_cos,
         {duck_rnd('max(cos_sim)', 4)} AS max_cos
  FROM (SELECT * FROM scored ORDER BY cos_sim DESC, vec_id LIMIT {FILT_K})
  WHERE label % 2 = 0
)
SELECT * FROM pre UNION ALL SELECT * FROM post ORDER BY strategy
"""

QUERIES["ann_filtered_topk"] = ann_filtered_topk
ORACLES["ann_filtered_topk"] = ORACLE_ANN_FILTERED


# --- ann_ivf_pq (IVFADC) -----------------------------------------------------


def ann_ivf_pq(t: dict[str, DataFrame]) -> DataFrame:
    """IVF+PQ composed search (IVFADC — Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): coarse-probe
    the query's {N_PROBE} nearest cells, then rank ONLY those cells'
    vectors by asymmetric PQ distance over their 16-bit codes.

    This is the production billion-vector serving shape the separate
    ann_ivf_nprobe (cell restriction, raw vectors) and ann_pq_adc
    (codes, full corpus) entries each show half of: at 100 TB the code
    table is stored partitioned BY CELL, so the scan touches
    nprobe/n_cells of a table that is itself 128:1 smaller than the
    vectors — cell pruning multiplied by code compression. Plan: 3-row
    cell broadcast → cell-pruned code scan → broadcast K×M ADC table →
    partial-agg distance sum → TakeOrderedAndProject. The codebook is
    corpus-wide (a cell-restricted encode against it matches the
    precomputed index codes exactly).
    """
    emb = t["embeddings"]
    dims = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    centroids = (
        dims.groupBy("label", "pos")
        .agg((F.sum(F.col("v").cast(DECIMAL_T)).cast("double") / F.count(F.lit(1))).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )
    q_row = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    cells = (
        centroids.crossJoin(F.broadcast(q_row))
        .select(
            "label",
            cosine_similarity(F.col("centroid"), F.col("q_emb")).alias("c_cos"),
        )
        .orderBy(F.desc("c_cos"), "label")
        .limit(N_PROBE)
        .select(F.col("label").alias("cell"), rnd(F.col("c_cos"), 4).alias("cell_cos"))
    )
    member = emb.join(F.broadcast(cells), emb["label"] == F.col("cell")).select(
        "vec_id", "label", "embedding", "cell_cos"
    )
    codes = _pq_best_df(member, emb).select("vec_id", "m", "cid")
    q_sub = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.posexplode(_pq_slices()).alias("m", "qv")
    )
    table = q_sub.join(F.broadcast(_pq_codebook(emb)), "m").select(
        "m", "cid", _pq_d2(F.col("qv"), F.col("cv")).alias("qd2")
    )
    return (
        codes.join(F.broadcast(table), ["m", "cid"])
        .groupBy("vec_id")
        .agg(rnd(dsum(F.col("qd2")), 4).alias("approx_d2"))
        .join(member.select("vec_id", "label", "cell_cos"), "vec_id")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "cell_cos", "approx_d2")
        .orderBy("approx_d2", "vec_id")
        .limit(TOP_K)
    )


ORACLE_ANN_IVF_PQ = f"""
WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
dims AS (
  SELECT label, pos, embedding[pos]::DOUBLE AS v
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS pos)
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos,
           CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
    FROM dims GROUP BY label, pos
  )
  GROUP BY label
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cells AS (
  SELECT label AS cell, {duck_rnd(duck_cosine('centroid', 'q_emb'), 4)} AS cell_cos
  FROM centroids, q
  ORDER BY {duck_cosine('centroid', 'q_emb')} DESC, label
  LIMIT {N_PROBE}
),
member AS (
  SELECT e.vec_id, e.label, e.embedding, c.cell_cos
  FROM embeddings e JOIN cells c ON e.label = c.cell
),
sub AS (
  SELECT mm.vec_id, ms.m,
         (mm.embedding::DOUBLE[])[(ms.m * {PQ_SUB} + 1):((ms.m + 1) * {PQ_SUB})] AS sv
  FROM member mm, ms
),
cb AS (
  SELECT e.vec_id AS cid, m, {_PQ_SV} AS cv FROM embeddings e, ms
  WHERE e.vec_id < {PQ_K}
),
best AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m ORDER BY {_PQ_D2}, c.cid
           ) AS rn
    FROM sub s JOIN cb c USING (m)
  ) WHERE rn = 1
),
tbl AS (
  SELECT c.m, c.cid,
         (list_dot_product(qs.qv, qs.qv) - 2 * list_dot_product(qs.qv, c.cv)
          + list_dot_product(c.cv, c.cv)) AS qd2
  FROM cb c JOIN (
    SELECT m, {_PQ_QSV} AS qv FROM embeddings q, ms WHERE q.vec_id = {QUERY_VEC_ID}
  ) qs USING (m)
)
SELECT b.vec_id, mm.label, mm.cell_cos,
       {duck_rnd(duck_dsum('t.qd2'), 4)} AS approx_d2
FROM best b
JOIN tbl t USING (m, cid)
JOIN (SELECT DISTINCT vec_id, label, cell_cos FROM member) mm
  ON mm.vec_id = b.vec_id
WHERE b.vec_id != {QUERY_VEC_ID}
GROUP BY b.vec_id, mm.label, mm.cell_cos
ORDER BY approx_d2, b.vec_id
LIMIT {TOP_K}
"""

QUERIES["ann_ivf_pq"] = ann_ivf_pq
ORACLES["ann_ivf_pq"] = ORACLE_ANN_IVF_PQ


# --- ann_knn_graph_cells -----------------------------------------------------


def ann_knn_graph_cells(t: dict[str, DataFrame]) -> DataFrame:
    """k-NN graph over ADAPTIVE sqrt-n k-means cells — the 100 TB path
    for ann_knn_graph: the label blocks it ranks within hold n/|labels|
    vectors each, so block² pair work grows quadratically in corpus
    size at fixed label cardinality (SCALE_r05 measures the label-block
    build ~19x wall at 20x rows vs ~7x here, 7.7x faster absolute).
    Here the blocking key is the dd_semantic_dedup cell
    assignment: K = ceil(sqrt(n)) seeded centroids keeps within-cell
    pair work at O(n^1.5) BY CONSTRUCTION at any corpus size (K is
    recomputed from the live corpus count, never pinned), and the
    cell id is the storage partition key in production, so the
    self-join is co-located. Growth law: sqrt-n sizing BALANCES the
    n x K assignment scan against the n²/K within-cell pairs — both
    Θ(n^1.5) — so the expected wall step for a 2x data step is
    2^1.5 ≈ 2.83; SCALE_r06 measured 2.51 (at/below the law; a ≤2
    step would require the sub-n^1.5 serving path, which is
    ann_ivf_pq's job, not the graph build's). Approximation semantics are the standard
    graph-ANN trade: neighbors are cell-local (recall recovered at
    query time by nprobe-style multi-assignment); the oracle mirrors
    the same cells, so the gate is exact over the approximate
    definition.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.functions.vectors import dot, l2_norm

    emb = t["embeddings"]
    k_row = emb.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("k"))
    cent = (
        emb.crossJoin(F.broadcast(k_row))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    av, cv = F.col("embedding"), F.col("cvec")
    d2 = (dot(av, av) - 2 * dot(av, cv) + dot(cv, cv)).alias("d2")
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", d2)
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cell"))
    )
    v = tracked_persist(
        emb.join(assigned, "vec_id").select(
            "vec_id", "cell", "embedding", l2_norm(F.col("embedding")).alias("nrm")
        ),
        "similarity.knn_cells",
    )
    # Spread the probe side on cell before the within-cell expansion —
    # same rationale as dd_semantic_dedup (AQE coalesces the cached
    # assignment by bytes; the per-pair cosine cost needs the machine).
    n_part = int(v.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = v.repartition(n_part, F.col("cell")).select(
        "vec_id", "cell", F.col("embedding").alias("e_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col("vec_id").alias("nbr_id"), "cell",
        F.col("embedding").alias("e_b"), F.col("nrm").alias("n_b"),
    )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(denom > 0, dot(F.col("e_a"), F.col("e_b")) / denom).otherwise(
        F.lit(0.0)
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("cell", "vec_id", "nbr_id", rnd(cos, 4).alias("cos_sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "nbr_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "rank", "nbr_id", "cos_sim", "cell")
    )


def _oracle_knn_cells() -> str:
    from pypers_spark.functions.vectors import duck_dot

    d2 = (
        f"({duck_dot('e.embedding', 'e.embedding')} "
        f"- 2 * {duck_dot('e.embedding', 'c.cvec')} "
        f"+ {duck_dot('c.cvec', 'c.cvec')})"
    )
    return f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)
),
dist AS (
  SELECT e.vec_id, c.cid, {d2} AS d2
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dist
  ) WHERE rn = 1
),
v AS (
  SELECT e.vec_id, a.cell, e.embedding
  FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
),
pairs AS (
  SELECT v1.cell AS cell, v1.vec_id AS vec_id, v2.vec_id AS nbr_id,
         {duck_rnd(duck_cosine('v1.embedding', 'v2.embedding'), 4)} AS cos_sim
  FROM v v1 JOIN v v2 ON v1.cell = v2.cell AND v1.vec_id != v2.vec_id
)
SELECT vec_id, CAST(rank AS INT) AS rank, nbr_id, cos_sim, cell FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id
  ) AS rank
  FROM pairs
) WHERE rank <= {KNN_K}
ORDER BY vec_id, rank
"""


QUERIES["ann_knn_graph_cells"] = ann_knn_graph_cells
ORACLES["ann_knn_graph_cells"] = _oracle_knn_cells()


# --- ann_graph_search --------------------------------------------------------

GS_QMOD, GS_QRES = 101, 7  # deterministic query-vector selection
GS_HOPS = 2                # unrolled beam-expansion hops
GS_BEAM = 8                # beam width
GS_TOPK = 5                # emitted neighbors per query


def ann_graph_search(t: dict[str, DataFrame]) -> DataFrame:
    """Graph-based ANN SERVING (the HNSW/DiskANN-shaped read path) over
    the cell-kNN graph: each query vector enters at one entry node per
    k-means cell (the IVF-style multi-entry that makes a cell-local
    graph reachable), keeps a beam of the {GS_BEAM} best candidates by
    true cosine, and expands {GS_HOPS} unrolled hops along the
    {KNN_K}-NN out-edges before emitting its top {GS_TOPK}. Queries
    are vec_id % {GS_QMOD} == {GS_QRES} — a deterministic handful at
    any corpus size.

    Scale shape: the hop join is (beam rows) ⋈ edges keyed on node id
    — candidate volume is Q·B·{KNN_K} per hop, never corpus-squared;
    scoring joins the candidate ids back to the (persisted) embedding
    table on its key. Each hop's beam is MATERIALIZED (the gr_k_core
    lesson: the union references the previous beam twice, so an
    unmaterialized unroll doubles plan copies per hop). The graph
    build itself is ann_knn_graph_cells' Θ(n^1.5) plan, shared via
    tracked_persist; at 100 TB the graph is a stored table and this
    query is pure serving.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.functions.vectors import cosine_similarity

    knn = tracked_persist(
        ann_knn_graph_cells(t).select("vec_id", "nbr_id", "cell"),
        "similarity.gs_edges",
    )
    emb = tracked_persist(
        t["embeddings"].select("vec_id", "embedding"),
        "similarity.gs_emb",
    )
    qv = emb.filter(
        F.col("vec_id") % GS_QMOD == GS_QRES
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    entries = knn.groupBy("cell").agg(F.min("vec_id").alias("node_id"))

    def scored(cand: DataFrame) -> DataFrame:
        s = (
            cand.join(emb, cand["node_id"] == emb["vec_id"])
            .join(F.broadcast(qv), "q_id")
            .select(
                "q_id",
                "node_id",
                rnd(cosine_similarity(F.col("qe"), F.col("embedding")), 4).alias(
                    "cos_sim"
                ),
            )
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "node_id")
        return s.withColumn("rn", F.row_number().over(w))

    beam = tracked_persist(
        scored(qv.crossJoin(entries.select("node_id")).select("q_id", "node_id"))
        .filter(F.col("rn") <= GS_BEAM)
        .select("q_id", "node_id"),
        "similarity.gs_beam0",
    )
    last = None
    for h in range(1, GS_HOPS + 1):
        cand = beam.unionByName(
            beam.join(knn, beam["node_id"] == knn["vec_id"]).select(
                "q_id", F.col("nbr_id").alias("node_id")
            )
        ).distinct()
        last = tracked_persist(scored(cand), f"similarity.gs_s{h}")
        beam = last.filter(F.col("rn") <= GS_BEAM).select("q_id", "node_id")
    return (
        last.filter(F.col("rn") <= GS_TOPK)
        .select("q_id", F.col("rn").cast("int").alias("rank"), "node_id", "cos_sim")
    )


def _oracle_graph_search() -> str:
    from pypers_spark.functions.vectors import duck_cosine

    knn_sql = _oracle_knn_cells().replace("ORDER BY vec_id, rank", "")
    cos = duck_cosine("q.qe", "m.embedding")
    hops = []
    for h in range(1, GS_HOPS + 1):
        p = h - 1
        hops.append(f"""
c{h} AS (
  SELECT DISTINCT q_id, node_id FROM (
    SELECT q_id, node_id FROM b{p}
    UNION ALL
    SELECT b.q_id, e.nbr_id AS node_id
    FROM b{p} b JOIN edges e ON b.node_id = e.vec_id
  )
),
s{h} AS (
  SELECT q_id, node_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, node_id) AS rn
  FROM (
    SELECT c.q_id, c.node_id, {duck_rnd(cos, 4)} AS cos_sim
    FROM c{h} c JOIN embeddings m ON c.node_id = m.vec_id
    JOIN qv q ON c.q_id = q.q_id
  )
),
b{h} AS (SELECT q_id, node_id FROM s{h} WHERE rn <= {GS_BEAM})""")
    return f"""
WITH knn AS ({knn_sql}),
edges AS (SELECT vec_id, nbr_id FROM knn),
qv AS (
  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
  WHERE vec_id % {GS_QMOD} = {GS_QRES}
),
entries AS (SELECT cell, min(vec_id) AS node_id FROM knn GROUP BY 1),
s0 AS (
  SELECT q_id, node_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, node_id) AS rn
  FROM (
    SELECT q.q_id, c.node_id, {duck_rnd(cos, 4)} AS cos_sim
    FROM qv q CROSS JOIN entries c
    JOIN embeddings m ON c.node_id = m.vec_id
  )
),
b0 AS (SELECT q_id, node_id FROM s0 WHERE rn <= {GS_BEAM}),{",".join(hops)}
SELECT q_id, CAST(rn AS INT) AS rank, node_id, cos_sim
FROM s{GS_HOPS}
WHERE rn <= {GS_TOPK}
ORDER BY q_id, rank
"""


QUERIES["ann_graph_search"] = ann_graph_search
ORACLES["ann_graph_search"] = _oracle_graph_search()


# --- ann_sq8 (r8: scalar quantization) ----------------------------------------

SQ_LEVELS = 255  # int8 code range 0..255 per dimension


def _sq_bounds(emb: DataFrame) -> DataFrame:
    """Per-dimension (lo, hi) corpus bounds — the SQ8 'codebook': 
    {EMB_DIM} rows, broadcast everywhere."""
    return (
        emb.select(F.posexplode(F.col("embedding")).alias("dim", "x"))
        .withColumn("x", F.col("x").cast("double"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )


def ann_sq8(t: dict[str, DataFrame]) -> DataFrame:
    """Scalar-quantization (SQ8) ANN serving: every dimension compresses
    to one byte against per-dim corpus (lo, hi) bounds — the int8 index
    layout production vector stores default to before PQ — and the
    query runs asymmetric distance against the RECONSTRUCTED codes
    (lo + (c + 0.5)·(hi − lo)/{SQ_LEVELS}), never the raw vectors.
    Readout: top-{TOP_K} by approximate d², the ann_pq_adc twin at 4×
    the code budget (64 B vs 256 B raw, vs PQ's 2 B).

    Scale shape: bounds are {EMB_DIM} broadcast rows (two map-side
    partial aggregations to build); encode + query terms are one
    exploded projection joined to the broadcast bounds; the per-vector
    sum is a partial-aggregated shuffle on vec_id through the
    order-free quantized accumulator. Quantization parity: the
    ((x − lo)·{SQ_LEVELS})/(hi − lo) floor runs the identical IEEE
    association in both engines (the zone-map discipline), so codes are
    bit-equal, not merely close.
    """
    emb = t["embeddings"]
    bounds = _sq_bounds(emb)
    rows = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    width = F.col("hi") - F.col("lo")
    code = F.when(width > 0, F.least(
        F.greatest(
            F.floor(((F.col("x") - F.col("lo")) * SQ_LEVELS) / width),
            F.lit(0),
        ),
        F.lit(SQ_LEVELS),
    ).cast("int")).otherwise(F.lit(0))
    codes = rows.join(F.broadcast(bounds), "dim").select(
        "vec_id", "dim", code.alias("c")
    )
    recon = F.col("lo") + (
        (F.col("c") + F.lit(0.5)) * (F.col("hi") - F.col("lo"))
    ) / F.lit(float(SQ_LEVELS))
    q = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.posexplode(F.col("embedding")).alias("dim", "qx"))
        .withColumn("qx", F.col("qx").cast("double"))
    )
    terms = (
        codes.join(F.broadcast(bounds), "dim")
        .join(F.broadcast(q), "dim")
        .select(
            "vec_id",
            ((F.col("qx") - recon) * (F.col("qx") - recon)).alias("term"),
        )
    )
    return (
        terms.groupBy("vec_id")
        .agg(rnd(dsum(F.col("term")), 4).alias("approx_d2"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("approx_d2", "vec_id")
        .limit(TOP_K)
    )


ORACLE_ANN_SQ8 = f"""
WITH rows_x AS (
  SELECT vec_id, CAST(d.i AS INT) - 1 AS dim,
         CAST(embedding[d.i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, {EMB_DIM} + 1)) AS d(i)
),
bounds AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM rows_x GROUP BY dim
),
codes AS (
  SELECT vec_id, r.dim,
         CASE WHEN hi - lo > 0 THEN
           CAST(least(greatest(floor(((x - lo) * {SQ_LEVELS}) / (hi - lo)), 0),
                      {SQ_LEVELS}) AS INT)
         ELSE 0 END AS c
  FROM rows_x r JOIN bounds b ON r.dim = b.dim
),
q AS (
  SELECT CAST(d.i AS INT) - 1 AS dim, CAST(embedding[d.i] AS DOUBLE) AS qx
  FROM embeddings, unnest(range(1, {EMB_DIM} + 1)) AS d(i)
  WHERE vec_id = {QUERY_VEC_ID}
),
terms AS (
  SELECT vec_id,
         (qx - (lo + ((c + 0.5) * (hi - lo)) / {float(SQ_LEVELS)}))
         * (qx - (lo + ((c + 0.5) * (hi - lo)) / {float(SQ_LEVELS)})) AS term
  FROM codes
  JOIN bounds USING (dim)
  JOIN q USING (dim)
)
SELECT vec_id, {duck_rnd(duck_dsum('term'), 4)} AS approx_d2
FROM terms
WHERE vec_id != {QUERY_VEC_ID}
GROUP BY vec_id
ORDER BY approx_d2, vec_id
LIMIT {TOP_K}
"""

QUERIES["ann_sq8"] = ann_sq8
ORACLES["ann_sq8"] = ORACLE_ANN_SQ8


# --- ann_mips (r8): maximum-inner-product top-k via norm augmentation --------
#
# The MIPS→cosine reduction (Shrivastava & Li, NeurIPS 2014 "ALSH"):
# augment every base vector x with an extra coordinate sqrt(M² − ‖x‖²)
# where M = max base norm, and the query with 0 — then
# cos(x̂, q̂) = (x·q) / (M·‖q‖), i.e. cosine order on the augmented
# vectors IS inner-product order on the originals. That is what lets an
# inner-product workload (recommender scores, un-normalized retrieval
# embeddings) ride the existing cosine-LSH/IVF infrastructure at 100 TB:
# M is one scalar aggregate (broadcast), the augmentation is a map-side
# column, and every bucketing path above stays valid.


def ann_mips(t: dict[str, DataFrame]) -> DataFrame:
    """Top-{TOP_K} by inner product against QUERY_VEC_ID, scored through
    the augmented-cosine transform (both the raw inner product and the
    equivalent augmented cosine are emitted; the orders coincide by
    construction — the gate pins the transform's correctness)."""
    emb = t["embeddings"]
    base = emb.filter(F.col("vec_id") != QUERY_VEC_ID)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    # M² = max squared base norm — one scalar aggregate, broadcast.
    m2 = base.agg(
        F.max(dot(F.col("embedding"), F.col("embedding"))).alias("m2")
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(m2))
        .select(
            "vec_id",
            "label",
            dot(F.col("embedding"), F.col("q_emb")).alias("ip"),
            F.col("m2"),
            dot(F.col("q_emb"), F.col("q_emb")).alias("qn2"),
        )
        .select(
            "vec_id",
            "label",
            rnd(F.col("ip"), 4).alias("inner_product"),
            rnd(
                F.col("ip") / (F.sqrt(F.col("m2")) * F.sqrt(F.col("qn2"))), 6
            ).alias("aug_cos"),
        )
    )
    return scored.orderBy(F.desc("inner_product"), "vec_id").limit(TOP_K)


ORACLE_ANN_MIPS = f"""
WITH q AS (
  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
m AS (
  SELECT max({duck_dot('embedding', 'embedding')}) AS m2
  FROM embeddings WHERE vec_id != {QUERY_VEC_ID}
)
SELECT vec_id, label,
       {duck_rnd(duck_dot('embedding', 'q_emb'), 4)} AS inner_product,
       {duck_rnd(
           duck_dot('embedding', 'q_emb')
           + ' / (sqrt(m2) * sqrt(' + duck_dot('q_emb', 'q_emb') + '))', 6
       )} AS aug_cos
FROM embeddings, q, m
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY inner_product DESC, vec_id
LIMIT {TOP_K}
"""

QUERIES["ann_mips"] = ann_mips
ORACLES["ann_mips"] = ORACLE_ANN_MIPS


# --- ann_maxsim (r8): multi-vector late-interaction retrieval ----------------

MAXSIM_TOP_K = 10


def ann_maxsim(t: dict[str, DataFrame]) -> DataFrame:
    """ColBERT-style MaxSim retrieval with the label group as the
    multi-vector document: doc score = max cosine between the query and
    any of the doc's vectors; top-{MAXSIM_TOP_K} docs with the winning
    vector id.

    Scale shape: one scan scoring every vector against the broadcast
    query (the same brute-force kernel as ann_topk_cosine — or any ANN
    serving path above it), then a per-doc max which is a hash
    aggregation on the doc key with map-side combine: the late
    interaction costs ONE extra shuffle over single-vector retrieval,
    never a per-doc loop. Winner selection is a rank-1 window per doc
    keyed on bit-identical doubles, so the argmax is deterministic.
    """
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos_raw"), "vec_id")
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n_vecs", F.count(F.lit(1)).over(Window.partitionBy("label")))
        .filter(F.col("rk") == 1)
        .select(
            "label",
            "n_vecs",
            F.col("vec_id").alias("best_vec_id"),
            rnd(F.col("cos_raw"), 4).alias("maxsim"),
        )
    )
    return best.orderBy(F.desc("maxsim"), "label").limit(MAXSIM_TOP_K)


ORACLE_ANN_MAXSIM = f"""
WITH q AS (
  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
  SELECT vec_id, label, {duck_cosine('embedding', 'q_emb')} AS cos_raw
  FROM embeddings, q
  WHERE vec_id != {QUERY_VEC_ID}
),
ranked AS (
  SELECT label, vec_id, cos_raw,
         row_number() OVER (PARTITION BY label ORDER BY cos_raw DESC, vec_id) AS rk,
         count(*) OVER (PARTITION BY label) AS n_vecs
  FROM scored
)
SELECT label, n_vecs, vec_id AS best_vec_id, {duck_rnd('cos_raw', 4)} AS maxsim
FROM ranked
WHERE rk = 1
ORDER BY maxsim DESC, label
LIMIT {MAXSIM_TOP_K}
"""

QUERIES["ann_maxsim"] = ann_maxsim
ORACLES["ann_maxsim"] = ORACLE_ANN_MAXSIM


# --- pipe_ann (r8): the ANN serving pipeline through Stage/Pipeline ----------


def pipe_ann(t: dict[str, DataFrame]) -> DataFrame:
    """Seventh composed pipeline in the gate: the ANN SERVING pass —
    ingest → IVF index build (exact-mean label-cell centroids) → batch
    serve (every mod-{BATCH_Q_MOD} query probes its nearest cell,
    top-{BATCH_TOP_K} within the cell) → per-cell serving report — all
    through create_pipeline/Pipeline.process, so the orchestration of
    the retrieval stack itself sits inside the value gate the way
    pipe_curation does for dedup and pipe_lakehouse for the write path.

    One Catalyst plan: centroids are a 10-row broadcast, probe
    selection is a rank-1 window over |queries|×|cells| rows, the cell
    scan is an equi-join on the cell key (1/n_cells of the corpus per
    query at scale), and the report is one hash aggregation. Cosines
    ride bit-identical doubles; the per-cell mean goes through dsum.
    """
    from pypers_spark.config import Config
    from pypers_spark.pipeline import create_pipeline
    from pypers_spark.stage import Stage

    class Ingest(Stage):
        outputs = ("emb",)

        def process(self, pipeline, config, status=None, **inputs):
            from pypers_spark.session import current_session
            from pypers_spark.sources.io import read_parquet

            spark = current_session()
            df = read_parquet(spark, f'{config["sf_dir"]}/embeddings.parquet')
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            return {"emb": df.repartition(n, F.col("vec_id"))}

    class BuildIndex(Stage):
        inputs = ("emb",)
        outputs = ("centroids",)

        def process(self, pipeline, config, status=None, emb=None, **inputs):
            dims = emb.select(
                "label", F.posexplode("embedding").alias("pos", "v")
            )
            centroids = (
                dims.groupBy("label", "pos")
                .agg(
                    (
                        F.sum(F.col("v").cast(DECIMAL_T)).cast("double")
                        / F.count(F.lit(1))
                    ).alias("m")
                )
                .groupBy("label")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"],
                    ).alias("centroid")
                )
            )
            return {"centroids": centroids}

    class Serve(Stage):
        consumes = ("emb", "centroids")
        outputs = ("hits",)

        def process(
            self, pipeline, config, status=None, emb=None, centroids=None, **inputs
        ):
            mod = int(config.get("q_mod", BATCH_Q_MOD))
            k = int(config.get("top_k", BATCH_TOP_K))
            qset = emb.filter(F.col("vec_id") % mod == 0).select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
                F.col("embedding").alias("q_emb"),
            )
            probes = qset.crossJoin(F.broadcast(centroids)).select(
                "query_id",
                "q_label",
                "q_emb",
                F.col("label").alias("cell"),
                cosine_similarity(F.col("centroid"), F.col("q_emb")).alias("c_cos"),
            )
            wp = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), "cell")
            probe1 = (
                probes.withColumn("prk", F.row_number().over(wp))
                .filter(F.col("prk") == 1)
                .select("query_id", "q_label", "q_emb", "cell")
            )
            cands = emb.join(
                F.broadcast(probe1),
                (emb["label"] == F.col("cell"))
                & (F.col("vec_id") != F.col("query_id")),
            ).select(
                "query_id",
                "q_label",
                "cell",
                "vec_id",
                rnd(
                    cosine_similarity(F.col("embedding"), F.col("q_emb")), 4
                ).alias("cos_sim"),
            )
            wk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
            return {
                "hits": cands.withColumn("rk", F.row_number().over(wk)).filter(
                    F.col("rk") <= k
                )
            }

    class Report(Stage):
        consumes = ("hits",)
        outputs = ("report",)

        def process(self, pipeline, config, status=None, hits=None, **inputs):
            return {
                "report": hits.groupBy("cell").agg(
                    F.count_distinct("query_id").alias("n_queries"),
                    F.count(F.lit(1)).alias("n_results"),
                    F.count_distinct(
                        F.when(F.col("q_label") == F.col("cell"), F.col("query_id"))
                    ).alias("n_home_cell"),
                    rnd(dsum(F.col("cos_sim")) / F.count(F.lit(1)), 4).alias(
                        "avg_cos"
                    ),
                )
            }

    pipeline = create_pipeline([Ingest(), BuildIndex(), Serve(), Report()])
    config = Config({"ingest": {"sf_dir": t._sf_dir}})
    data, _, _ = pipeline.process(input_id=1, config=config)
    return data["report"]


ORACLE_PIPE_ANN = f"""
WITH dims AS (
  SELECT label, pos, embedding[pos]::DOUBLE AS v
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS pos)
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos,
           CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
    FROM dims GROUP BY label, pos
  )
  GROUP BY label
),
qset AS (
  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
  FROM embeddings WHERE vec_id % {BATCH_Q_MOD} = 0
),
probes AS (
  SELECT query_id, q_label, q_emb, c.label AS cell,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {duck_cosine('centroid', 'q_emb')} DESC, c.label
         ) AS prk
  FROM qset, centroids c
),
probe1 AS (SELECT query_id, q_label, q_emb, cell FROM probes WHERE prk = 1),
cands AS (
  SELECT query_id, q_label, cell, vec_id,
         {duck_rnd(duck_cosine('embedding', 'q_emb'), 4)} AS cos_sim
  FROM embeddings JOIN probe1
    ON label = cell AND vec_id != query_id
),
hits AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id) AS rk
    FROM cands
  ) WHERE rk <= {BATCH_TOP_K}
)
SELECT cell,
       count(DISTINCT query_id) AS n_queries,
       count(*) AS n_results,
       count(DISTINCT CASE WHEN q_label = cell THEN query_id END) AS n_home_cell,
       {duck_rnd(duck_dsum('cos_sim') + ' / count(*)', 4)} AS avg_cos
FROM hits
GROUP BY cell
ORDER BY cell
"""

QUERIES["pipe_ann"] = pipe_ann
ORACLES["pipe_ann"] = ORACLE_PIPE_ANN
