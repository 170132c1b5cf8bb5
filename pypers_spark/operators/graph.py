"""Graph and profiling operators (SURVEY.md §2.B/§2.D additions).

- ``gr_pagerank``: fixed-iteration PageRank over the embedding near-dup
  pair graph — the canonical iterative-join workload. Iterations are
  UNROLLED (3 rounds), so the whole computation is one Catalyst plan and
  the DuckDB oracle is a plain CTE chain (no recursion, no driver loop).
- ``op_winsorize``: robust per-group statistics — winsorized mean at
  the exact p05/p95 bounds (the standard heavy-tail-resistant metric
  gate for event streams).
- ``op_profile_table``: one-pass column profiling (null counts,
  distinct counts, numeric ranges) in long format — the data-quality
  snapshot a pipeline runs before training-data ingestion.

Float discipline: rank-mass sums quantize to 1e-9 int64s before
aggregation (order-free, exact, identical in both engines; plain double
sums would be partition-order-dependent); winsorized means go through
the shared 1e-6 ``dsum``.

Scale notes (100 TB intent):
- PageRank joins edges⋈ranks keyed on the source node and aggregates on
  the destination — per iteration: one shuffle, partial-aggregated.
  Degrees and ranks are node-cardinality tables (≪ edges); AQE picks
  broadcast when the node side fits.
- Profiling is ONE scan with multiple distinct aggregates (Spark
  expands internally); no per-column rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd

QUERIES: dict = {}
ORACLES: dict = {}


# --- gr_pagerank -------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERS = 3
PR_SCALE = 1_000_000_000  # 1e-9 rank-mass quantum


def _psum(col) -> F.Column:
    """Order-independent exact sum for rank mass (1e-9 quantum)."""
    return (
        F.sum(F.floor(col * PR_SCALE + F.lit(0.5))) / F.lit(float(PR_SCALE))
    ).cast("double")


def _duck_psum(expr: str) -> str:
    return (
        f"(CAST(sum(CAST(floor(({expr}) * {PR_SCALE}.0 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {PR_SCALE}.0)"
    )


def _t03_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """The τ=0.3 near-dup pair table, persisted under ONE shared key.

    r11 (guide §5 caching rule): six graph operators consume the
    identical pair plan; before this helper each persisted it under its
    own key (tri_pairs / mod_pairs / kcore_pairs / lp_pairs / aa_pairs
    + two unpersisted uses), so a bench or sweep built and cached the
    same pairwise-cosine table up to six times. One key = one build,
    one cache entry, every later consumer reuses it (tracked_persist
    memoizes on plan equality)."""
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.operators.similarity import (
        COS_T03,
        _embedding_cos_pairs,
    )

    return tracked_persist(
        _embedding_cos_pairs(t, COS_T03).select("id_a", "id_b"),
        "graph.t03_pairs",
    )


def _pagerank_on_pairs(t: dict[str, DataFrame], tau: float, cache_tag: str) -> DataFrame:
    """PageRank (damping {PR_DAMPING}, {PR_ITERS} unrolled iterations) on
    the undirected near-dup pair graph from the cosine-τ pair query.

    Ranks are N-scaled (start at 1.0, converge around 1.0) so the 1e-9
    quantization keeps ~9 significant digits at any graph size. Every
    node of this graph has degree >= 1 (edges are doubled pairs), so
    there is no dangling-mass term.

    Reference shape: iterative label/rank propagation like
    /root/reference's dependency-closure walks (pipeline.py:409), here
    as pure relational algebra.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.operators.similarity import _embedding_cos_pairs

    # Every iteration re-reads edges and deg — persist them, or the
    # O(n^2/block) pairwise cosine join re-executes once per iteration
    # (measured 8.9 s vs 2 s for 3 iterations at sf0.1). This is the
    # parquet-checkpoint boundary a 100 TB run would write instead.
    pairs = _embedding_cos_pairs(t, tau).select("id_a", "id_b")
    edges = tracked_persist(
        pairs.union(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        ),
        f"graph.pr_edges{cache_tag}",
    )  # directed both ways
    deg = tracked_persist(
        edges.groupBy("id_a").agg(F.count("*").alias("deg")), f"graph.pr_deg{cache_tag}"
    )
    ranks = deg.select(F.col("id_a").alias("v"), F.lit(1.0).alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(deg, "id_a")
            .join(ranks, edges["id_a"] == ranks["v"])
            .select(F.col("id_b").alias("v"), (F.col("r") / F.col("deg")).alias("m"))
        )
        ranks = contrib.groupBy("v").agg(
            (F.lit(1.0 - PR_DAMPING) + F.lit(PR_DAMPING) * _psum(F.col("m"))).alias("r")
        )
    return (
        ranks.select(F.col("v").alias("vec_id"), rnd(F.col("r"), 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "vec_id")
        .limit(20)
    )


def gr_pagerank(t: dict[str, DataFrame]) -> DataFrame:
    """PageRank on the production-threshold (τ=0.9) near-dup graph —
    non-vacuous via the planted clone pairs (similarity.PLANT_N), so
    the iterative rank plan runs over real edges at this threshold."""
    from pypers_spark.operators.similarity import COS_THRESHOLD

    return _pagerank_on_pairs(t, COS_THRESHOLD, "")


def gr_pagerank_t03(t: dict[str, DataFrame]) -> DataFrame:
    """τ=0.3 variant over the RAW table: the organic pair graph is much
    larger (multi-edge nodes), exercising mass-splitting across degrees."""
    from pypers_spark.operators.similarity import COS_T03

    return _pagerank_on_pairs(t, COS_T03, "_t03")


def _duck_pagerank(tau: float | None = None) -> str:
    from pypers_spark.operators.similarity import ORACLE_DD_EMB, _oracle_dd_emb

    emb_sql = ORACLE_DD_EMB if tau is None else _oracle_dd_emb(tau)
    pair_sql = emb_sql.replace("ORDER BY label, id_a, id_b", "")
    it = """
it{k} AS (
  SELECT e.id_b AS v,
         {one_minus_d} + {d} * {mass} AS r
  FROM edges e JOIN deg USING (id_a) JOIN it{p} ON e.id_a = it{p}.v
  GROUP BY e.id_b
)"""
    chains = ",".join(
        it.format(
            k=k,
            p=k - 1,
            one_minus_d=1.0 - PR_DAMPING,
            d=PR_DAMPING,
            mass=_duck_psum(f"it{k - 1}.r / deg.deg"),
        )
        for k in range(1, PR_ITERS + 1)
    )
    return f"""
WITH pairs AS ({pair_sql}),
edges AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
),
deg AS (SELECT id_a, count(*) AS deg FROM edges GROUP BY id_a),
it0 AS (SELECT id_a AS v, 1.0 AS r FROM deg),
{chains}
SELECT v AS vec_id, {duck_rnd(f"r", 6)} AS pagerank
FROM it{PR_ITERS} ORDER BY pagerank DESC, vec_id LIMIT 20
"""


QUERIES["gr_pagerank"] = gr_pagerank
ORACLES["gr_pagerank"] = _duck_pagerank()
QUERIES["gr_pagerank_t03"] = gr_pagerank_t03


def _oracle_pagerank_t03() -> str:
    from pypers_spark.operators.similarity import COS_T03

    return _duck_pagerank(COS_T03)


ORACLES["gr_pagerank_t03"] = _oracle_pagerank_t03()


# --- op_winsorize ------------------------------------------------------------


def op_winsorize(t: dict[str, DataFrame]) -> DataFrame:
    """Winsorized mean per event type: clip values to the exact
    [p05, p95] interpolated percentiles, then average — the robust
    location estimate next to ev_mad_outliers' robust spread gate.

    Two aggregations over the same event_type keying (percentiles, then
    clipped means); the per-type bound table broadcasts back onto the
    stream. The percentiles are quantized to 1e-6 in BOTH engines
    before the clip: cross-engine equality must not rest on two float
    interpolation implementations agreeing to the last ulp (see
    ev_mad_outliers).
    """
    from pypers_spark.functions.percentile import exact_percentiles

    ev = t["events"]
    bounds = exact_percentiles(
        ev, "value", [(0.05, "_p05"), (0.95, "_p95")], group_cols=["event_type"]
    ).select(
        "event_type",
        rnd(F.col("_p05"), 6).alias("p05"),
        rnd(F.col("_p95"), 6).alias("p95"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "v_w", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            rnd(dsum(F.col("value")) / F.count("*"), 4).alias("mean_raw"),
            rnd(dsum(F.col("v_w")) / F.count("*"), 4).alias("mean_winsorized"),
            rnd(F.first("p05"), 4).alias("p05"),
            rnd(F.first("p95"), 4).alias("p95"),
        )
    )


ORACLE_WINSORIZE = f"""
WITH bounds AS (
  SELECT event_type,
         {duck_rnd('quantile_cont(value, 0.05)', 6)} AS p05,
         {duck_rnd('quantile_cont(value, 0.95)', 6)} AS p95
  FROM events GROUP BY event_type
),
clipped AS (
  SELECT e.event_type, e.value,
         least(greatest(e.value, b.p05), b.p95) AS v_w, b.p05, b.p95
  FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type, count(*) AS n,
       {duck_rnd(f"{duck_dsum('value')} / count(*)", 4)} AS mean_raw,
       {duck_rnd(f"{duck_dsum('v_w')} / count(*)", 4)} AS mean_winsorized,
       {duck_rnd("any_value(p05)", 4)} AS p05,
       {duck_rnd("any_value(p95)", 4)} AS p95
FROM clipped GROUP BY event_type ORDER BY event_type
"""

QUERIES["op_winsorize"] = op_winsorize
ORACLES["op_winsorize"] = ORACLE_WINSORIZE


# --- op_profile_table --------------------------------------------------------

_PROFILE_COLS = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
)


def op_profile_table(t: dict[str, DataFrame]) -> DataFrame:
    """One-pass data-quality profile of ``orders`` in long format: per
    column — non-null count, null count, distinct count, and (for
    numeric columns) the min/max.

    A single scan computes every metric (multi-distinct aggregates
    expand inside one Aggregate node); the wide→long pivot is a
    constant-size stack, not a rescan per column.
    """
    o = t["orders"]
    aggs = []
    for c, numeric in _PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
        ]
        if numeric:
            aggs += [
                F.min(F.col(c)).cast("double").alias(f"{c}__mn"),
                F.max(F.col(c)).cast("double").alias(f"{c}__mx"),
            ]
    wide = o.agg(F.count("*").alias("n_rows"), *aggs)
    stack_args = []
    for c, numeric in _PROFILE_COLS:
        mn = f"{c}__mn" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"{c}__mx" if numeric else "CAST(NULL AS DOUBLE)"
        stack_args.append(f"'{c}', {c}__nn, {c}__nd, {mn}, {mx}")
    n = len(_PROFILE_COLS)
    long = wide.select(
        "n_rows",
        F.expr(
            f"stack({n}, {', '.join(stack_args)}) "
            "AS (col_name, n_nonnull, n_distinct, min_num, max_num)"
        ),
    )
    return long.select(
        "col_name",
        "n_nonnull",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
        rnd(F.col("min_num"), 4).alias("min_num"),
        rnd(F.col("max_num"), 4).alias("max_num"),
    )


def _duck_profile() -> str:
    rows = []
    for c, numeric in _PROFILE_COLS:
        mn = f"{duck_rnd(f'min({c})::DOUBLE', 4)}" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"{duck_rnd(f'max({c})::DOUBLE', 4)}" if numeric else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"SELECT '{c}' AS col_name, count({c}) AS n_nonnull,"
            f" count(*) - count({c}) AS n_null,"
            f" count(DISTINCT {c}) AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num FROM orders"
        )
    return " UNION ALL ".join(rows) + " ORDER BY col_name"


QUERIES["op_profile_table"] = op_profile_table
ORACLES["op_profile_table"] = _duck_profile()


# --- gr_degree_stats ---------------------------------------------------------


def gr_degree_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Degree histogram of the τ=0.3 embedding near-dup graph: how many
    nodes have each degree — the first diagnostic run on any pair graph
    (a heavy tail here predicts LSH bucket skew and quadratic verify
    cost downstream).

    Two hash aggregations over node-cardinality data (edges → per-node
    degree → histogram); the pairwise cosine join dominates and is
    shared/persisted via ``_embedding_cos_pairs``'s norm table. At
    100 TB the pair graph would come from a checkpointed parquet table
    and this is two cheap shuffles over node counts.
    """
    pairs = _t03_pairs(t)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = edges.groupBy("id_a").agg(F.count("*").alias("deg"))
    return (
        deg.groupBy("deg").agg(F.count("*").alias("n_nodes"))
    )


def _oracle_degree_stats() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_emb

    pair_sql = _oracle_dd_emb(COS_T03).replace("ORDER BY label, id_a, id_b", "")
    return f"""
WITH pairs AS ({pair_sql}),
edges AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
),
deg AS (SELECT id_a, count(*) AS deg FROM edges GROUP BY id_a)
SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg
"""


QUERIES["gr_degree_stats"] = gr_degree_stats
ORACLES["gr_degree_stats"] = _oracle_degree_stats()


# --- gr_triangle_count -------------------------------------------------------


def gr_triangle_count(t: dict[str, DataFrame]) -> DataFrame:
    """Global triangle census of the τ=0.3 near-dup graph: node/edge
    counts, triangles, wedges (open 2-paths), and the global clustering
    coefficient 3T/W — the standard graph-shape summary.

    Triangles are enumerated on ID-ORIENTED canonical edges (id_a <
    id_b, as the pair query emits them): e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)
    counts each triangle exactly once with no post-hoc dedup, and the
    join fan-out is bounded by per-node OUT-degree under the
    orientation rather than total degree — the standard
    enumeration-bounding trick (production systems orient by degree;
    ID order is its deterministic stand-in). Wedges come from the
    degree table in closed form (Σ deg·(deg−1)/2), not enumeration.
    The canonical edge set is persisted once and drives both joins.
    """
    pairs = _t03_pairs(t)
    deg = (
        pairs.select(F.col("id_a").alias("v"))
        .union(pairs.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    e2 = pairs.select(F.col("id_a").alias("id_b"), F.col("id_b").alias("id_c"))
    e3 = pairs.select(F.col("id_a").alias("id_a3"), F.col("id_b").alias("id_c3"))
    tri = (
        pairs.join(e2, "id_b")
        .join(
            e3,
            (F.col("id_a") == F.col("id_a3")) & (F.col("id_c") == F.col("id_c3")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(tri)
        .crossJoin(pairs.agg(F.count("*").alias("n_edges")))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            rnd(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("global_clustering"),
        )
    )


def _oracle_triangle_count() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_emb

    pair_sql = _oracle_dd_emb(COS_T03).replace("ORDER BY label, id_a, id_b", "")
    return f"""
WITH pairs AS ({pair_sql}),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT id_a AS v FROM pairs UNION ALL SELECT id_b AS v FROM pairs
  ) GROUP BY v
),
node_stats AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
edges AS (SELECT count(*) AS n_edges FROM pairs)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       {duck_rnd("CASE WHEN n_wedges > 0 THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END", 6)}
         AS global_clustering
FROM node_stats, tri, edges
"""


QUERIES["gr_triangle_count"] = gr_triangle_count
ORACLES["gr_triangle_count"] = _oracle_triangle_count()


# --- gr_modularity -----------------------------------------------------------


def gr_modularity(t: dict[str, DataFrame]) -> DataFrame:
    """Newman modularity of the dd_cluster partition on the τ=0.3
    near-dup graph: Q = Σ_c [ L_c/m − (D_c/2m)² ] — the standard
    partition-quality score, composing the connected-components
    operator with the pair graph (a cross-operator consistency probe as
    much as a metric: for connected components every edge is
    intra-community, so L_c sums to m exactly).

    All inputs are node/community-cardinality aggregates off the
    persisted pair list; the per-community q terms sum through the
    1e-9 quantized order-free accumulator (community iteration order
    must not move the float result between engines).
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.operators.similarity import COS_T03, _cluster_on_pairs

    clusters = _cluster_on_pairs(t, COS_T03).select("vec_id", "cluster_id")
    pairs = _t03_pairs(t)
    m_df = pairs.agg(F.count("*").cast("double").alias("m"))
    deg = (
        pairs.select(F.col("id_a").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    dc = (
        deg.join(clusters, deg["v"] == clusters["vec_id"])
        .groupBy("cluster_id")
        .agg(F.sum("deg").cast("double").alias("d_c"))
    )
    ca = clusters.select(F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("c_a"))
    cb = clusters.select(F.col("vec_id").alias("id_b"), F.col("cluster_id").alias("c_b"))
    lc = (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("cluster_id"))
        .agg(F.count("*").alias("l_c"))
    )
    qc = (
        dc.join(lc, "cluster_id", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "cluster_id",
            (
                (F.coalesce(F.col("l_c"), F.lit(0)).cast("double") / F.col("m"))
                - (F.col("d_c") / (2 * F.col("m"))) * (F.col("d_c") / (2 * F.col("m")))
            ).alias("q"),
        )
    )
    return qc.crossJoin(F.broadcast(m_df)).agg(
        F.count("*").alias("n_communities"),
        F.first(F.col("m").cast("bigint")).alias("n_edges"),
        rnd(_psum(F.col("q")), 6).alias("modularity"),
    )


def _oracle_modularity() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_cluster

    base = _oracle_dd_cluster(COS_T03)
    cte = base.split("cl AS")[0]  # WITH RECURSIVE pairs/edges/reach chain
    return f"""{cte}cl AS (SELECT node AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY 1),
m AS (SELECT count(*)::DOUBLE AS m FROM pairs),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT id_a AS v FROM pairs UNION ALL SELECT id_b AS v FROM pairs
  ) GROUP BY v
),
dc AS (
  SELECT cl.cluster_id, CAST(sum(deg.deg) AS DOUBLE) AS d_c
  FROM deg JOIN cl ON deg.v = cl.vec_id GROUP BY 1
),
lc AS (
  SELECT ca.cluster_id, count(*) AS l_c
  FROM pairs p
  JOIN cl ca ON p.id_a = ca.vec_id
  JOIN cl cb ON p.id_b = cb.vec_id
  WHERE ca.cluster_id = cb.cluster_id
  GROUP BY 1
),
qc AS (
  SELECT dc.cluster_id,
         (coalesce(l_c, 0)::DOUBLE / m.m)
           - (d_c / (2 * m.m)) * (d_c / (2 * m.m)) AS q
  FROM dc LEFT JOIN lc USING (cluster_id), m
)
SELECT count(*) AS n_communities,
       any_value((SELECT CAST(m AS BIGINT) FROM m)) AS n_edges,
       {duck_rnd(_duck_psum("q"), 6)} AS modularity
FROM qc
"""


QUERIES["gr_modularity"] = gr_modularity
ORACLES["gr_modularity"] = _oracle_modularity()


# --- gr_bfs_reach ------------------------------------------------------------

BFS_SEED_MOD = 50
BFS_HOPS = 3


def gr_bfs_reach(t: dict[str, DataFrame]) -> DataFrame:
    """Multi-source BFS reachability over the τ=0.3 near-dup graph:
    min hop distance from the seed set (vec_id ≡ 0 mod 50), unrolled
    {BFS_HOPS} hops — the frontier-expansion workload behind blast-
    radius / lineage / affected-set queries.

    Iterations are UNROLLED into one Catalyst plan (like gr_pagerank);
    edges are persisted so the pairwise-cosine join executes once, not
    once per hop (perf lesson 9 — at 100 TB the edge table is a
    checkpointed parquet artifact). Each hop = one join shuffled on the
    frontier key + one min-aggregate; the frontier is node-cardinality,
    edges dominate, AQE broadcasts the frontier when it fits.
    """
    from pypers_spark.functions.caching import tracked_persist

    pairs = _t03_pairs(t)
    edges = tracked_persist(
        pairs.union(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        ),
        "graph.bfs_edges",
    )
    frontier = (
        t["embeddings"]
        .filter(F.col("vec_id") % BFS_SEED_MOD == 0)
        .select(F.col("vec_id").alias("v"), F.lit(0).alias("dist"))
    )
    for hop in range(1, BFS_HOPS + 1):
        nxt = frontier.join(edges, frontier["v"] == edges["id_a"]).select(
            F.col("id_b").alias("v"), F.lit(hop).alias("dist")
        )
        frontier = (
            frontier.unionByName(nxt).groupBy("v").agg(F.min("dist").alias("dist"))
        )
    return (
        frontier.groupBy("dist")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("v").alias("min_node"),
            F.max("v").alias("max_node"),
        )
    )


def _oracle_bfs_reach() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_emb

    pair_sql = _oracle_dd_emb(COS_T03).replace("ORDER BY label, id_a, id_b", "")
    hops = [
        f"f0 AS (SELECT vec_id AS v, 0 AS dist FROM embeddings "
        f"WHERE vec_id % {BFS_SEED_MOD} = 0)"
    ]
    for hop in range(1, BFS_HOPS + 1):
        hops.append(
            f"""f{hop} AS (
  SELECT v, min(dist) AS dist FROM (
    SELECT v, dist FROM f{hop - 1}
    UNION ALL
    SELECT e.id_b AS v, {hop} AS dist
    FROM f{hop - 1} f JOIN edges e ON f.v = e.id_a
  ) GROUP BY v
)"""
        )
    chain = ",\n".join(hops)
    return f"""
WITH pairs AS ({pair_sql}),
edges AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
),
{chain}
SELECT dist, count(*) AS n_nodes, min(v) AS min_node, max(v) AS max_node
FROM f{BFS_HOPS}
GROUP BY dist
ORDER BY dist
"""


QUERIES["gr_bfs_reach"] = gr_bfs_reach
ORACLES["gr_bfs_reach"] = _oracle_bfs_reach()


# --- gr_k_core ---------------------------------------------------------------

KCORE_K = 2       # degree threshold
KCORE_ROUNDS = 3  # unrolled peel rounds


def gr_k_core(t: dict[str, DataFrame]) -> DataFrame:
    """{KCORE_ROUNDS} unrolled rounds of {KCORE_K}-core peeling over the
    τ=0.3 near-dup graph: each round drops nodes of degree < {KCORE_K}
    and restricts the edge set to survivors — the standard dense-core
    extractor (peeling pendant chains off a near-dup graph isolates the
    boilerplate cliques that deserve cluster-level review from the
    long drift chains that don't). Readout: one row per round with the
    surviving node/edge census, so the peel's convergence profile is
    the value under test, not just the fixed point.

    Per round: a degree hash aggregation (node-cardinality) and two
    semi-joins keyed on node id — fully distributed, no driver-side
    state. Each round's surviving edge set is MATERIALIZED before the
    next round reads it (the components.py lesson): round r references
    round r−1 three times (once directly, twice through ``keep``), so
    an unmaterialized unroll embeds 3^r copies of the pairwise-cosine
    base plan — measured 36s → 16s solo at sf0.01 from this persist
    alone (the residue is the shared pair-table build).

    The round census NEVER re-scans the edge set: round r's degree
    table (persisted, node-cardinality) is both round r+1's ``keep``
    filter and round r's stats — n_nodes is its row count (the edge
    list is symmetric, so every surviving node appears as id_a) and
    n_edges is sum(deg)/2 — so each cached edge set is read once per
    round instead of paying an extra count_distinct expand-aggregate
    pass per round.
    At 100 TB full peeling iterates to convergence with the round-6
    reliable-checkpoint discipline; the per-round plan is identical.
    """
    from pypers_spark.functions.caching import tracked_persist

    pairs = _t03_pairs(t)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    stats = []
    cur = edges
    deg = cur.groupBy("id_a").agg(F.count("*").alias("deg"))
    for r in range(1, KCORE_ROUNDS + 1):
        keep = deg.filter(F.col("deg") >= KCORE_K).select("id_a")
        cur = cur.join(keep, "id_a", "left_semi").join(
            keep.select(F.col("id_a").alias("id_b")), "id_b", "left_semi"
        )
        # Persist every NON-terminal round: round r is referenced 3x by
        # round r+1 (once directly, twice through keep), so skipping an
        # intermediate persist re-executes its semi-join layer 3x —
        # measured WORSE (2.80s vs 1.90s solo best at sf0.1 for the
        # every-second-round variant; VERDICT r11 item #7 tried and
        # rejected with numbers). The TERMINAL round feeds only its own
        # census through one deg aggregation whose exchange stats(r)
        # shares — its persist was pure cache-materialization overhead.
        if r < KCORE_ROUNDS:
            cur = tracked_persist(cur, f"graph.kcore_e{r}")
        # NOT persisted: stats(r) and keep(r+1) embed the identical
        # groupBy subtree over the cached edge set, so they share ONE
        # exchange via reuse — a persist here only added per-round
        # cache-materialization stages (measured 3.0 -> 10.6s solo).
        deg = cur.groupBy("id_a").agg(F.count("*").alias("deg"))
        stats.append(
            deg.agg(
                F.lit(r).alias("round"),
                F.count(F.lit(1)).alias("n_nodes"),
                F.expr("coalesce(sum(deg), 0) div 2").alias("n_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _oracle_k_core() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_emb

    pair_sql = _oracle_dd_emb(COS_T03).replace("ORDER BY label, id_a, id_b", "")
    rounds = []
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""
d{r} AS (SELECT id_a, count(*) AS deg FROM e{p} GROUP BY 1),
k{r} AS (SELECT id_a FROM d{r} WHERE deg >= {KCORE_K}),
e{r} AS (
  SELECT e.id_a, e.id_b FROM e{p} e
  JOIN k{r} a ON e.id_a = a.id_a
  JOIN k{r} b ON e.id_b = b.id_a
),
s{r} AS (
  SELECT {r} AS round, count(DISTINCT id_a) AS n_nodes,
         count(*) // 2 AS n_edges
  FROM e{r}
)""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
WITH pairs AS ({pair_sql}),
e0 AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
),{",".join(rounds)}
{unions} ORDER BY round
"""


QUERIES["gr_k_core"] = gr_k_core
ORACLES["gr_k_core"] = _oracle_k_core()


# --- gr_link_predict (r8) -----------------------------------------------------

LINKPRED_TOP_K = 20


def gr_link_predict(t: dict[str, DataFrame]) -> DataFrame:
    """Neighbor-Jaccard link prediction over the τ=0.3 near-dup graph:
    for every NON-edge 2-hop pair, score = |N(a)∩N(b)| / |N(a)∪N(b)|
    (the classic common-neighbors/Jaccard predictor), top-{LINKPRED_TOP_K}
    candidates — the "these two clusters are about to merge" signal a
    dedup pipeline reviews before lowering its threshold.

    Scale shape (r11, guide §2.3/§2.4 — the _band_candidates shape):
    each node's neighbor list is collected ONCE (one exchange on the
    doubled edge list, persisted node-sized table); wedges a−m−b come
    from the C(deg,2) in-row expansion of the sorted list — candidate
    volume is still Σ_m deg(m)² but the doubled edge list is shuffled
    once instead of three times (degree pass + both self-join sides),
    and degrees fall out of the same aggregation as size(neighbors).
    Existing edges drop out via one anti-join; integers until the
    final division; global top-k fuses to TakeOrderedAndProject.
    """
    from pypers_spark.functions.caching import tracked_persist

    pairs = _t03_pairs(t)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    nbrs = tracked_persist(
        edges.groupBy(F.col("id_a").alias("m")).agg(
            F.array_sort(F.collect_list("id_b")).alias("ns")
        ),
        "graph.lp_nbrs",
    )
    deg = nbrs.select(F.col("m").alias("id_a"), F.size("ns").cast("bigint").alias("deg"))
    wedge_pairs = F.flatten(
        F.transform(
            F.col("ns"),
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + 2, F.size("ns")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        nbrs.select(F.explode(wedge_pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    cand = inter.join(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("id_a").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id_a").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            "n_common",
            (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).alias("n_union"),
            rnd(
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.desc("n_common"), "id_a", "id_b"
    ).limit(LINKPRED_TOP_K)


def _oracle_link_predict() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_emb

    pair_sql = _oracle_dd_emb(COS_T03).replace("ORDER BY label, id_a, id_b", "")
    return f"""
WITH pairs AS ({pair_sql}),
edges AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
deg AS (SELECT id_a, count(*) AS deg FROM edges GROUP BY id_a),
inter AS (
  SELECT e1.id_a AS a, e2.id_b AS b, count(*) AS n_common
  FROM edges e1 JOIN edges e2 ON e1.id_b = e2.id_a
  WHERE e1.id_a < e2.id_b
  GROUP BY 1, 2
),
cand AS (
  SELECT i.* FROM inter i
  ANTI JOIN pairs p ON i.a = p.id_a AND i.b = p.id_b
)
SELECT c.a AS id_a, c.b AS id_b, c.n_common,
       CAST(da.deg + db.deg - c.n_common AS BIGINT) AS n_union,
       {duck_rnd('CAST(c.n_common AS DOUBLE) / (da.deg + db.deg - c.n_common)', 6)}
         AS jaccard
FROM cand c
JOIN deg da ON da.id_a = c.a
JOIN deg db ON db.id_a = c.b
ORDER BY jaccard DESC, n_common DESC, id_a, id_b
LIMIT {LINKPRED_TOP_K}
"""


QUERIES["gr_link_predict"] = gr_link_predict
ORACLES["gr_link_predict"] = _oracle_link_predict()


# --- gr_adamic_adar (r8) -------------------------------------------------------
#
# Adamic–Adar link prediction over the same τ=0.3 near-dup graph as
# gr_link_predict: score(a,b) = Σ_{m ∈ N(a)∩N(b)} 1/ln(deg(m)) — common
# neighbors weighted by the INFORMATION of the bridge (a hub that
# touches everything is weak evidence; a rare shared neighbor is
# strong). Same wedge-join candidate generation (Σ_m deg(m)²-bounded,
# never all-pairs); the per-pair sum goes through dsum so double
# accumulation order can't move it, and a wedge center always has
# deg ≥ 2 (it bridges two distinct nodes), so 1/ln(deg) is total.


def gr_adamic_adar(t: dict[str, DataFrame]) -> DataFrame:
    """Top-{LINKPRED_TOP_K} non-edges by Adamic–Adar score."""
    pairs = _t03_pairs(t)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    # Aggregate-and-expand (r11, the gr_link_predict shape): collect
    # each middle node's sorted neighbor list once; wedges a−m−b are the
    # in-row C(deg,2) expansion, and the Adamic–Adar weight 1/ln(deg_m)
    # is a per-row constant (deg_m = size of the list) — no wedge
    # self-join, no separate degree join.
    from pypers_spark.functions.caching import tracked_persist

    nbrs = tracked_persist(
        edges.groupBy(F.col("id_a").alias("m")).agg(
            F.array_sort(F.collect_list("id_b")).alias("ns")
        ),
        "graph.lp_nbrs",
    )
    wedge_pairs = F.flatten(
        F.transform(
            F.col("ns"),
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + 2, F.size("ns")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    scored = (
        nbrs.select(
            F.explode(wedge_pairs).alias("p"),
            (F.lit(1.0) / F.log(F.size("ns").cast("double"))).alias("w"),
        )
        .select("p.a", "p.b", "w")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            rnd(dsum(F.col("w")), 6).alias("aa_score"),
        )
    )
    cand = scored.join(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        ["a", "b"],
        "left_anti",
    ).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b"), "n_common", "aa_score"
    )
    return cand.orderBy(
        F.desc("aa_score"), F.desc("n_common"), "id_a", "id_b"
    ).limit(LINKPRED_TOP_K)


def _oracle_adamic_adar() -> str:
    from pypers_spark.operators.similarity import COS_T03, _oracle_dd_emb

    pair_sql = _oracle_dd_emb(COS_T03).replace("ORDER BY label, id_a, id_b", "")
    return f"""
WITH pairs AS ({pair_sql}),
edges AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
deg AS (SELECT id_a, count(*) AS deg FROM edges GROUP BY id_a),
scored AS (
  SELECT e1.id_a AS a, e2.id_b AS b, count(*) AS n_common,
         {duck_rnd(duck_dsum('1.0 / ln(CAST(dm.deg AS DOUBLE))'), 6)} AS aa_score
  FROM edges e1
  JOIN edges e2 ON e1.id_b = e2.id_a
  JOIN deg dm ON dm.id_a = e1.id_b
  WHERE e1.id_a < e2.id_b
  GROUP BY 1, 2
),
cand AS (
  SELECT s.* FROM scored s
  ANTI JOIN pairs p ON s.a = p.id_a AND s.b = p.id_b
)
SELECT a AS id_a, b AS id_b, n_common, aa_score
FROM cand
ORDER BY aa_score DESC, n_common DESC, id_a, id_b
LIMIT {LINKPRED_TOP_K}
"""


QUERIES["gr_adamic_adar"] = gr_adamic_adar
ORACLES["gr_adamic_adar"] = _oracle_adamic_adar()
