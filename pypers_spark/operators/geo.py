"""Geospatial grid operators (SURVEY.md §2.B additions, round 4e).

Spark has no native geo type; the scalable idiom is the one every
geo-on-SQL engine uses underneath — integer grid cells as the blocking
key, exact math only inside the cell neighborhood:

- ``gs_grid_cells``  — point→cell assignment + density rollup (the
  geohash-bucketing shape; cells are the spatial analogue of LSH bands).
- ``gs_radius_join`` — radius self-join: 3×3 neighbor-cell probing
  bounds candidates to the ~9-cell neighborhood, exact haversine
  verifies inside it — never an all-pairs distance matrix.

Coordinates are SYNTHESIZED deterministically from customer keys
(md5→int64 → fixed-point degrees in a [40,50)°N × [0,20)°E box) since
the test tables carry no geo columns; the derivation is exact integer
arithmetic, identical in both engines.

Float discipline: haversine uses sin/cos/asin/sqrt — both engines'
libms agree to ≤1 ulp, which the 1e-6 quantization of the FINAL
distance absorbs; the radius predicate compares the QUANTIZED distance
in both engines, so the match set is deterministic (a knife-edge pair
would need the two libms to disagree across a 5e-7 km boundary —
~11 orders of magnitude above libm drift).

Scale notes (100 TB intent):
- Cell assignment is map-side arithmetic; the density rollup is one
  hash aggregation keyed on the cell — the same shuffle a geohash
  bucketer does.
- The radius join shuffles each side once on the cell key; candidate
  width is bounded by cell population (pick the cell size ≈ the query
  radius, exactly like sizing LSH bands), and AQE's skew handling
  covers urban-density hot cells.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.hashing import duck_md5_int64, md5_int64
from pypers_spark.functions.rounding import duck_rnd, rnd

QUERIES: dict = {}
ORACLES: dict = {}

LAT0, LAT_SPAN = 40.0, 10.0  # [40, 50) °N
LON0, LON_SPAN = 0.0, 20.0  # [0, 20) °E
FIX = 10_000  # fixed-point 1e-4 degree quantum
CELL_DEG = 0.5  # grid cell size (≈55 km) — sized to the query radius
RADIUS_KM = 25.0
EARTH_R_KM = 6371.0
DENSITY_TOP_K = 20


def _points(t: dict[str, DataFrame], spread: bool = True) -> DataFrame:
    """Deterministic point per customer: exact integer fixed-point
    degrees from two independent md5 hash draws.

    Hash-repartitioned on pid (r11, the corpus() lesson): the skinny
    customer file arrives in 1-2 scan splits, which pinned every gs_*
    query's 9-cell probe explode and haversine verify to 1-2 cores
    (gs_knn_join's candidate stage: 2 tasks, 2.2 of the query's 4.4
    executor-cpu-seconds). At 100 TB the scan has thousands of splits
    and AQE coalesces this exchange away. ``spread=False`` skips the
    exchange for consumers that only map-side aggregate the points
    (gs_grid_cells — the shuffle quadrupled its wall for no win)."""
    c = t["customer"]
    if spread:
        n = int(c.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        c = c.repartition(n, F.col("c_custkey"))
    h_lat = md5_int64(F.concat(F.lit("lat:"), F.col("c_custkey").cast("string")))
    h_lon = md5_int64(F.concat(F.lit("lon:"), F.col("c_custkey").cast("string")))
    return c.select(
        F.col("c_custkey").alias("pid"),
        (
            F.lit(LAT0)
            + (h_lat % int(LAT_SPAN * FIX)).cast("double") / F.lit(float(FIX))
        ).alias("lat"),
        (
            F.lit(LON0)
            + (h_lon % int(LON_SPAN * FIX)).cast("double") / F.lit(float(FIX))
        ).alias("lon"),
    )


_DUCK_POINTS = f"""
  SELECT c_custkey AS pid,
         {LAT0} + CAST(({duck_md5_int64("'lat:' || CAST(c_custkey AS VARCHAR)")})
                       % {int(LAT_SPAN * FIX)} AS DOUBLE) / {float(FIX)} AS lat,
         {LON0} + CAST(({duck_md5_int64("'lon:' || CAST(c_custkey AS VARCHAR)")})
                       % {int(LON_SPAN * FIX)} AS DOUBLE) / {float(FIX)} AS lon
  FROM customer
"""


def _cell(lat, lon):
    return (
        F.floor(lat / F.lit(CELL_DEG)).cast("bigint"),
        F.floor(lon / F.lit(CELL_DEG)).cast("bigint"),
    )


def gs_grid_cells(t: dict[str, DataFrame]) -> DataFrame:
    """Top-20 densest grid cells: point→cell map-side assignment, one
    hash aggregation, TakeOrderedAndProject for the readout."""
    pts = _points(t, spread=False)
    cy, cx = _cell(F.col("lat"), F.col("lon"))
    return (
        pts.select(cy.alias("cell_y"), cx.alias("cell_x"))
        .groupBy("cell_y", "cell_x")
        .agg(F.count("*").alias("n_points"))
        .orderBy(F.desc("n_points"), "cell_y", "cell_x")
        .limit(DENSITY_TOP_K)
    )


ORACLE_GRID_CELLS = f"""
WITH pts AS ({_DUCK_POINTS})
SELECT CAST(floor(lat / {CELL_DEG}) AS BIGINT) AS cell_y,
       CAST(floor(lon / {CELL_DEG}) AS BIGINT) AS cell_x,
       count(*) AS n_points
FROM pts
GROUP BY 1, 2
ORDER BY n_points DESC, cell_y, cell_x
LIMIT {DENSITY_TOP_K}
"""

QUERIES["gs_grid_cells"] = gs_grid_cells
ORACLES["gs_grid_cells"] = ORACLE_GRID_CELLS


# --- gs_radius_join ----------------------------------------------------------

_RAD = math.pi / 180.0


def _haversine_km(lat1, lon1, lat2, lon2):
    dlat = (lat2 - lat1) * F.lit(_RAD) / 2
    dlon = (lon2 - lon1) * F.lit(_RAD) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(lat1 * F.lit(_RAD)) * F.cos(
        lat2 * F.lit(_RAD)
    ) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_R_KM) * F.asin(F.sqrt(a))


def _duck_haversine(lat1, lon1, lat2, lon2):
    dlat = f"(({lat2}) - ({lat1})) * {_RAD!r} / 2"
    dlon = f"(({lon2}) - ({lon1})) * {_RAD!r} / 2"
    a = (
        f"sin({dlat}) * sin({dlat}) + cos(({lat1}) * {_RAD!r})"
        f" * cos(({lat2}) * {_RAD!r}) * sin({dlon}) * sin({dlon})"
    )
    return f"{2.0 * EARTH_R_KM!r} * asin(sqrt({a}))"


def gs_radius_join(t: dict[str, DataFrame]) -> DataFrame:
    """Radius self-join (pairs within {RADIUS_KM} km), grid-blocked:
    each LEFT point probes its 3×3 cell neighborhood, the join is an
    equi-join on the probed cell vs the RIGHT point's home cell, and
    quantized haversine verifies. id_a < id_b dedupes orientations;
    the readout buckets matched pairs by distance decile so the whole
    match-set distribution sits in the gate row, not just a count.
    """
    pts = _points(t)
    cy, cx = _cell(F.col("lat"), F.col("lon"))
    right = pts.select(
        F.col("pid").alias("pid_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        cy.alias("cell_y"),
        cx.alias("cell_x"),
    )
    probes = pts.select(
        F.col("pid").alias("pid_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cy + F.lit(dy)).alias("cell_y"),
                        (cx + F.lit(dx)).alias("cell_x"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("p"),
    ).select(
        "pid_a",
        "lat_a",
        "lon_a",
        F.col("p.cell_y").alias("cell_y"),
        F.col("p.cell_x").alias("cell_x"),
    )
    dist = rnd(
        _haversine_km(
            F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
        ),
        6,
    )
    pairs = (
        probes.join(right, ["cell_y", "cell_x"])
        .filter(F.col("pid_a") < F.col("pid_b"))
        .select(dist.alias("dist_km"))
        .filter(F.col("dist_km") <= RADIUS_KM)
    )
    decile = F.floor(F.col("dist_km") / F.lit(RADIUS_KM / 10.0)).cast("bigint")
    return (
        pairs.groupBy(decile.alias("dist_decile"))
        .agg(
            F.count("*").alias("n_pairs"),
            rnd(F.min("dist_km"), 4).alias("min_km"),
            rnd(F.max("dist_km"), 4).alias("max_km"),
        )
    )


_DUCK_DIST = duck_rnd(_duck_haversine("lat_a", "lon_a", "lat_b", "lon_b"), 6)

ORACLE_RADIUS_JOIN = f"""
WITH pts AS ({_DUCK_POINTS}),
located AS (
  SELECT pid, lat, lon,
         CAST(floor(lat / {CELL_DEG}) AS BIGINT) AS cell_y,
         CAST(floor(lon / {CELL_DEG}) AS BIGINT) AS cell_x
  FROM pts
),
probes AS (
  SELECT pid AS pid_a, lat AS lat_a, lon AS lon_a,
         cell_y + dy AS cell_y, cell_x + dx AS cell_x
  FROM located,
       unnest([-1, 0, 1]) AS ty(dy),
       unnest([-1, 0, 1]) AS tx(dx)
),
pairs AS (
  SELECT {_DUCK_DIST} AS dist_km
  FROM probes p
  JOIN (SELECT pid AS pid_b, lat AS lat_b, lon AS lon_b, cell_y, cell_x
        FROM located) r
    ON p.cell_y = r.cell_y AND p.cell_x = r.cell_x AND p.pid_a < r.pid_b
)
SELECT CAST(floor(dist_km / {RADIUS_KM / 10.0!r}) AS BIGINT) AS dist_decile,
       count(*) AS n_pairs,
       {duck_rnd('min(dist_km)', 4)} AS min_km,
       {duck_rnd('max(dist_km)', 4)} AS max_km
FROM pairs
WHERE dist_km <= {RADIUS_KM}
GROUP BY 1
ORDER BY dist_decile
"""

QUERIES["gs_radius_join"] = gs_radius_join
ORACLES["gs_radius_join"] = ORACLE_RADIUS_JOIN


# --- gs_dbscan_core (r8) ------------------------------------------------------

DBSCAN_EPS_KM = 15.0
DBSCAN_MIN_PTS = 4  # neighbors (excl. self) for a core point
DBSCAN_NN_CAP = 10  # histogram bucket ceiling for the readout


def gs_dbscan_core(t: dict[str, DataFrame]) -> DataFrame:
    """DBSCAN's core-point pass, grid-blocked: each point counts its
    ε={DBSCAN_EPS_KM} km neighbors through the same 3×3 cell-probe
    equi-join as gs_radius_join (never an all-pairs distance join),
    and the readout is the neighbor-count histogram (bucketed at
    {DBSCAN_NN_CAP}+) with the core classification (≥ {DBSCAN_MIN_PTS}
    neighbors) per bucket — the density census a distributed DBSCAN
    shuffles before any cluster expansion.

    Scale shape: the probe fan-out is a constant 9× projection, the
    join is an equi-join on the cell key (co-located at 100 TB when
    points are stored cell-partitioned), and zero-neighbor points
    survive via one user-cardinality left join — no point ever compares
    against more than its 3×3 neighborhood.
    """
    pts = _points(t)
    cy, cx = _cell(F.col("lat"), F.col("lon"))
    right = pts.select(
        F.col("pid").alias("pid_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        cy.alias("cell_y"),
        cx.alias("cell_x"),
    )
    probes = pts.select(
        F.col("pid").alias("pid_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cy + F.lit(dy)).alias("cell_y"),
                        (cx + F.lit(dx)).alias("cell_x"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("p"),
    ).select(
        "pid_a",
        "lat_a",
        "lon_a",
        F.col("p.cell_y").alias("cell_y"),
        F.col("p.cell_x").alias("cell_x"),
    )
    dist = rnd(
        _haversine_km(
            F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
        ),
        6,
    )
    nn = (
        probes.join(right, ["cell_y", "cell_x"])
        .filter(F.col("pid_a") != F.col("pid_b"))
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= DBSCAN_EPS_KM)
        .groupBy("pid_a")
        .agg(F.count("*").alias("n_neighbors"))
    )
    census = pts.join(nn, pts["pid"] == nn["pid_a"], "left").select(
        F.coalesce(F.col("n_neighbors"), F.lit(0)).alias("n_neighbors")
    )
    bucket = F.least(F.col("n_neighbors"), F.lit(DBSCAN_NN_CAP)).cast("int")
    return (
        census.groupBy(bucket.alias("nn_bucket"))
        .agg(
            F.count("*").alias("n_points"),
            F.max(
                (F.col("n_neighbors") >= DBSCAN_MIN_PTS).cast("int")
            ).alias("is_core"),
        )
    )


ORACLE_DBSCAN_CORE = f"""
WITH pts AS ({_DUCK_POINTS}),
located AS (
  SELECT pid, lat, lon,
         CAST(floor(lat / {CELL_DEG}) AS BIGINT) AS cell_y,
         CAST(floor(lon / {CELL_DEG}) AS BIGINT) AS cell_x
  FROM pts
),
probes AS (
  SELECT pid AS pid_a, lat AS lat_a, lon AS lon_a,
         cell_y + dy AS cell_y, cell_x + dx AS cell_x
  FROM located,
       unnest([-1, 0, 1]) AS ty(dy),
       unnest([-1, 0, 1]) AS tx(dx)
),
nn AS (
  SELECT pid_a, count(*) AS n_neighbors
  FROM probes p
  JOIN (SELECT pid AS pid_b, lat AS lat_b, lon AS lon_b, cell_y, cell_x
        FROM located) r
    ON p.cell_y = r.cell_y AND p.cell_x = r.cell_x AND p.pid_a != r.pid_b
  WHERE {_DUCK_DIST} <= {DBSCAN_EPS_KM}
  GROUP BY pid_a
),
census AS (
  SELECT coalesce(nn.n_neighbors, 0) AS n_neighbors
  FROM located l LEFT JOIN nn ON l.pid = nn.pid_a
)
SELECT CAST(least(n_neighbors, {DBSCAN_NN_CAP}) AS INT) AS nn_bucket,
       count(*) AS n_points,
       CAST(max(CASE WHEN n_neighbors >= {DBSCAN_MIN_PTS} THEN 1 ELSE 0 END)
            AS INT) AS is_core
FROM census
GROUP BY 1
ORDER BY nn_bucket
"""

QUERIES["gs_dbscan_core"] = gs_dbscan_core
ORACLES["gs_dbscan_core"] = ORACLE_DBSCAN_CORE


# --- gs_knn_join (r8) ---------------------------------------------------------

KNN_K = 3
KNN_BUCKET_KM = 5.0  # histogram step for the k-NN-radius readout


def gs_knn_join(t: dict[str, DataFrame]) -> DataFrame:
    """Grid-blocked k-nearest-neighbor join: each point's k={KNN_K}
    nearest neighbors AMONG ITS 3×3 CELL NEIGHBORHOOD (the standard
    grid-kNN semantics — candidates beyond the adjacent cells are by
    construction ≥ one cell width away, and CELL_DEG is sized so the
    true kNN radius fits inside it for all but boundary stragglers,
    which the readout buckets separately). Readout: histogram of the
    kNN radius (distance to the k-th neighbor) in {KNN_BUCKET_KM} km
    buckets, with bucket −1 collecting points whose neighborhood held
    fewer than k candidates.

    Scale shape: identical candidate generation to gs_radius_join (one
    equi-join on the probed cell — never all-pairs); the per-point
    top-k is a rank-1..k window over cell-bounded candidate lists, and
    the readout is one hash aggregation. This is the spatial analogue
    of ann_knn_graph_cells with the grid as the blocking key.
    """
    pts = _points(t)
    cy, cx = _cell(F.col("lat"), F.col("lon"))
    right = pts.select(
        F.col("pid").alias("pid_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        cy.alias("cell_y"),
        cx.alias("cell_x"),
    )
    probes = pts.select(
        F.col("pid").alias("pid_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cy + F.lit(dy)).alias("cell_y"),
                        (cx + F.lit(dx)).alias("cell_x"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("p"),
    ).select(
        "pid_a",
        "lat_a",
        "lon_a",
        F.col("p.cell_y").alias("cell_y"),
        F.col("p.cell_x").alias("cell_x"),
    )
    dist = rnd(
        _haversine_km(
            F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
        ),
        6,
    )
    cand = (
        probes.join(right, ["cell_y", "cell_x"])
        .filter(F.col("pid_a") != F.col("pid_b"))
        .select("pid_a", dist.alias("dist_km"))
    )
    # Per-point k-th-nearest distance as ONE hash aggregation instead
    # of a rank window: dk is the k-th smallest distance WITH
    # multiplicity, which doesn't depend on any neighbor-id tie-break —
    # so the aggregation collects bare doubles (the candidate list is
    # bounded by the 3x3 neighborhood population) and slices their
    # sorted form. Measured at sf0.1: 3.5s (window sort of the 9-cell
    # candidate product) → 2.3s; the count-only floor for the same
    # shuffle is 0.95s, so the remaining gap is the bounded per-cell
    # list build, linear in candidates.
    n_cap = F.least(F.count("*"), F.lit(KNN_K)).cast("int")
    per_pt = cand.groupBy("pid_a").agg(
        n_cap.alias("n_nbrs"),
        F.element_at(
            F.slice(F.array_sort(F.collect_list("dist_km")), 1, KNN_K), n_cap
        ).alias("dk"),
    )
    # Points with ZERO candidates produce no cand rows at all, so they
    # never reach per_pt — left-join the point set back in so they land
    # in bucket -1 alongside the 1..k-1 stragglers (dk stays NULL and
    # drops out of the null-ignoring min/max below, on both engines).
    per_pt = (
        pts.select(F.col("pid").alias("pid_a"))
        .join(per_pt, "pid_a", "left")
        .select(
            "pid_a",
            F.coalesce(F.col("n_nbrs"), F.lit(0)).alias("n_nbrs"),
            "dk",
        )
    )
    bucket = (
        F.when(F.col("n_nbrs") < KNN_K, F.lit(-1))
        .otherwise(F.floor(F.col("dk") / F.lit(KNN_BUCKET_KM)))
        .cast("bigint")
    )
    return (
        per_pt.groupBy(bucket.alias("knn_bucket"))
        .agg(
            F.count("*").alias("n_points"),
            rnd(F.min("dk"), 4).alias("min_dk_km"),
            rnd(F.max("dk"), 4).alias("max_dk_km"),
        )
    )


ORACLE_KNN_JOIN = f"""
WITH pts AS ({_DUCK_POINTS}),
located AS (
  SELECT pid, lat, lon,
         CAST(floor(lat / {CELL_DEG}) AS BIGINT) AS cell_y,
         CAST(floor(lon / {CELL_DEG}) AS BIGINT) AS cell_x
  FROM pts
),
probes AS (
  SELECT pid AS pid_a, lat AS lat_a, lon AS lon_a,
         cell_y + dy AS cell_y, cell_x + dx AS cell_x
  FROM located,
       unnest([-1, 0, 1]) AS ty(dy),
       unnest([-1, 0, 1]) AS tx(dx)
),
cand AS (
  SELECT pid_a, pid_b, {_DUCK_DIST} AS dist_km
  FROM probes p
  JOIN (SELECT pid AS pid_b, lat AS lat_b, lon AS lon_b, cell_y, cell_x
        FROM located) r
    ON p.cell_y = r.cell_y AND p.cell_x = r.cell_x AND p.pid_a != r.pid_b
),
knn AS (
  SELECT pid_a, dist_km,
         row_number() OVER (PARTITION BY pid_a ORDER BY dist_km, pid_b) AS rk
  FROM cand
),
per_pt_inner AS (
  SELECT pid_a, count(*) AS n_nbrs, max(dist_km) AS dk
  FROM knn WHERE rk <= {KNN_K}
  GROUP BY pid_a
),
per_pt AS (
  -- zero-candidate points re-enter here with n_nbrs = 0 / dk NULL,
  -- mirroring the Spark side's left join back onto the point set
  SELECT pts.pid AS pid_a, coalesce(i.n_nbrs, 0) AS n_nbrs, i.dk
  FROM pts LEFT JOIN per_pt_inner i ON pts.pid = i.pid_a
)
SELECT CASE WHEN n_nbrs < {KNN_K} THEN -1
            ELSE CAST(floor(dk / {KNN_BUCKET_KM!r}) AS BIGINT) END AS knn_bucket,
       count(*) AS n_points,
       {duck_rnd('min(dk)', 4)} AS min_dk_km,
       {duck_rnd('max(dk)', 4)} AS max_dk_km
FROM per_pt
GROUP BY 1
ORDER BY knn_bucket
"""

QUERIES["gs_knn_join"] = gs_knn_join
ORACLES["gs_knn_join"] = ORACLE_KNN_JOIN
