"""Additional relational operators (SURVEY.md §2.B widening, round 2).

Gap-filling date spines, fixed-width histograms, ordered string
aggregation, filtered distinct counts, and banded range joins — the
everyday analytics shapes that round out the §2.B inventory.

Scale notes (100 TB intent):
- The date spine explodes from a single min/max row — the spine side is
  always tiny and broadcasts; the fact side never re-shuffles.
- Histograms are one hash aggregation on a computed bucket key.
- string_agg uses sort-inside-group semantics via array_sort AFTER
  collect_list — deterministic output without a global sort of the
  input (collect order is nondeterministic in a distributed shuffle;
  sorting the collected array fixes it engine-independently).
- The range join broadcasts the band dimension; Spark plans it as a
  BroadcastNestedLoopJoin over ≤ a handful of bands — bounded fan-out,
  never a shuffle of the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd


def op_date_spine(t: dict[str, DataFrame]) -> DataFrame:
    """Continuous daily spine over the orders date range with zero-filled
    order counts — the gap-filling pattern (no missing days in output).
    """
    ords = t["orders"]
    bounds = ords.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ords.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("rev"),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            rnd(F.coalesce(F.col("rev"), F.lit(0.0)), 2).alias("revenue"),
        )
    )


ORACLE_DATE_SPINE = f"""
WITH bounds AS (
  SELECT date_trunc('day', min(o_orderdate)) AS lo,
         date_trunc('day', max(o_orderdate)) AS hi
  FROM orders
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
),
daily AS (
  SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n_orders,
         {duck_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
)
SELECT spine.day AS day, coalesce(n_orders, 0) AS n_orders,
       {duck_rnd('coalesce(rev, 0.0)', 2)} AS revenue
FROM spine LEFT JOIN daily ON spine.day = daily.day
ORDER BY day
"""


def op_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Fixed-width histogram of order totals (width 25k) with per-bucket
    stats — one hash aggregation on the computed bucket key."""
    width = 25000.0
    bucket = F.floor(F.col("o_totalprice") / width).cast("bigint")
    return (
        t["orders"]
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            rnd(F.min("o_totalprice"), 2).alias("lo"),
            rnd(F.max("o_totalprice"), 2).alias("hi"),
        )
        .withColumn("bucket_start", rnd(F.col("bucket") * width, 2))
    )


ORACLE_HISTOGRAM = f"""
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       count(*) AS n,
       {duck_rnd('min(o_totalprice)', 2)} AS lo,
       {duck_rnd('max(o_totalprice)', 2)} AS hi,
       {duck_rnd('CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0', 2)} AS bucket_start
FROM orders
GROUP BY 1
ORDER BY bucket
"""


def op_string_agg(t: dict[str, DataFrame]) -> DataFrame:
    """Ordered string aggregation: comma-joined sorted nation list per
    region. collect_list order is nondeterministic under a distributed
    shuffle — array_sort AFTER collection makes the result exact."""
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


ORACLE_STRING_AGG = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def op_distinct_filter(t: dict[str, DataFrame]) -> DataFrame:
    """Filtered distinct counts: per nation, distinct customers overall
    vs distinct customers in the BUILDING segment vs distinct segments —
    multiple conditional count-distincts in one aggregation pass."""
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.count_distinct(F.col("c_custkey")).alias("n_cust"),
            F.count_distinct(
                F.when(F.col("c_mktsegment") == "BUILDING", F.col("c_custkey"))
            ).alias("n_building"),
            F.count_distinct(F.col("c_mktsegment")).alias("n_segments"),
        )
    )


ORACLE_DISTINCT_FILTER = """
SELECT c_nationkey,
       count(DISTINCT c_custkey) AS n_cust,
       count(DISTINCT c_custkey) FILTER (c_mktsegment = 'BUILDING') AS n_building,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def op_range_join(t: dict[str, DataFrame]) -> DataFrame:
    """Banded range join: line items matched to quantity bands
    [lo, hi) from a generated band dimension.

    The band table is built from a range — it broadcasts, so the fact
    side is a single pass (BroadcastNestedLoopJoin with a bounded band
    count, not a shuffle).
    """
    spark = t["lineitem"].sparkSession
    bands = spark.range(5).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 10 + 1).cast("double").alias("lo"),
        ((F.col("id") + 1) * 10 + 1).cast("double").alias("hi"),
    )
    li = t["lineitem"]
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_lines"),
            rnd(dsum(F.col("l_extendedprice")), 2).alias("band_revenue"),
        )
    )


ORACLE_RANGE_JOIN = f"""
WITH bands AS (
  SELECT CAST(i AS INT) AS band_id,
         CAST(i * 10 + 1 AS DOUBLE) AS lo,
         CAST((i + 1) * 10 + 1 AS DOUBLE) AS hi
  FROM (SELECT unnest(range(5)) AS i)
)
SELECT band_id, lo, hi, count(*) AS n_lines,
       {duck_rnd(duck_dsum('l_extendedprice'), 2)} AS band_revenue
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
GROUP BY 1, 2, 3
ORDER BY band_id
"""


def op_upsert(t: dict[str, DataFrame]) -> DataFrame:
    """MERGE-style upsert via full outer join: per-customer order stats
    through 1998 (target) merged with 1999+ deltas (source) — matched
    rows update (sum), unmatched source rows insert, unmatched target
    rows carry over. The equivalent of MERGE INTO on engines without a
    mutable table format; at scale both sides shuffle once on the merge
    key and the combine is a pure projection.
    """
    ords = t["orders"]
    target = (
        ords.filter(F.col("o_orderdate") < F.lit("1999-01-01"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice")).alias("total"))
    )
    source = (
        ords.filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("d_orders"), dsum(F.col("o_totalprice")).alias("d_total"))
    )
    tt = target.select(F.col("o_custkey").alias("t_key"), "n_orders", "total")
    ss = source.select(F.col("o_custkey").alias("s_key"), "d_orders", "d_total")
    merged = tt.join(ss, tt["t_key"] == ss["s_key"], "full_outer")
    return merged.select(
        F.coalesce(F.col("t_key"), F.col("s_key")).alias("c_custkey"),
        (F.coalesce(F.col("n_orders"), F.lit(0)) + F.coalesce(F.col("d_orders"), F.lit(0))).alias("n_orders"),
        rnd(F.coalesce(F.col("total"), F.lit(0.0)) + F.coalesce(F.col("d_total"), F.lit(0.0)), 2).alias("total"),
        F.when(F.col("t_key").isNull(), F.lit("insert"))
        .when(F.col("s_key").isNull(), F.lit("carry"))
        .otherwise(F.lit("update"))
        .alias("merge_action"),
    )


ORACLE_UPSERT = f"""
WITH target AS (
  SELECT o_custkey, count(*) AS n_orders, {duck_dsum('o_totalprice')} AS total
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1
),
source AS (
  SELECT o_custkey, count(*) AS d_orders, {duck_dsum('o_totalprice')} AS d_total
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1
)
SELECT coalesce(t.o_custkey, s.o_custkey) AS c_custkey,
       CAST(coalesce(n_orders, 0) + coalesce(d_orders, 0) AS BIGINT) AS n_orders,
       {duck_rnd('coalesce(total, 0.0) + coalesce(d_total, 0.0)', 2)} AS total,
       CASE WHEN t.o_custkey IS NULL THEN 'insert'
            WHEN s.o_custkey IS NULL THEN 'carry'
            ELSE 'update' END AS merge_action
FROM target t FULL OUTER JOIN source s ON t.o_custkey = s.o_custkey
ORDER BY c_custkey
"""


def op_validity_intervals(t: dict[str, DataFrame]) -> DataFrame:
    """SCD2-style validity intervals: each user's event-type changes
    become [valid_from, valid_to) rows (valid_to NULL = current state).
    One window shuffle on user_id: change detection via lag, interval
    close via lead over the change rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        t["events"]
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.withColumn("valid_to", F.lead("ts").over(w2))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
        )
    )


ORACLE_VALIDITY = """
WITH changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM (
    SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type AS state, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM changes
ORDER BY user_id, valid_from
"""


def op_salted_agg(t: dict[str, DataFrame]) -> DataFrame:
    """Skew-resilient two-phase aggregation exposed as a query: event
    totals per event_type via salt-spread partials.

    event_type has only 5 values — at 100 TB a plain groupBy funnels
    every row of a hot type through ONE reducer; salting spreads each
    hot group over 16 reducers and merges the partials (results are
    salt-independent by construction, hence the plain-SQL oracle).
    Decimal partial sums keep the two-phase result bit-identical to the
    one-phase oracle regardless of partial grouping.
    """
    from pypers_spark.functions.skew import salted_agg

    merged = salted_agg(
        t["events"],
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            # scaled-long partials: exact integer partial sums merge
            # exactly regardless of the salt grouping (mirrors dsum)
            F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5))).alias("total_scaled"),
        ],
    )
    return merged.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        rnd((F.col("total_scaled") / F.lit(1e6)).cast("double"), 2).alias("total_value"),
    )


ORACLE_SALTED_AGG = f"""
SELECT event_type, count(*) AS n_events,
       {duck_rnd(duck_dsum('value'), 2)} AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def op_salted_join(t: dict[str, DataFrame]) -> DataFrame:
    """Skew-resilient equi-join exposed as a query: each event joined to
    its user's lifetime stats through ``salted_join``, rolled up per
    event_type.

    The companion to op_salted_agg for the JOIN side of skew: a hot
    user's events would all shuffle to one reducer in a plain join; the
    salt spreads them over 16 while the small per-user side is exploded
    16-fold to meet them. Results are salt-independent by construction
    — the oracle is the plain join — and the rollup sums go through
    scaled-int64 partials so the regrouping cannot perturb them.
    """
    from pypers_spark.functions.skew import salted_join

    ev = t["events"]
    user_stats = ev.groupBy("user_id").agg(
        F.count("*").alias("user_n"),
    )
    joined = salted_join(ev.select("user_id", "event_type", "value"), user_stats, "user_id")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            rnd(dsum(F.col("value")), 2).alias("total_value"),
            # weighted by the joined-in user size: proves the join keyed
            # correctly, not just preserved row counts
            F.sum(F.col("user_n")).alias("sum_user_n"),
        )
    )


ORACLE_SALTED_JOIN = f"""
WITH user_stats AS (
  SELECT user_id, count(*) AS user_n FROM events GROUP BY user_id
)
SELECT e.event_type AS event_type, count(*) AS n_events,
       {duck_rnd(duck_dsum('e.value'), 2)} AS total_value,
       CAST(sum(u.user_n) AS BIGINT) AS sum_user_n
FROM events e JOIN user_stats u USING (user_id)
GROUP BY e.event_type
ORDER BY event_type
"""


def op_skew_report(t: dict[str, DataFrame]) -> DataFrame:
    """Join/agg-key skew diagnosis for ``events.user_id``: the top-10
    heavy hitters with their row share, plus the table-wide skew ratio
    (max key count / mean key count) on every row — the report a
    pipeline runs BEFORE choosing between a plain, salted
    (op_salted_join), or AQE-split join at scale.

    Two hash aggregations over key cardinality (counts, then the
    1-row global stats broadcast back); the top-10 is a
    TakeOrderedAndProject, never a full sort.
    """
    ev = t["events"]
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_rows",
            rnd(F.col("n_rows") / F.col("total_rows"), 6).alias("row_share"),
            rnd(
                F.col("max_rows") * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(10)
    )


ORACLE_SKEW_REPORT = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
),
stats AS (
  SELECT count(*) AS n_keys, CAST(sum(n_rows) AS BIGINT) AS total_rows,
         max(n_rows) AS max_rows
  FROM counts
)
SELECT user_id, n_rows,
       {duck_rnd('n_rows / total_rows::DOUBLE', 6)} AS row_share,
       {duck_rnd('max_rows * n_keys / total_rows::DOUBLE', 4)} AS skew_ratio
FROM counts, stats
ORDER BY n_rows DESC, user_id
LIMIT 10
"""


def op_file_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Physical-layout report for the ``orders`` parquet: per FILE — row
    count and the min/max orderkey it holds. The data-skipping
    diagnostic: if key ranges overlap across every file (as they do for
    an unsorted write), min/max footer pruning can skip nothing and a
    key-range query scans the whole table; after a sort-on-write the
    ranges partition and a point query touches one file.

    ``input_file_name()`` is evaluated at the scan (no extra pass);
    the rollup is one hash aggregation on the file name.
    """
    o = t["orders"]
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return (
        o.groupBy(fname.alias("file_name"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


# Registry-gated since r9 via DYNAMIC_ORACLES: the DuckDB twin needs
# read_parquet(..., filename=true) with a literal path, which the gate's
# pre-registered views cannot express as a static string — so this
# builder is resolved at oracle_sql() CALL time with the gate's sf_dir
# (the same interpolate-at-build-time pattern the PPM_* constants use).
# tests/test_round4_ops.py additionally value-matches it directly.
def duck_file_stats_sql(sf_dir: str) -> str:
    import os

    base = f"{sf_dir}/orders.parquet"
    # Spark writes a directory of part files; a plain single-file table
    # (the generator's layout at small SFs) is read directly.
    pattern = f"{base}/**/*.parquet" if os.path.isdir(base) else base
    return f"""
SELECT regexp_extract(filename, '[^/]+$') AS file_name,
       count(*) AS n_rows,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM read_parquet('{pattern}', filename=true)
GROUP BY 1 ORDER BY file_name
"""


QUERIES = {
    "op_file_stats": op_file_stats,
    "op_date_spine": op_date_spine,
    "op_histogram": op_histogram,
    "op_string_agg": op_string_agg,
    "op_distinct_filter": op_distinct_filter,
    "op_range_join": op_range_join,
    "op_upsert": op_upsert,
    "op_validity_intervals": op_validity_intervals,
    "op_salted_agg": op_salted_agg,
    "op_salted_join": op_salted_join,
    "op_skew_report": op_skew_report,
}

# Oracles that need the gate's sf_dir interpolated at oracle_sql() call
# time (literal paths the pre-registered views can't express):
# key -> builder(sf_dir) -> SQL string.
DYNAMIC_ORACLES = {
    "op_file_stats": duck_file_stats_sql,
}

ORACLES = {
    "op_date_spine": ORACLE_DATE_SPINE,
    "op_histogram": ORACLE_HISTOGRAM,
    "op_string_agg": ORACLE_STRING_AGG,
    "op_distinct_filter": ORACLE_DISTINCT_FILTER,
    "op_range_join": ORACLE_RANGE_JOIN,
    "op_upsert": ORACLE_UPSERT,
    "op_validity_intervals": ORACLE_VALIDITY,
    "op_salted_agg": ORACLE_SALTED_AGG,
    "op_salted_join": ORACLE_SALTED_JOIN,
    "op_skew_report": ORACLE_SKEW_REPORT,
}


# --- op_mom_change -----------------------------------------------------------


def op_mom_change(t: dict[str, DataFrame]) -> DataFrame:
    """Month-over-month revenue: monthly order totals with the previous
    month's total and the MoM delta percentage — the standard BI
    period-over-period shape (one aggregation + one lag window over the
    tiny month table; the window runs on the aggregate, never on the
    fact rows).
    """
    from pyspark.sql import Window

    ords = t["orders"]
    monthly = ords.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        rnd(dsum(F.col("o_totalprice")), 2).alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return (
        monthly.withColumn("prev_revenue", prev)
        .withColumn(
            "mom_pct",
            F.when(
                prev.isNotNull() & (prev != 0),
                rnd((F.col("revenue") - prev) / prev * 100.0, 2),
            ),
        )
    )


ORACLE_MOM_CHANGE = f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         count(*) AS n_orders,
         {duck_rnd(duck_dsum('o_totalprice'), 2)} AS revenue
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT month, n_orders, revenue,
         lag(revenue) OVER (ORDER BY month) AS prev_revenue
  FROM monthly
)
SELECT month, n_orders, revenue, prev_revenue,
       CASE WHEN prev_revenue IS NOT NULL AND prev_revenue != 0
            THEN {duck_rnd('(revenue - prev_revenue) / prev_revenue * 100.0', 2)}
       END AS mom_pct
FROM lagged ORDER BY month
"""

QUERIES["op_mom_change"] = op_mom_change
ORACLES["op_mom_change"] = ORACLE_MOM_CHANGE


# --- op_zorder ---------------------------------------------------------------

Z_BITS = 8  # bits per dimension → 16-bit Morton codes, 256 "file" buckets


def _morton(x: F.Column, y: F.Column) -> F.Column:
    """16-bit Morton interleave of two 8-bit keys — pure bit arithmetic,
    identical term order in the DuckDB oracle."""
    z = F.lit(0)
    for i in range(Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def op_zorder(t: dict[str, DataFrame]) -> DataFrame:
    """Z-order (Morton) layout diagnostic: interleave the low {Z_BITS}
    bits of l_partkey and l_suppkey into a 16-bit space-filling curve
    key, group rows into 256 "file" buckets by the code's high byte, and
    report each bucket's key-range envelope on BOTH dimensions.

    This is the multi-column data-skipping layout (Delta/Iceberg
    OPTIMIZE ZORDER BY): sorting files by the Morton code bounds every
    file's (partkey, suppkey) rectangle, so min/max pruning works for
    predicates on EITHER column — a plain sort only bounds its leading
    column. At 100 TB the plan is: compute z map-side (pure bit
    arithmetic in codegen), repartitionByRange(z) at write time, and
    this diagnostic (one hash agg on the bucket key) verifies the
    envelopes are tight. The x/y spans per bucket here are ≤ 15 out of
    255 — the skipping evidence the gate value-checks.
    """
    li = t["lineitem"]
    x = (F.col("l_partkey") % (1 << Z_BITS)).cast("int")
    y = (F.col("l_suppkey") % (1 << Z_BITS)).cast("int")
    z = _morton(x, y)
    return (
        li.select(x.alias("x"), y.alias("y"), z.alias("z"))
        .withColumn("bucket", F.shiftright(F.col("z"), Z_BITS))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def _duck_morton(x: str, y: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(0 + " + " + ".join(terms) + ")"


ORACLE_ZORDER = f"""
WITH keyed AS (
  SELECT CAST(l_partkey % {1 << Z_BITS} AS INT) AS x,
         CAST(l_suppkey % {1 << Z_BITS} AS INT) AS y
  FROM lineitem
),
coded AS (
  SELECT x, y, {_duck_morton('x', 'y')} AS z FROM keyed
)
SELECT CAST(z >> {Z_BITS} AS INT) AS bucket, count(*) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM coded GROUP BY 1 ORDER BY bucket
"""

QUERIES["op_zorder"] = op_zorder
ORACLES["op_zorder"] = ORACLE_ZORDER


# --- op_dq_checks ------------------------------------------------------------


def op_dq_checks(t: dict[str, DataFrame]) -> DataFrame:
    """Declarative data-quality report (the Deequ / dbt-tests shape):
    one row per check with its violation count — nullness, uniqueness,
    referential integrity, and range/domain rules over the warehouse
    tables, the gate a scheduled ingest runs before publishing a
    partition.

    Every check is a count aggregate; uniqueness is a groupBy-HAVING
    count, FKs are anti-join counts (broadcast where the parent side is
    dim-sized, shuffle otherwise with AQE deciding). All checks union
    into one result so a single pass publishes the whole report; each
    check subtree scans only the columns it tests (verified by the
    audit's ReadSchema). At 100 TB you run this per ingested partition,
    not per corpus — the shapes are identical.
    """
    orders, li, cust = t["orders"], t["lineitem"], t["customer"]

    def check(name, df):
        return df.select(
            F.lit(name).alias("check"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_violations"),
        )

    checks = [
        check(
            "orders.o_orderkey unique",
            orders.groupBy("o_orderkey")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count("*").alias("n")),
        ),
        check(
            "orders.o_custkey not null",
            orders.agg(
                F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n")
            ),
        ),
        check(
            "orders.o_totalprice > 0",
            orders.agg(
                F.count(F.when(~(F.col("o_totalprice") > 0), 1)).alias("n")
            ),
        ),
        check(
            "orders.o_custkey in customer",
            orders.join(
                cust.select("c_custkey"),
                orders["o_custkey"] == F.col("c_custkey"),
                "left_anti",
            ).agg(F.count("*").alias("n")),
        ),
        check(
            "lineitem.l_orderkey in orders",
            li.join(
                orders.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count("*").alias("n")),
        ),
        check(
            "lineitem.l_discount in [0,1]",
            li.agg(
                F.count(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    )
                ).alias("n")
            ),
        ),
        check(
            "lineitem.(orderkey,linenumber) unique",
            li.groupBy("l_orderkey", "l_linenumber")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count("*").alias("n")),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.withColumn("passed", (F.col("n_violations") == 0).cast("int"))


ORACLE_DQ_CHECKS = """
WITH checks AS (
  SELECT 'orders.o_orderkey unique' AS check,
         (SELECT count(*) FROM (
            SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1
         )) AS n_violations
  UNION ALL
  SELECT 'orders.o_custkey not null',
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
  UNION ALL
  SELECT 'orders.o_totalprice > 0',
         (SELECT count(*) FROM orders WHERE NOT (o_totalprice > 0))
  UNION ALL
  SELECT 'orders.o_custkey in customer',
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'lineitem.l_orderkey in orders',
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem.l_discount in [0,1]',
         (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
  UNION ALL
  SELECT 'lineitem.(orderkey,linenumber) unique',
         (SELECT count(*) FROM (
            SELECT l_orderkey, l_linenumber FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
         ))
)
SELECT "check", CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_violations = 0 AS INT) AS passed
FROM checks ORDER BY "check"
"""

QUERIES["op_dq_checks"] = op_dq_checks
ORACLES["op_dq_checks"] = ORACLE_DQ_CHECKS


# --- op_forget_user ----------------------------------------------------------

FORGET_MOD = 10  # the deletion keyset: user_id % 10 == 7 (a GDPR batch)


def op_forget_user(t: dict[str, DataFrame]) -> DataFrame:
    """Right-to-be-forgotten batch: purge a deletion keyset (here every
    user with id ≡ 7 mod {FORGET_MOD} — standing in for the DSR queue)
    from the event stream and emit the compliance accounting per
    event type: rows before, rows purged, rows after, distinct users
    purged — the report a privacy officer signs off on.

    One broadcastable keyset derivation + one map-side predicate (an
    IN-set at production scale: broadcast anti-join against the DSR
    table), one conditional aggregation — the purge and its audit in a
    single pass. At 100 TB the same plan runs per partition and the
    rewrite is a partition-overwrite write of the kept rows; the purged
    counts land in the audit log.
    """
    ev = t["events"]
    doomed = F.col("user_id") % FORGET_MOD == 7
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_before"),
            F.count(F.when(doomed, 1)).alias("n_purged"),
            F.count(F.when(~doomed, 1)).alias("n_after"),
            F.count_distinct(F.when(doomed, F.col("user_id"))).alias("n_users_purged"),
        )
    )


ORACLE_FORGET_USER = f"""
SELECT event_type,
       count(*) AS n_before,
       count(CASE WHEN user_id % {FORGET_MOD} = 7 THEN 1 END) AS n_purged,
       count(CASE WHEN user_id % {FORGET_MOD} != 7 THEN 1 END) AS n_after,
       count(DISTINCT CASE WHEN user_id % {FORGET_MOD} = 7 THEN user_id END)
         AS n_users_purged
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES["op_forget_user"] = op_forget_user
ORACLES["op_forget_user"] = ORACLE_FORGET_USER


# --- op_adaptive_join --------------------------------------------------------

# Injected-skew leg: collapse every 5th user into one hot key. At
# sf0.01 this pushes the skew ratio to ~24 (vs ~1.3 organic), so the
# router visibly switches strategy inside the gate; at sf0.001 the
# corpus is too small for the collapse to matter (~2.5 < 4) and BOTH
# legs legitimately route plain — the oracle reproduces the decision
# arithmetic, so the gate is engine-agnostic about which branch fires.
ADAPTIVE_SKEW_MOD = 5


def op_adaptive_join(t: dict[str, DataFrame]) -> DataFrame:
    """Threshold-driven skew routing IN the gate: op_skew_report's
    statistic decides per leg between a plain equi-join and the salted
    join (functions/skew.py:adaptive_join), and the decision itself is
    emitted as a column.

    Two legs share one plan shape: 'organic' joins events to per-user
    stats on the raw key (uniform → plain); 'injected' first collapses
    every ADAPTIVE_SKEW_MOD-th user into one hot key (→ salted once the
    corpus is big enough). The oracle recomputes the identical ratio
    and threshold CASE in SQL, plus the join checksums (row count,
    dsum(value), Σ user_n) that a mis-keyed or row-duplicating salted
    path would break. The only driver-side values are the two scalar
    ratios (one aggregated row each — the same collect discipline as
    the components loop).
    """
    from pypers_spark.functions.skew import adaptive_join

    ev = t["events"]
    hot_key = F.when(
        F.col("user_id") % ADAPTIVE_SKEW_MOD == 0, F.lit(0)
    ).otherwise(F.col("user_id"))
    legs = []
    for leg_name, df in (
        ("injected", ev.select(hot_key.alias("user_id"), "value")),
        ("organic", ev.select("user_id", "value")),
    ):
        user_stats = df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("user_n")
        )
        joined, strategy, ratio = adaptive_join(df, user_stats, "user_id")
        legs.append(
            joined.agg(
                F.lit(leg_name).alias("leg"),
                F.lit(strategy).alias("strategy"),
                rnd(F.lit(float(ratio)), 4).alias("skew_ratio"),
                F.count(F.lit(1)).alias("n_rows"),
                rnd(dsum(F.col("value")), 2).alias("total_value"),
                F.sum("user_n").alias("sum_user_n"),
            )
        )
    return legs[0].unionByName(legs[1])


def _duck_adaptive_leg(leg: str, key_expr: str) -> str:
    return f"""
SELECT '{leg}' AS leg,
       CASE WHEN r.ratio > 4.0 THEN 'salted' ELSE 'plain' END AS strategy,
       {duck_rnd('r.ratio', 4)} AS skew_ratio,
       count(*) AS n_rows,
       {duck_rnd(duck_dsum('d.value'), 2)} AS total_value,
       CAST(sum(u.user_n) AS BIGINT) AS sum_user_n
FROM (SELECT {key_expr} AS user_id, value FROM events) d
JOIN (SELECT {key_expr} AS user_id, count(*) AS user_n
      FROM events GROUP BY 1) u USING (user_id)
CROSS JOIN (
  SELECT max(n) * count(*) * 1.0 / sum(n) AS ratio
  FROM (SELECT {key_expr} AS user_id, count(*) AS n
        FROM events GROUP BY 1) c
) r
GROUP BY r.ratio
"""


_HOT = f"CASE WHEN user_id % {ADAPTIVE_SKEW_MOD} = 0 THEN 0 ELSE user_id END"

ORACLE_ADAPTIVE_JOIN = f"""
{_duck_adaptive_leg("injected", _HOT)}
UNION ALL
{_duck_adaptive_leg("organic", "user_id")}
ORDER BY leg
"""

QUERIES["op_adaptive_join"] = op_adaptive_join
ORACLES["op_adaptive_join"] = ORACLE_ADAPTIVE_JOIN


# --- op_histogram_equidepth --------------------------------------------------

HEQ_B = 8  # equi-depth buckets


def op_histogram_equidepth(t: dict[str, DataFrame]) -> DataFrame:
    """EQUI-DEPTH histogram of order totals: bucket boundaries at the
    exact {HEQ_B}-quantiles (the optimizer's histogram of choice —
    fixed-width buckets smear skewed money columns into a few hot
    bins; equi-depth puts ~n/{HEQ_B} rows in every bucket by
    construction). The cutoffs come from
    :func:`pypers_spark.functions.percentile.exact_percentiles` — the
    round-7 shuffle-bounded order-statistic plan, NOT Spark's
    O(distinct)-single-buffer percentile aggregate — quantized to 1e-6
    BEFORE bucket membership is decided, so assignment never hinges on
    last-ulp agreement between engines.

    Plan shape: one counting pass builds the 7 cutoffs (partial-agg
    friendly), the 1-row cutoff table broadcasts back, and bucket
    assignment + stats is one hash aggregation — two scans, no sort of
    the fact table.
    """
    from pypers_spark.functions.percentile import exact_percentiles

    cuts = exact_percentiles(
        t["orders"],
        "o_totalprice",
        [(i / HEQ_B, f"_c{i}") for i in range(1, HEQ_B)],
    )
    cuts_q = cuts.select(
        *[rnd(F.col(f"_c{i}"), 6).alias(f"_c{i}") for i in range(1, HEQ_B)]
    )
    bucket = sum(
        (F.col("o_totalprice") > F.col(f"_c{i}")).cast("int")
        for i in range(1, HEQ_B)
    )
    return (
        t["orders"]
        .select("o_totalprice")
        .crossJoin(F.broadcast(cuts_q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            rnd(F.min("o_totalprice"), 2).alias("lo"),
            rnd(F.max("o_totalprice"), 2).alias("hi"),
            rnd(dsum(F.col("o_totalprice")), 2).alias("sum_price"),
        )
    )


def _finalize_histogram_equidepth_oracle() -> str:
    cut_cols = ",\n         ".join(
        f"{duck_rnd(f'quantile_cont(o_totalprice, {i / HEQ_B})', 6)} AS c{i}"
        for i in range(1, HEQ_B)
    )
    bucket = " + ".join(
        f"CASE WHEN o_totalprice > c{i} THEN 1 ELSE 0 END"
        for i in range(1, HEQ_B)
    )
    return f"""
WITH cuts AS (
  SELECT {cut_cols}
  FROM orders
)
SELECT ({bucket}) AS bucket,
       count(*) AS n,
       {duck_rnd('min(o_totalprice)', 2)} AS lo,
       {duck_rnd('max(o_totalprice)', 2)} AS hi,
       {duck_rnd(duck_dsum('o_totalprice'), 2)} AS sum_price
FROM orders, cuts
GROUP BY 1
ORDER BY bucket
"""


QUERIES["op_histogram_equidepth"] = op_histogram_equidepth
ORACLES["op_histogram_equidepth"] = _finalize_histogram_equidepth_oracle()


# --- op_column_mask (r8) ------------------------------------------------------

MASK_BAND = 1000.0  # acctbal generalization band width
MASK_K = 5          # suppress bands with < K members per (segment, band)


def op_column_mask(t: dict[str, DataFrame]) -> DataFrame:
    """APPLIED column masking for a governed export (the op_k_anonymity
    report turned into the actual de-identified table): direct
    identifiers are hashed (md5-prefix pseudonym for c_name),
    quasi-identifiers are generalized (acctbal → {MASK_BAND}-wide
    band), and any (segment, band) cell with fewer than {MASK_K}
    members is SUPPRESSED (band → NULL) so the export is k-anonymous
    by construction — the share-with-vendor shape every governed
    warehouse ships.

    One window count over the generalized cell key (the only shuffle),
    everything else map-side expressions; at 100 TB the cell census is
    a broadcast join instead of a window, same semantics.
    """
    from pyspark.sql import Window

    c = t["customer"]
    band = (F.floor(F.col("c_acctbal") / MASK_BAND) * int(MASK_BAND)).cast("bigint")
    masked = c.select(
        "c_custkey",
        F.substring(F.md5(F.col("c_name")), 1, 8).alias("name_mask"),
        F.col("c_mktsegment").alias("segment"),
        band.alias("band"),
    )
    w = Window.partitionBy("segment", "band")
    return (
        masked.withColumn("cell_n", F.count("*").over(w))
        .select(
            "c_custkey",
            "name_mask",
            "segment",
            F.when(F.col("cell_n") >= MASK_K, F.col("band")).alias("band"),
            (F.col("cell_n") < MASK_K).cast("int").alias("suppressed"),
        )
    )


ORACLE_COLUMN_MASK = f"""
WITH masked AS (
  SELECT c_custkey,
         substr(md5(c_name), 1, 8) AS name_mask,
         c_mktsegment AS segment,
         CAST(floor(c_acctbal / {MASK_BAND}) * {int(MASK_BAND)} AS BIGINT) AS band
  FROM customer
),
census AS (
  SELECT *, count(*) OVER (PARTITION BY segment, band) AS cell_n FROM masked
)
SELECT c_custkey, name_mask, segment,
       CASE WHEN cell_n >= {MASK_K} THEN band END AS band,
       CAST(cell_n < {MASK_K} AS INT) AS suppressed
FROM census
ORDER BY c_custkey
"""

QUERIES["op_column_mask"] = op_column_mask
ORACLES["op_column_mask"] = ORACLE_COLUMN_MASK


# --- op_gap_fill (r8) ---------------------------------------------------------
#
# Forward-fill imputation — the LOCF (last observation carried forward)
# primitive every feature pipeline needs: carry each user's most recent
# purchase value onto every subsequent event, then roll the filled
# column up per event type. The window frame is running (rows unbounded
# preceding → current), so Spark executes it as one sort-based window
# per user partition — no self-join, no driver loop; at 100 TB the only
# shuffle is the hash partition on user_id and per-user event lists are
# bounded.


def op_gap_fill(t: dict[str, DataFrame]) -> DataFrame:
    """LOCF forward-fill of the last purchase value over each user's
    event timeline; readout per event type: events, events with a
    filled value (a prior purchase existed), and the exact sum/mean of
    the filled column."""
    ev = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("last_purchase_value").alias("n_filled"),
            rnd(dsum(F.coalesce(F.col("last_purchase_value"), F.lit(0.0))), 2).alias(
                "filled_sum"
            ),
            # Zero guard: an event_type whose rows never follow a
            # purchase has n_filled = 0; 0.0/0 is NaN in Spark but
            # engine-configurable in DuckDB — make both emit NULL.
            rnd(
                F.when(
                    F.count("last_purchase_value") > 0,
                    dsum(F.coalesce(F.col("last_purchase_value"), F.lit(0.0)))
                    / F.count("last_purchase_value"),
                ),
                4,
            ).alias("filled_mean"),
        )
    )


ORACLE_GAP_FILL = f"""
WITH filled AS (
  SELECT event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_purchase_value
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(last_purchase_value) AS n_filled,
       {duck_rnd(duck_dsum('coalesce(last_purchase_value, 0.0)'), 2)} AS filled_sum,
       {duck_rnd('CASE WHEN count(last_purchase_value) > 0 THEN '
                 + duck_dsum('coalesce(last_purchase_value, 0.0)')
                 + ' / count(last_purchase_value) END', 4)} AS filled_mean
FROM filled
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["op_gap_fill"] = op_gap_fill
ORACLES["op_gap_fill"] = ORACLE_GAP_FILL


# --- op_sequence_islands (r8) ---------------------------------------------------
#
# Gaps-and-islands: group each user's distinct active DAYS into maximal
# runs of consecutive dates with the classic date − row_number() island
# key (pure integer arithmetic, identical in both engines). The readout
# is the island-length histogram — the "how long do usage streaks run"
# distribution, and the canonical interview-question shape every
# warehouse needs as a library primitive.


def op_sequence_islands(t: dict[str, DataFrame]) -> DataFrame:
    """Consecutive-active-day islands per user → island-length
    histogram (islands, users with at least one island of that length,
    and the total days covered).

    Scale shape: one distinct over (user, day) — a hash aggregation —
    then one sort-based window per user partition for the row_number,
    and two more hash aggregations for islands and the histogram. All
    shuffles are keyed on user_id or the bounded island length; nothing
    is quadratic in history length.
    """
    ev = t["events"]
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "island_key",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    islands = grp.groupBy("user_id", "island_key").agg(
        F.count(F.lit(1)).alias("island_len")
    )
    return (
        islands.groupBy("island_len")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.count_distinct("user_id").alias("n_users"),
            (F.count(F.lit(1)) * F.col("island_len")).cast("bigint").alias("total_days"),
        )
    )


ORACLE_SEQUENCE_ISLANDS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grp AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island_key
  FROM days
),
islands AS (
  SELECT user_id, island_key, count(*) AS island_len
  FROM grp GROUP BY user_id, island_key
)
SELECT island_len,
       count(*) AS n_islands,
       count(DISTINCT user_id) AS n_users,
       CAST(count(*) * island_len AS BIGINT) AS total_days
FROM islands
GROUP BY island_len
ORDER BY island_len
"""

QUERIES["op_sequence_islands"] = op_sequence_islands
ORACLES["op_sequence_islands"] = ORACLE_SEQUENCE_ISLANDS
