"""Relational / analytic operators (SURVEY.md §2.B).

TPC-H-shaped queries adapted to the driver's test schema plus
micro-operators exercising each relational primitive. Written
declaratively so Catalyst handles pushdown/pruning/join-order; dimension
joins carry explicit ``broadcast`` hints (at 100 TB region/nation/
supplier/part remain broadcastable; orders⋈lineitem shuffles on the
order key with AQE skew handling).

Float discipline: every floating aggregate is rounded to a fixed number
of decimals IN BOTH engines, so summation-order differences between
Spark and the DuckDB oracle cannot flip the value hash.

Reference parity anchor: repype has no query surface (it is a
domain-agnostic orchestrator — see SURVEY.md §1); this library is the
"same capabilities, Spark-first" analytic plane required by the north
star, exposed through the same Stage/Pipeline API (stage.py:113,
pipeline.py:133).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import (
    davg,
    dsum,
    dsum_wide,
    duck_davg,
    duck_dsum,
    duck_rnd,
    rnd,
)

DUCK_REV = "l_extendedprice * (1 - l_discount)"
_REV_AGG = f"{duck_rnd(duck_dsum(DUCK_REV), 2)} AS revenue"


# --- TPC-H-shaped headline queries -----------------------------------------


def q1_pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q1: pricing summary report (filter → groupBy multi-agg)."""
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(dsum(F.col("l_quantity")), 2).alias("sum_qty"),
            rnd(dsum(F.col("l_extendedprice")), 2).alias("sum_base_price"),
            rnd(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            rnd(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            rnd(davg(F.col("l_quantity")), 4).alias("avg_qty"),
            rnd(davg(F.col("l_extendedprice")), 4).alias("avg_price"),
            rnd(davg(F.col("l_discount")), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {duck_rnd(duck_dsum('l_quantity'), 2)} AS sum_qty,
       {duck_rnd(duck_dsum('l_extendedprice'), 2)} AS sum_base_price,
       {duck_rnd(duck_dsum(DUCK_REV), 2)} AS sum_disc_price,
       {duck_rnd(duck_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)'), 2)} AS sum_charge,
       {duck_rnd(duck_davg('l_quantity'), 4)} AS avg_qty,
       {duck_rnd(duck_davg('l_extendedprice'), 4)} AS avg_price,
       {duck_rnd(duck_davg('l_discount'), 4)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q3 (adapted: no o_shippriority column): top unshipped orders."""
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    ords = t["orders"].filter(F.col("o_orderdate") < F.lit("1997-03-15"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1997-03-15"))
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rnd(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


ORACLE_Q3 = f"""
SELECT l_orderkey, o_orderdate, {_REV_AGG}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_local_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier co-located.

    region/nation/supplier broadcast; the orders⋈lineitem fact join
    shuffles once on the order key.
    """
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("n_name")
        .agg(rnd(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


ORACLE_Q5 = f"""
SELECT n_name, {_REV_AGG}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_forecast_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q6: scalar aggregate with tightly pushed-down scan filters."""
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    # Scalar whole-table sum → dsum_wide (decimal accumulator; int64
    # would silently wrap past ~9.2e12 value units at 100 TB).
    return li.agg(
        rnd(dsum_wide(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


ORACLE_Q6 = f"""
SELECT {duck_rnd(duck_dsum('l_extendedprice * l_discount'), 2)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q10_returned_items(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q10: top customers by returned-item revenue."""
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rnd(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, {_REV_AGG}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q18_large_orders(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q18: customers with large-volume orders (agg semi-filter)."""
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            rnd(F.col("total_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


ORACLE_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {duck_rnd('total_qty', 2)} AS total_qty
FROM (
  SELECT l_orderkey, {duck_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --- micro-operators: one per relational primitive --------------------------


def op_filter_project(t: dict[str, DataFrame]) -> DataFrame:
    """Predicate + column pruning: both must reach the parquet scan."""
    return (
        t["orders"]
        .filter((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


ORACLE_FILTER_PROJECT = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
ORDER BY o_orderkey
"""


def op_distinct(t: dict[str, DataFrame]) -> DataFrame:
    """Exact distinct (shuffle on the full row key)."""
    return t["orders"].select("o_orderstatus", "o_orderpriority").distinct()


ORACLE_DISTINCT = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
ORDER BY o_orderstatus, o_orderpriority
"""


def op_union(t: dict[str, DataFrame]) -> DataFrame:
    """unionByName + distinct across two filtered branches."""
    a = t["customer"].filter(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("key"))
    b = t["supplier"].filter(F.col("s_acctbal") > 9000).select(F.col("s_suppkey").alias("key"))
    return a.unionByName(b).distinct()


ORACLE_UNION = """
SELECT DISTINCT key FROM (
  SELECT c_custkey AS key FROM customer WHERE c_acctbal > 9000
  UNION ALL
  SELECT s_suppkey AS key FROM supplier WHERE s_acctbal > 9000
) ORDER BY key
"""


def op_sort_limit(t: dict[str, DataFrame]) -> DataFrame:
    """Global top-N → Spark plans TakeOrderedAndProject (no full sort)."""
    return (
        t["lineitem"]
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(25)
    )


ORACLE_SORT_LIMIT = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25
"""


def op_join_inner(t: dict[str, DataFrame]) -> DataFrame:
    """Inner join customer⋈nation with broadcast dim."""
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"), rnd(davg(F.col("c_acctbal")), 4).alias("avg_bal"))
    )


ORACLE_JOIN_INNER = f"""
SELECT n_name, count(*) AS n_customers, {duck_rnd(duck_davg('c_acctbal'), 4)} AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def op_join_left(t: dict[str, DataFrame]) -> DataFrame:
    """Left outer join: customers with (possibly zero) high-value orders."""
    big = t["orders"].filter(F.col("o_totalprice") > 200000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


ORACLE_JOIN_LEFT = """
SELECT c_custkey, count(o_orderkey) AS n_big_orders
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
  ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey
"""


def op_join_semi(t: dict[str, DataFrame]) -> DataFrame:
    """Left-semi join: customers that placed at least one urgent order."""
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


ORACLE_JOIN_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def op_join_anti(t: dict[str, DataFrame]) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


ORACLE_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def op_agg_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP grouping sets over status × priority."""
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), rnd(dsum(F.col("o_totalprice")), 2).alias("total"))
    )


ORACLE_AGG_ROLLUP = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n, {duck_rnd(duck_dsum('o_totalprice'), 2)} AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def op_agg_cube(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE grouping sets over returnflag × linestatus."""
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), rnd(dsum(F.col("l_quantity")), 2).alias("qty"))
    )


ORACLE_AGG_CUBE = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n, {duck_rnd(duck_dsum('l_quantity'), 2)} AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def op_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """Pivot order counts by status (fixed pivot values → conditional agg)."""
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
    )


ORACLE_PIVOT = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def op_window_rank(t: dict[str, DataFrame]) -> DataFrame:
    """Top-3 orders per priority by rank() window."""
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t["orders"]
        .withColumn("rk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


ORACLE_WINDOW_RANK = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3 ORDER BY o_orderpriority, rk, o_orderkey
"""


def op_window_running(t: dict[str, DataFrame]) -> DataFrame:
    """Running revenue per customer ordered by order date (cumsum + lag)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t["orders"]
        .withColumn(
            "running_total",
            # scaled-int64 running sum (see functions/rounding.dsum)
            rnd((F.sum(F.floor(F.col("o_totalprice") * 1e6 + F.lit(0.5))).over(w) / F.lit(1e6)).cast("double"), 2),
        )
        .withColumn("prev_price", F.lag("o_totalprice").over(w))
        .select("o_custkey", "o_orderkey", "o_orderdate", "running_total", "prev_price")
    )


ORACLE_WINDOW_RUNNING = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       {duck_rnd("(CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000.0)", 2)} AS running_total,
       lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def op_exists_in(t: dict[str, DataFrame]) -> DataFrame:
    """IN-subquery rewrite: parts whose size appears among small suppliers' nations."""
    keys = t["nation"].filter(F.col("n_regionkey") == 1).select("n_nationkey")
    return (
        t["supplier"]
        .join(F.broadcast(keys), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


ORACLE_EXISTS_IN = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
ORDER BY s_suppkey
"""


def op_cross_small(t: dict[str, DataFrame]) -> DataFrame:
    """Bounded cross join (region × order status) — only ever dim × tiny."""
    statuses = t["orders"].select("o_orderstatus").distinct()
    return (
        t["region"]
        .crossJoin(statuses)
        .select("r_name", "o_orderstatus")
    )


ORACLE_CROSS_SMALL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
ORDER BY r_name, o_orderstatus
"""


def op_scalar_subquery(t: dict[str, DataFrame]) -> DataFrame:
    """Orders above the global average price (scalar subquery → join)."""
    avg_price = t["orders"].agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        t["orders"]
        .crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


ORACLE_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
ORDER BY o_orderkey
"""


def op_case_expr(t: dict[str, DataFrame]) -> DataFrame:
    """CASE bucketing + conditional aggregation."""
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        t["orders"]
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            rnd(davg(F.col("o_totalprice")), 4).alias("avg_price"),
        )
    )


ORACLE_CASE_EXPR = f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       count(*) AS n, {duck_rnd(duck_davg('o_totalprice'), 4)} AS avg_price
FROM orders GROUP BY 1 ORDER BY bucket
"""


def op_null_handling(t: dict[str, DataFrame]) -> DataFrame:
    """coalesce / nullif / null-safe equality on a derived nullable column."""
    df = t["customer"].withColumn("nickname", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")))
    return (
        df.select(
            "c_custkey",
            F.coalesce(F.col("nickname"), F.lit("(none)")).alias("segment_or_none"),
            F.col("nickname").eqNullSafe(F.lit("MACHINERY")).alias("is_machinery"),
        )
    )


ORACLE_NULL_HANDLING = """
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS segment_or_none,
       nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'MACHINERY' AS is_machinery
FROM customer ORDER BY c_custkey
"""


def op_string_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """String expression battery on part names."""
    return (
        t["part"]
        .select(
            "p_partkey",
            F.lower(F.col("p_name")).alias("lower_name"),
            F.substring(F.col("p_name"), 1, 5).alias("prefix5"),
            F.length(F.col("p_name")).alias("name_len"),
            F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("devoweled"),
            F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
            F.trim(F.upper(F.col("p_brand"))).alias("brand_up"),
        )
    )


ORACLE_STRING_FUNCS = """
SELECT p_partkey, lower(p_name) AS lower_name, substr(p_name, 1, 5) AS prefix5,
       length(p_name) AS name_len,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       concat_ws('|', p_brand, p_type) AS brand_type,
       trim(upper(p_brand)) AS brand_up
FROM part ORDER BY p_partkey
"""


def op_date_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """Date/time expression battery over order dates."""
    return (
        t["orders"]
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.dayofmonth("o_orderdate").cast("int").alias("dom"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("int")
            .alias("days_to_eoy"),
        )
    )


ORACLE_DATE_FUNCS = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(date_diff('day', o_orderdate::DATE, DATE '1998-12-31') AS INT) AS days_to_eoy
FROM orders ORDER BY o_orderkey
"""


def op_approx_quantile(t: dict[str, DataFrame]) -> DataFrame:
    """Exact percentiles (Spark `percentile` == DuckDB `quantile_cont`).

    Spark's approx_percentile sketch is engine-specific, so the oracled
    surface uses exact percentile; the approximate path (same API shape,
    t-digest at scale) is covered in tests/test_operators_relational.py.
    Computed via the shuffle-bounded order-statistic plan
    (functions/percentile.py) — never Spark's O(distinct)-single-buffer
    `percentile` aggregate.
    """
    from pypers_spark.functions.percentile import exact_percentiles

    pct = exact_percentiles(
        t["lineitem"], "l_extendedprice", [(0.5, "_p50"), (0.9, "_p90"), (0.99, "_p99")]
    )
    return pct.select(
        rnd(F.col("_p50"), 4).alias("p50"),
        rnd(F.col("_p90"), 4).alias("p90"),
        rnd(F.col("_p99"), 4).alias("p99"),
    )


ORACLE_APPROX_QUANTILE = f"""
SELECT {duck_rnd('quantile_cont(l_extendedprice, 0.5)', 4)} AS p50,
       {duck_rnd('quantile_cont(l_extendedprice, 0.9)', 4)} AS p90,
       {duck_rnd('quantile_cont(l_extendedprice, 0.99)', 4)} AS p99
FROM lineitem
"""


def op_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic 10% sample via portable hash-mod (not Bernoulli —
    engine RNGs differ; hash-mod sampling is reproducible AND pushes to
    any engine)."""
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10).cast("bigint")
    return (
        t["orders"]
        .filter(h % 10 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


ORACLE_SAMPLE = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
ORDER BY o_orderkey
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q18_large_orders": q18_large_orders,
    "op_filter_project": op_filter_project,
    "op_distinct": op_distinct,
    "op_union": op_union,
    "op_sort_limit": op_sort_limit,
    "op_join_inner": op_join_inner,
    "op_join_left": op_join_left,
    "op_join_semi": op_join_semi,
    "op_join_anti": op_join_anti,
    "op_agg_rollup": op_agg_rollup,
    "op_agg_cube": op_agg_cube,
    "op_pivot": op_pivot,
    "op_window_rank": op_window_rank,
    "op_window_running": op_window_running,
    "op_exists_in": op_exists_in,
    "op_cross_small": op_cross_small,
    "op_scalar_subquery": op_scalar_subquery,
    "op_case_expr": op_case_expr,
    "op_null_handling": op_null_handling,
    "op_string_funcs": op_string_funcs,
    "op_date_funcs": op_date_funcs,
    "op_approx_quantile": op_approx_quantile,
    "op_sample": op_sample,
}

ORACLES = {
    "q1_pricing_summary": ORACLE_Q1,
    "q3_shipping_priority": ORACLE_Q3,
    "q5_local_supplier": ORACLE_Q5,
    "q6_forecast_revenue": ORACLE_Q6,
    "q10_returned_items": ORACLE_Q10,
    "q18_large_orders": ORACLE_Q18,
    "op_filter_project": ORACLE_FILTER_PROJECT,
    "op_distinct": ORACLE_DISTINCT,
    "op_union": ORACLE_UNION,
    "op_sort_limit": ORACLE_SORT_LIMIT,
    "op_join_inner": ORACLE_JOIN_INNER,
    "op_join_left": ORACLE_JOIN_LEFT,
    "op_join_semi": ORACLE_JOIN_SEMI,
    "op_join_anti": ORACLE_JOIN_ANTI,
    "op_agg_rollup": ORACLE_AGG_ROLLUP,
    "op_agg_cube": ORACLE_AGG_CUBE,
    "op_pivot": ORACLE_PIVOT,
    "op_window_rank": ORACLE_WINDOW_RANK,
    "op_window_running": ORACLE_WINDOW_RUNNING,
    "op_exists_in": ORACLE_EXISTS_IN,
    "op_cross_small": ORACLE_CROSS_SMALL,
    "op_scalar_subquery": ORACLE_SCALAR_SUBQUERY,
    "op_case_expr": ORACLE_CASE_EXPR,
    "op_null_handling": ORACLE_NULL_HANDLING,
    "op_string_funcs": ORACLE_STRING_FUNCS,
    "op_date_funcs": ORACLE_DATE_FUNCS,
    "op_approx_quantile": ORACLE_APPROX_QUANTILE,
    "op_sample": ORACLE_SAMPLE,
}


def op_grouping_sets(t: dict[str, DataFrame]) -> DataFrame:
    """Explicit GROUPING SETS: chosen aggregation combinations only
    (finer than rollup/cube), with grouping_id disambiguation."""
    return (
        t["lineitem"]
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n"),
            rnd(dsum(F.col("l_quantity")), 2).alias("sum_qty"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


ORACLE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {duck_rnd(duck_dsum('l_quantity'), 2)} AS sum_qty,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST
"""

QUERIES["op_grouping_sets"] = op_grouping_sets
ORACLES["op_grouping_sets"] = ORACLE_GROUPING_SETS


def op_intersect(t: dict[str, DataFrame]) -> DataFrame:
    """INTERSECT (distinct set semantics): customers active in both
    halves of the order history."""
    orders = t["orders"]
    early = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select("o_custkey")
    late = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")).select("o_custkey")
    return early.intersect(late)


ORACLE_INTERSECT = """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
ORDER BY o_custkey
"""


def op_except(t: dict[str, DataFrame]) -> DataFrame:
    """EXCEPT (distinct set semantics): late-only customers — ordered in
    the final year but never in the early years."""
    orders = t["orders"]
    late = orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01")).select("o_custkey")
    early = orders.filter(F.col("o_orderdate") < F.lit("1996-01-01")).select("o_custkey")
    return late.subtract(early)


ORACLE_EXCEPT = """
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
ORDER BY o_custkey
"""


def op_window_distribution(t: dict[str, DataFrame]) -> DataFrame:
    """Distribution window functions: ntile, percent_rank, cume_dist
    over customer balances per market segment."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        t["customer"]
        .select(
            "c_custkey",
            "c_mktsegment",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
            rnd(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


ORACLE_WINDOW_DISTRIBUTION = f"""
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       {duck_rnd('percent_rank() OVER w', 6)} AS pct_rank,
       {duck_rnd('cume_dist() OVER w', 6)} AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_custkey
"""


def op_explode(t: dict[str, DataFrame]) -> DataFrame:
    """Lateral explode: one row per whitespace token of each document
    name-like field, with token position."""
    toks = F.split(F.col("p_name"), " ")
    return (
        t["part"]
        .select("p_partkey", F.posexplode(toks).alias("pos", "token"))
        .withColumn("pos", F.col("pos").cast("bigint"))
    )


ORACLE_EXPLODE = """
SELECT p_partkey, CAST(u.pos - 1 AS BIGINT) AS pos, u.token
FROM part,
     LATERAL (SELECT unnest(string_split(p_name, ' ')) AS token,
                     generate_subscripts(string_split(p_name, ' '), 1) AS pos) u
ORDER BY p_partkey, pos
"""

QUERIES["op_intersect"] = op_intersect
QUERIES["op_except"] = op_except
QUERIES["op_window_distribution"] = op_window_distribution
QUERIES["op_explode"] = op_explode
ORACLES["op_intersect"] = ORACLE_INTERSECT
ORACLES["op_except"] = ORACLE_EXCEPT
ORACLES["op_window_distribution"] = ORACLE_WINDOW_DISTRIBUTION
ORACLES["op_explode"] = ORACLE_EXPLODE


def op_window_firstlast(t: dict[str, DataFrame]) -> DataFrame:
    """first_value / last_value / nth_value over each customer's order
    history (full-partition frames)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey").over(w).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        )
    )


ORACLE_WINDOW_FIRSTLAST = """
SELECT o_orderkey, o_custkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_orderkey
"""


def op_percentile_exact(t: dict[str, DataFrame]) -> DataFrame:
    """Exact interpolated percentiles per group (vs the approx variant in
    op_approx_quantile) — shuffle-bounded order-statistic plan, bit-equal
    to F.percentile without its O(distinct) single-buffer merge state."""
    from pypers_spark.functions.percentile import exact_percentiles

    pct = exact_percentiles(
        t["lineitem"],
        "l_extendedprice",
        [(0.5, "_p50"), (0.9, "_p90")],
        group_cols=["l_returnflag"],
    )
    return pct.select(
        "l_returnflag",
        rnd(F.col("_p50"), 4).alias("p50"),
        rnd(F.col("_p90"), 4).alias("p90"),
    )


ORACLE_PERCENTILE_EXACT = f"""
SELECT l_returnflag,
       {duck_rnd('quantile_cont(l_extendedprice, 0.5)', 4)} AS p50,
       {duck_rnd('quantile_cont(l_extendedprice, 0.9)', 4)} AS p90
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

QUERIES["op_window_firstlast"] = op_window_firstlast
QUERIES["op_percentile_exact"] = op_percentile_exact
ORACLES["op_window_firstlast"] = ORACLE_WINDOW_FIRSTLAST
ORACLES["op_percentile_exact"] = ORACLE_PERCENTILE_EXACT


def op_join_anti_filtered(t: dict[str, DataFrame]) -> DataFrame:
    """Left-anti join against a FILTERED build side: customers with no
    1995 orders. The unfiltered twin (op_join_anti) is legitimately
    empty on this dataset — every customer has at least one order — so
    this variant keeps the anti-join path value-checked on real rows
    (326 at sf0.01) and exercises filter-below-join placement."""
    orders_95 = t["orders"].filter(F.year("o_orderdate") == 1995)
    return (
        t["customer"]
        .join(orders_95, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


ORACLE_JOIN_ANTI_FILTERED = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995
)
ORDER BY c_custkey
"""

QUERIES["op_join_anti_filtered"] = op_join_anti_filtered
ORACLES["op_join_anti_filtered"] = ORACLE_JOIN_ANTI_FILTERED
