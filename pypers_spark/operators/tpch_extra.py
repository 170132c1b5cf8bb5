"""Extended TPC-H-shaped queries (SURVEY.md §2.B widening).

Adaptations of TPC-H Q4, Q7, Q8, Q9, Q13, Q14, Q15, Q17, Q19, Q22 to
the driver's star schema (no partsupp table, no commit/receipt dates or
ship modes — predicates substituted with available columns; query
SHAPES preserved: exists semi-join, nation-pair volume, market share,
profit rollup, distribution from a left join, windowed max, correlated
average, OR-pushdown, anti-join + scalar subquery).

Scale notes: dims broadcast; the orders⋈lineitem joins shuffle on the
order key; Q13's left join aggregates order counts BEFORE joining to
keep the shuffle narrow; Q15/Q17 use window/agg-join forms whose
shuffles key on the natural grouping columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


DUCK_REV = "l_extendedprice * (1 - l_discount)"


def q4_priority_check(t: dict[str, DataFrame]) -> DataFrame:
    """Q4 shape: order counts per priority where a late line item EXISTS.

    (TPC-H tests l_commitdate < l_receiptdate; this schema has neither,
    so "late" = shipped more than 60 days after the order date.)
    """
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    # Full-timestamp interval arithmetic (date_add would truncate the
    # time-of-day and diverge from the oracle on non-midnight stamps).
    late_orders = ords.join(
        t["lineitem"],
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return (
        late_orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_nation_volume(t: dict[str, DataFrame]) -> DataFrame:
    """Q7 shape: shipping volume between two nations by year."""
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(rnd(dsum(_rev()), 2).alias("revenue"))
    )


ORACLE_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {duck_rnd(duck_dsum(DUCK_REV), 2)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q8_market_share(t: dict[str, DataFrame]) -> DataFrame:
    """Q8 shape: one nation's share of PROMO-part revenue in a region, by year."""
    rg = t["region"].filter(F.col("r_name") == "ASIA")
    nations = t["nation"].join(F.broadcast(rg), F.col("n_regionkey") == F.col("r_regionkey"))
    parts = t["part"].filter(F.col("p_type") == "PROMO")
    base = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .withColumn("volume", _rev())
        .withColumn(
            "nation_volume",
            F.when(F.col("n_name") == "NATION_5", F.col("volume")).otherwise(F.lit(0.0)),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            rnd(dsum(F.col("nation_volume")) / dsum(F.col("volume")), 4).alias("mkt_share")
        )
    )


ORACLE_Q8 = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {duck_rnd(duck_dsum(f"CASE WHEN n_name = 'NATION_5' THEN {DUCK_REV} ELSE 0.0 END")
                 + " / " + duck_dsum(DUCK_REV), 4)} AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY 1
ORDER BY 1
"""


def q9_profit_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """Q9 shape: profit by supplier nation and year for one part segment.

    (No partsupp supplycost in this schema; profit = discounted revenue
    minus tax share.)
    """
    parts = t["part"].filter(F.col("p_type") == "ECONOMY")
    profit = _rev() - F.col("l_extendedprice") * F.col("l_tax")
    return (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(rnd(dsum(profit), 2).alias("sum_profit"))
    )


ORACLE_Q9 = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {duck_rnd(duck_dsum(f"{DUCK_REV} - l_extendedprice * l_tax"), 2)} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q13_custdist(t: dict[str, DataFrame]) -> DataFrame:
    """Q13 shape: distribution of customers by order count (incl. zero).

    The per-customer count aggregates BEFORE the (left) join direction
    flips — the heavy orders table never joins row-per-order against
    customer; only the (custkey, count) pairs do.
    """
    per_cust = (
        t["orders"]
        .filter(~F.col("o_orderpriority").startswith("5"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    return (
        t["customer"]
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .withColumn("c_count", F.coalesce(F.col("c_count"), F.lit(0)))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, coalesce(cnt, 0) AS c_count
  FROM customer
  LEFT JOIN (
    SELECT o_custkey, count(*) AS cnt FROM orders
    WHERE NOT starts_with(o_orderpriority, '5')
    GROUP BY o_custkey
  ) ON c_custkey = o_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_share(t: dict[str, DataFrame]) -> DataFrame:
    """Q14 shape: percentage of revenue from PROMO parts in one month."""
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    joined = li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return joined.agg(
        rnd(F.lit(100.0) * dsum(promo) / dsum(_rev()), 4).alias("promo_revenue_pct")
    )


ORACLE_Q14 = f"""
SELECT {duck_rnd("100.0 * " + duck_dsum(f"CASE WHEN p_type = 'PROMO' THEN {DUCK_REV} ELSE 0.0 END")
                + " / " + duck_dsum(DUCK_REV), 4)} AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q15_top_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """Q15 shape: supplier(s) with maximum quarterly revenue (ties kept).

    Windowed max over the aggregated revenue — one shuffle for the agg,
    a broadcast-size result for the max filter; no second scan of
    lineitem (TPC-H's view-with-subquery form).
    """
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    per_supp = li.groupBy("l_suppkey").agg(rnd(dsum(_rev()), 2).alias("total_revenue"))
    w = Window.partitionBy()
    top = per_supp.withColumn("max_rev", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    return (
        top.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey, {duck_rnd(duck_dsum(DUCK_REV), 2)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_quantity(t: dict[str, DataFrame]) -> DataFrame:
    """Q17 shape: revenue share of below-average-quantity line items.

    The correlated per-part average becomes a window mean over the
    part key — single shuffle keyed on l_partkey, no self-join.
    """
    parts = t["part"].filter(F.col("p_brand") == "Brand#1")
    li = t["lineitem"].join(
        F.broadcast(parts.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    flagged = li.withColumn("avg_qty", F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return flagged.agg(
        rnd(dsum(F.col("l_extendedprice")) / F.lit(7.0), 2).alias("avg_yearly")
    )


ORACLE_Q17 = f"""
SELECT {duck_rnd(duck_dsum("l_extendedprice") + " / 7.0", 2)} AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < 0.2 * (
    SELECT avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def q19_disc_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Q19 shape: revenue under OR-ed brand/size/quantity predicate sets.

    The disjunction sits on the joined row; per-branch conjuncts still
    prune the part side before the (broadcast) join.
    """
    p = t["part"]
    li = t["lineitem"]
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 30)))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(rnd(dsum(_rev()), 2).alias("revenue"))
    )


ORACLE_Q19 = f"""
SELECT {duck_rnd(duck_dsum(DUCK_REV), 2)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_sales_opportunity(t: dict[str, DataFrame]) -> DataFrame:
    """Q22 shape: rich customers with no orders, by nation.

    Scalar subquery (avg positive balance) broadcasts as a literal-like
    single row; the anti join against orders shuffles on the customer
    key only.
    """
    cust = t["customer"]
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    # "No recent orders": at this data's order density every customer
    # has SOME order, which would make a plain anti join vacuous.
    recent = t["orders"].filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
    no_orders = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            rnd(dsum(F.col("c_acctbal")), 2).alias("totacctbal"),
        )
    )


ORACLE_Q22 = f"""
SELECT c_nationkey, count(*) AS numcust,
       {duck_rnd(duck_dsum("c_acctbal"), 2)} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


QUERIES = {
    "q4_priority_check": q4_priority_check,
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q9_profit_rollup": q9_profit_rollup,
    "q13_custdist": q13_custdist,
    "q14_promo_share": q14_promo_share,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q19_disc_revenue": q19_disc_revenue,
    "q22_sales_opportunity": q22_sales_opportunity,
}

ORACLES = {
    "q4_priority_check": ORACLE_Q4,
    "q7_nation_volume": ORACLE_Q7,
    "q8_market_share": ORACLE_Q8,
    "q9_profit_rollup": ORACLE_Q9,
    "q13_custdist": ORACLE_Q13,
    "q14_promo_share": ORACLE_Q14,
    "q15_top_supplier": ORACLE_Q15,
    "q17_small_quantity": ORACLE_Q17,
    "q19_disc_revenue": ORACLE_Q19,
    "q22_sales_opportunity": ORACLE_Q22,
}
