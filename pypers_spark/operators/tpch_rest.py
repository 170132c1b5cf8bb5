"""Final TPC-H-shaped queries: Q2, Q11, Q12, Q16, Q20, Q21 adaptations.

Completes the 22-shape TPC-H family (SURVEY.md §2.B; the other 16 live
in ``relational.py`` / ``tpch_extra.py``). This schema has no partsupp
table, so the part-supplier relationship is derived from lineitem
(``_part_supplier``): distinct (l_partkey, l_suppkey) pairs with a
min-unit-price "supply cost" — the query SHAPES (correlated min,
HAVING over scalar-subquery threshold, NOT IN exclusion, nested agg
semi-join, double-EXISTS self-join) are preserved exactly.

Scale notes (100 TB intent):
- ``_part_supplier`` is one shuffle keyed on (partkey, suppkey) —
  the natural pre-aggregation that replaces TPC-H's materialized
  partsupp; at scale it would be a bucketed checkpoint table.
- Q2's correlated min becomes a window min over the partkey — no
  second scan, no self-join.
- Q21's double EXISTS over lineitem self-joins becomes ONE shuffle on
  l_orderkey computing per-order supplier/lateness aggregates — the
  classic rewrite that turns O(n²)-ish correlated scans into a single
  wide aggregation.
- Dims (supplier, nation, region, filtered part) broadcast everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, dsum_wide, duck_dsum, duck_rnd, rnd


def _part_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """partsupp proxy: per (partkey, suppkey), min unit price = supply cost."""
    return t["lineitem"].groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost")
    )


DUCK_PS = """
SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS supply_cost
FROM lineitem GROUP BY 1, 2
"""


def q2_min_cost_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """Q2 shape: cheapest EUROPE supplier(s) per STANDARD mid-size part.

    The correlated `supply_cost = (SELECT min ...)` becomes a window
    min over p_partkey AFTER the region restriction — identical
    semantics, one shuffle, no re-scan.
    """
    eu = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    parts = t["part"].filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_name")
    cand = (
        _part_supplier(t)
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost")
    )


ORACLE_Q2 = f"""
WITH ps AS ({DUCK_PS}),
eu AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
FROM ps
JOIN part ON p_partkey = l_partkey
JOIN eu ON l_suppkey = s_suppkey
WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
  AND supply_cost = (
    SELECT min(ps2.supply_cost)
    FROM ps ps2 JOIN eu e2 ON ps2.l_suppkey = e2.s_suppkey
    WHERE ps2.l_partkey = p_partkey
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""


def q11_important_stock(t: dict[str, DataFrame]) -> DataFrame:
    """Q11 shape: parts whose NATION_3-supplied value exceeds a fraction
    of the total — HAVING against a scalar-subquery threshold.

    The threshold aggregate is a 1-row DataFrame cross-broadcast into
    the HAVING filter; value sums are exact decimal (order-free).
    """
    nat = t["nation"].filter(F.col("n_name") == "NATION_3")
    supp = t["supplier"].join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li = t["lineitem"].join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    per_part = li.groupBy("l_partkey").agg(dsum(value).alias("part_value"))
    # Whole-table total: unbounded cardinality → decimal accumulator
    # (dsum's int64 path wraps past ~9.2e12 value units at 100 TB).
    total = li.agg((dsum_wide(value) * F.lit(0.001)).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", rnd(F.col("part_value"), 2).alias("part_value"))
    )


ORACLE_Q11 = f"""
WITH li AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
SELECT l_partkey, {duck_rnd(duck_dsum('v'), 2)} AS part_value
FROM li
GROUP BY l_partkey
HAVING {duck_dsum('v')} > (SELECT {duck_dsum('v')} * 0.001 FROM li)
ORDER BY part_value DESC, l_partkey
"""


def q12_late_lines(t: dict[str, DataFrame]) -> DataFrame:
    """Q12 shape: high- vs low-priority late line counts per return class.

    (No l_shipmode in this schema — l_returnflag plays the mode role;
    "late" = shipped >60 days after order date.) Integer conditional
    sums — exact by construction.
    """
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
ORDER BY 1
"""


def q16_supplier_cnt(t: dict[str, DataFrame]) -> DataFrame:
    """Q16 shape: distinct supplier counts per (brand, type, size),
    excluding one brand/type and negative-balance suppliers (NOT IN).

    The NOT IN subquery is a broadcast anti join (the excluded supplier
    set is tiny at any scale); count(DISTINCT) shuffles once on the
    3-column group key.
    """
    pairs = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    bad_supp = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        pairs.join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"),
                   "left_anti")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_dominant_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """Q20 shape: NATION_2 suppliers that dominate a red part's 1997
    volume (>30% of the part's shipped quantity).

    TPC-H's availqty agg-subquery chain becomes: one shuffle keyed on
    (partkey, suppkey) for per-pair quantity, a window sum over partkey
    for the part total, then a broadcast semi-chain to supplier names.
    """
    red_parts = t["part"].filter(F.col("p_name").startswith("red")).select("p_partkey")
    li97 = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
    )
    pair_qty = li97.groupBy("l_partkey", "l_suppkey").agg(
        dsum(F.col("l_quantity")).alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        pair_qty.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(F.col("supp_qty") > F.lit(0.3) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nat2 = t["nation"].filter(F.col("n_name") == "NATION_2")
    return (
        t["supplier"]
        .join(F.broadcast(nat2), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "leftsemi")
        .select("s_suppkey", "s_name")
    )


ORACLE_Q20 = f"""
WITH pair_qty AS (
  SELECT l_partkey, l_suppkey, {duck_dsum('l_quantity')} AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE starts_with(p_name, 'red'))
  GROUP BY 1, 2
),
tot AS (
  SELECT l_partkey, CAST(sum(supp_qty) AS DOUBLE) AS part_qty
  FROM pair_qty GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND s_suppkey IN (
    SELECT pq.l_suppkey FROM pair_qty pq
    JOIN tot ON pq.l_partkey = tot.l_partkey
    WHERE pq.supp_qty > 0.3 * tot.part_qty
  )
ORDER BY s_suppkey
"""


def q21_waiting_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """Q21 shape: NATION_1 suppliers who were the SOLE late supplier on a
    finished multi-supplier order — EXISTS + NOT EXISTS self-joins.

    Rewrite: both correlated scans collapse into one aggregation over
    (l_orderkey, l_suppkey) + a window over l_orderkey — per-order
    supplier count and late-supplier count — so lineitem is scanned
    once and shuffled once on the order key.
    """
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    li = (
        t["lineitem"]
        .join(t["orders"].filter(F.col("o_orderstatus") == "F"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("is_late", late.cast("int"))
    )
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("is_late").alias("late_lines")
    )
    # Order-level AGGREGATION, not a window (r11, guide §2.3): the
    # window shuffled + sorted every pair row to count suppliers per
    # order; the aggregation is map-side partial (order-cardinality
    # rows cross the second exchange, no sort), and because a
    # qualifying order has EXACTLY ONE late supplier (n_late_supp = 1),
    # max(when(late)) recovers that supplier's key and line count in
    # the same pass.
    flagged = (
        pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum((F.col("late_lines") > 0).cast("int")).alias("n_late_supp"),
            F.max(
                F.when(
                    F.col("late_lines") > 0,
                    F.struct("l_suppkey", "late_lines"),
                )
            ).alias("late_sup"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select(
            F.col("late_sup.l_suppkey").alias("l_suppkey"),
            F.col("late_sup.late_lines").alias("late_lines"),
        )
    )
    nat1 = t["nation"].filter(F.col("n_name") == "NATION_1")
    supp = t["supplier"].join(
        F.broadcast(nat1), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        flagged.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
    )


ORACLE_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q12_late_lines": q12_late_lines,
    "q16_supplier_cnt": q16_supplier_cnt,
    "q20_dominant_supplier": q20_dominant_supplier,
    "q21_waiting_supplier": q21_waiting_supplier,
}

ORACLES = {
    "q2_min_cost_supplier": ORACLE_Q2,
    "q11_important_stock": ORACLE_Q11,
    "q12_late_lines": ORACLE_Q12,
    "q16_supplier_cnt": ORACLE_Q16,
    "q20_dominant_supplier": ORACLE_Q20,
    "q21_waiting_supplier": ORACLE_Q21,
}
