"""Semi-structured / collection operators (SURVEY.md §2.B widening):
JSON extraction, array and map expressions, unpivot (wide→long).

All pure column expressions (whole-stage codegen); oracles reproduce
each via DuckDB's JSON/list functions. The events ``props`` column is a
JSON string — the natural carrier for the JSON battery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import duck_rnd, rnd


def op_json_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """JSON extraction from the events props string (path access + types)."""
    ev = t["events"]
    return (
        ev.select(
            "event_id",
            F.get_json_object(F.col("props"), "$.k").alias("k_raw"),
            F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
            (F.get_json_object(F.col("props"), "$.k").cast("int") % 2 == 0).alias("k_even"),
        )
        .filter(F.col("k").isNotNull())
        .orderBy("event_id")
        .limit(1000)
    )


ORACLE_JSON_FUNCS = """
SELECT event_id,
       props->>'$.k' AS k_raw,
       CAST(props->>'$.k' AS INT) AS k,
       (CAST(props->>'$.k' AS INT) % 2 = 0) AS k_even
FROM events
WHERE props->>'$.k' IS NOT NULL
ORDER BY event_id
LIMIT 1000
"""


def op_array_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """Array expression battery over per-order quantity collections."""
    per_order = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.col("l_quantity").cast("double"))).alias("qtys"))
    )
    return (
        per_order.select(
            "l_orderkey",
            F.size("qtys").cast("bigint").alias("n_items"),
            F.element_at("qtys", 1).alias("min_qty"),
            F.element_at("qtys", -1).alias("max_qty"),
            rnd(
                F.aggregate("qtys", F.lit(0.0), lambda a, v: a + v) / F.size("qtys"), 4
            ).alias("avg_qty"),
            F.size(F.filter("qtys", lambda q: q > 25)).cast("bigint").alias("n_large"),
        )
    )


ORACLE_ARRAY_FUNCS = f"""
SELECT l_orderkey,
       CAST(len(qtys) AS BIGINT) AS n_items,
       qtys[1] AS min_qty,
       qtys[-1] AS max_qty,
       {duck_rnd('list_sum(qtys) / len(qtys)', 4)} AS avg_qty,
       CAST(len(list_filter(qtys, q -> q > 25)) AS BIGINT) AS n_large
FROM (
  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS DOUBLE))) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
ORDER BY l_orderkey
"""


def op_map_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """Map construction + lookup: per-order status→count map, then access.

    map_from_entries over a grouped collect; lookups stay codegen-side.
    """
    per_order = (
        t["lineitem"]
        .groupBy("l_orderkey", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .groupBy("l_orderkey")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("l_linestatus", "n")))
            ).alias("status_counts")
        )
    )
    return (
        per_order.select(
            "l_orderkey",
            F.coalesce(F.element_at("status_counts", "F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.element_at("status_counts", "O"), F.lit(0)).alias("n_o"),
            F.size("status_counts").cast("bigint").alias("n_statuses"),
        )
    )


ORACLE_MAP_FUNCS = """
SELECT l_orderkey,
       coalesce(max(CASE WHEN l_linestatus = 'F' THEN n END), 0) AS n_f,
       coalesce(max(CASE WHEN l_linestatus = 'O' THEN n END), 0) AS n_o,
       count(*) AS n_statuses
FROM (
  SELECT l_orderkey, l_linestatus, count(*) AS n
  FROM lineitem GROUP BY l_orderkey, l_linestatus
)
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


def op_unpivot(t: dict[str, DataFrame]) -> DataFrame:
    """Unpivot (wide→long): melt the customer numeric columns."""
    return (
        t["customer"]
        .unpivot(
            ids=["c_custkey"],
            values=["c_acctbal", "c_nationkey"],
            variableColumnName="metric",
            valueColumnName="val",
        )
        .withColumn("val", rnd(F.col("val").cast("double"), 2))
    )


ORACLE_UNPIVOT = f"""
SELECT c_custkey, metric, {duck_rnd('CAST(val AS DOUBLE)', 2)} AS val
FROM (
  SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS val FROM customer
  UNION ALL
  SELECT c_custkey, 'c_nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer
)
ORDER BY c_custkey, metric
"""


QUERIES = {
    "op_json_funcs": op_json_funcs,
    "op_array_funcs": op_array_funcs,
    "op_map_funcs": op_map_funcs,
    "op_unpivot": op_unpivot,
}

ORACLES = {
    "op_json_funcs": ORACLE_JSON_FUNCS,
    "op_array_funcs": ORACLE_ARRAY_FUNCS,
    "op_map_funcs": ORACLE_MAP_FUNCS,
    "op_unpivot": ORACLE_UNPIVOT,
}
