"""Table registry over the driver-generated parquet test tables.

At 100 TB the same entry points apply: ``load_table`` is a lazy
parquet scan (``io.read_parquet``), so partition pruning / predicate
pushdown / column pruning all reach the file source; nothing is
materialized here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pypers_spark.sources.io import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic SF.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one test table.

    ``events`` carries nanosecond timestamps, which Spark 4 refuses by
    default — read them as longs and convert to microsecond timestamps
    with exact integer division (matching DuckDB's ns→µs truncation).
    Session timezone is pinned to UTC so timestamp semantics (date_trunc,
    LTZ rendering) are deterministic regardless of the host session.
    A reopen in the same process reuses the inferred schema
    (``io.read_parquet``) and launches no Spark job.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        # Only ns-timestamp files surface ts as long; standard µs files
        # (any non-driver events source) pass through unchanged.
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return read_parquet(spark, path)


class LazyTables(dict):
    """Dict-like table registry that scans a parquet table only on first
    access — queries touch exactly the tables they need (and only the
    events table pays the ns-timestamp conversion)."""

    def __init__(self, spark: SparkSession, sf_dir: str, register_views: bool = False):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir
        self._register_views = register_views

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self:
            if name not in TABLES:
                raise KeyError(name)
            df = load_table(self._spark, self._sf_dir, name)
            self[name] = df
            if self._register_views:
                df.createOrReplaceTempView(name)
        return super().__getitem__(name)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    register_views: bool = False,
) -> LazyTables:
    """Lazy table registry; optionally registers temp views on access."""
    tables = LazyTables(spark, sf_dir, register_views)
    if register_views:
        for name in names:
            tables[name]
    return tables
