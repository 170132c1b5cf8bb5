"""Streaming operator implementations (SURVEY.md §2.G).

Design for scale: every operator is a watermarked, incrementally
maintained plan. Watermarks bound state (late events beyond the
watermark are dropped, window state is evicted), so state size is
O(active windows × keys), not O(stream length). The sessionizer uses
``applyInPandasWithState`` — Arrow-batched per-key state, the supported
way to express custom session semantics Spark's built-in windows lack.

Batch twins of these operators (oracled against DuckDB) live in
``operators/events.py``; these share the column logic so the semantics
are the ones the correctness gate checks.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pypers_spark.sources.io import read_parquet


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    schema: Optional[StructType] = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over the events table directory.

    At scale this is the same API as a Kafka or cloud-log source — the
    downstream operators only see an unbounded DataFrame.
    """
    if schema is None:
        # File streams need an explicit schema (no inference at runtime).
        # Read the RAW schema (ns timestamps surface as long via the
        # nanosAsLong conf) — conversion happens on the stream below,
        # mirroring sources.registry.load_table.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # basePath must be a directory; the test table is a single file,
        # so stream the parent dir with a glob filter.
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(schema["ts"].jsonValue().items()).get("type") == "long":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Files written elsewhere may carry TIMESTAMP_NTZ, which watermarks
    # reject — normalize to session-local TIMESTAMP (session tz is UTC,
    # so the cast is a deterministic reinterpretation).
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window event counts per event type.

    The watermark bounds both late data and state: windows older than
    (max event time - watermark) are finalized and evicted.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "approx_users",
        )
    )


def streaming_sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window per-user event counts (overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: Iterable[str] = ("user_id", "event_type", "ts"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps state only for the watermark
    window — the scalable form of streaming dedup (unbounded-key
    ``dropDuplicates`` state grows forever).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))


def streaming_interval_join(
    events: DataFrame,
    watermark: str = "2 hours",
    max_lag: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's views within the preceding ``max_lag``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict view state once the watermark passes
    ``purchase_ts - max_lag`` — state stays O(active interval), the only
    scalable form of a stream-stream join. Self-join of one source via
    two filtered branches (the Kafka-topic-split pattern).
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}")),
    ).select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value",
        "view_id", "view_ts",
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("closed_by", StringType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_ts", LongType()),  # microseconds
        StructField("last_ts", LongType()),
        StructField("n_events", LongType()),
    ]
)


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionizer: sessions close after a silence gap.

    Per-user state via ``applyInPandasWithState`` (Arrow-batched): each
    micro-batch folds its events into the open session; a session is
    emitted when a gap exceeds ``gap_minutes`` or the state times out
    (event-time timeout follows the watermark, so state is bounded).
    The batch twin (oracled) is ``operators/events.py::ev_sessionize``.
    """
    import pandas as pd

    gap_us = gap_minutes * 60 * 1_000_000

    def fold(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            start_ts, last_ts, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_ts, unit="us")],
                    "session_end": [pd.Timestamp(last_ts, unit="us")],
                    "n_events": [n],
                    "closed_by": ["timeout"],
                }
            )
            return

        timestamps: list = []
        for pdf in pdf_iter:
            timestamps.extend(int(t.value // 1000) for t in pdf["ts"])
        timestamps.sort()
        if state.exists:
            start_ts, last_ts, n = state.get
        else:
            start_ts, last_ts, n = None, None, 0

        out = []
        for ts in timestamps:
            if start_ts is None:
                start_ts, last_ts, n = ts, ts, 1
            elif ts - last_ts > gap_us:
                out.append((start_ts, last_ts, n))
                start_ts, last_ts, n = ts, ts, 1
            else:
                last_ts, n = ts, n + 1
        state.update((start_ts, last_ts, n))
        state.setTimeoutTimestamp(last_ts // 1000 + gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in out],
                    "n_events": [c for _, _, c in out],
                    "closed_by": ["gap"] * len(out),
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def streaming_upsert_parquet(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str,
    n_partitions: int = 16,
) -> callable:
    """``foreachBatch`` sink that MERGEs each micro-batch into a keyed
    parquet table — the streaming "upsert into table" pattern on an
    engine without a mutable table format.

    Layout: rows are hash-bucketed into ``n_partitions`` directory
    partitions on the key (``_pk=pmod(hash(key), n)``). Each batch:

    1. dedupes within the batch (last ``order_col`` wins per key),
    2. reads ONLY the partitions the batch touches (partition pruning —
       a batch touching 3 of 4096 partitions reads 3),
    3. anti-joins existing rows against the batch's keys,
    4. rewrites just those partitions via dynamic partition overwrite.

    Per-batch cost is O(touched partitions), not O(table) — the same
    contract Delta/Iceberg MERGE gives, expressed in plain parquet. At
    100 TB, ``n_partitions`` is sized so a partition is a few GB and a
    micro-batch touches a bounded subset.

    Returns the function to pass to ``writeStream.foreachBatch``.
    """
    import os

    def _pruned_existing(spark, table_path, latest):
        """Rows of the stored table NOT superseded by the batch, read
        through a plan-side partition prune: broadcast-semi-join the
        batch's distinct ``_pk`` values against the table's partition
        column. Dynamic partition pruning turns the broadcast into a
        runtime PartitionFilters subquery on the parquet scan — only
        touched ``_pk=`` directories are read — with no driver-side
        collect of key values (at 4096 buckets a per-batch collect is
        4096 values on the driver, every micro-batch). The ``_pk >= 0``
        predicate is always true (pmod output) but statically
        unprovable, which is exactly what PartitionPruning's
        isLikelySelective gate needs to plant the
        dynamicpruningexpression on the scan
        (tests/test_streaming.py pins the plan shape).
        """
        touched = F.broadcast(
            latest.select("_pk").distinct().filter(F.col("_pk") >= 0)
        )
        return (
            read_parquet(spark, table_path)
            .join(touched, "_pk", "left_semi")  # DPP-pruned scan
            .join(latest.select(*key_cols), key_cols, "left_anti")
        )

    # exposed for the plan-shape test
    streaming_upsert_parquet._pruned_existing = _pruned_existing

    key_hash = F.pmod(
        F.abs(F.hash(*[F.col(c) for c in key_cols])), F.lit(n_partitions)
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        # last-write-wins within the batch
        latest = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
                        F.desc(order_col)
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_pk", key_hash)
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if os.path.isdir(path) and any(
                n.startswith("_pk=") for n in os.listdir(path)
            ):
                existing = _pruned_existing(spark, path, latest)
                out = existing.unionByName(latest)
            else:
                out = latest
            out.write.mode("overwrite").partitionBy("_pk").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return upsert
