"""Structured Streaming inside the correctness gate (SURVEY.md §2.G).

A finite file-source stream processed with ``trigger(availableNow)`` in
COMPLETE output mode produces exactly the batch aggregation result —
deterministically — so the streaming execution path itself (readStream →
watermarked window agg → memory sink) can be value-matched against a
plain-SQL oracle. The other streaming operators (append-mode windows,
dropDuplicatesWithinWatermark, stateful sessionizer, interval join) stay
tests-only in tests/test_streaming.py because their outputs depend on
trigger/watermark timing by design.

Scale note: this is the same code path a production backfill uses —
``availableNow`` drains a bounded backlog with bounded per-batch file
counts, then the same query keeps running incrementally on live data.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd
from pypers_spark.sources.io import read_parquet

QUERIES: dict = {}
ORACLES: dict = {}

_SINK_SEQ = itertools.count()


def st_tumbling_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly event counts + exact value sums per type, computed BY THE
    STREAMING ENGINE: file-source stream (one file per micro-batch) →
    watermarked tumbling window → complete-mode memory sink, drained
    with availableNow. Complete mode keeps all window state, so the
    drained result equals the batch aggregation bit-for-bit — the
    correctness gate covers the streaming runtime, not a batch twin.
    """
    from pypers_spark.streaming.core import stream_events

    spark = t["events"].sparkSession  # also pins UTC + nanosAsLong confs
    stream = stream_events(spark, t._sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            rnd(dsum(F.col("value")), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"st_tumbling_counts_{next(_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


ORACLE_ST_TUMBLING = f"""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, {duck_rnd(duck_dsum('value'), 2)} AS total_value
FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type
"""

QUERIES["st_tumbling_counts"] = st_tumbling_counts
ORACLES["st_tumbling_counts"] = ORACLE_ST_TUMBLING


def st_session_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Sessions computed BY THE STATEFUL STREAMING ENGINE: file-source
    stream → ``applyInPandasWithState`` sessionizer (30-min silence gap,
    per-user state, event-time timeout) → append-mode memory sink,
    drained with availableNow.

    The gate compares the GAP-CLOSED sessions only. A session is closed
    by gap exactly when a later event of the same user arrives beyond
    the gap — over a full drain that is every session except each
    user's final (still-open) one, a set that is independent of
    micro-batch boundaries and watermark timing. Timeout-closed rows
    (which DO depend on watermark progression, by design) are filtered
    out, keeping the oracle exact rather than probabilistic. This puts
    the custom-stateful code path — the one Spark users most often get
    wrong — inside the value gate.
    """
    from pypers_spark.streaming.core import sessionize_stateful, stream_events

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    sessions = sessionize_stateful(stream, gap_minutes=30)
    name = f"st_session_counts_{next(_SINK_SEQ)}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .filter(F.col("closed_by") == "gap")
        .select("user_id", "session_start", "session_end", "n_events")
    )


# The sessionizer opens a new session on a STRICT gap (diff > 30 min,
# µs precision) — mirrored with epoch_us below. "All but each user's
# last session" = gap-closed set (see st_session_counts docstring).
ORACLE_ST_SESSION = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events
  FROM numbered GROUP BY 1, 2
)
SELECT user_id, session_start, session_end, n_events
FROM sess
WHERE sid < (SELECT max(s2.sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
ORDER BY user_id, session_start
"""

QUERIES["st_session_counts"] = st_session_counts
ORACLES["st_session_counts"] = ORACLE_ST_SESSION


def st_stream_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Streaming exact dedup BY THE STREAMING ENGINE:
    ``dropDuplicatesWithinWatermark`` over the file-source stream
    SELF-UNIONED (the raw corpus is exact-dup-free, so the union plants
    one guaranteed duplicate per row — the drop path runs for real, not
    vacuously), drained with availableNow. Each row's duplicate arrives
    in the same micro-batch, safely inside the watermark horizon, so
    the engine drops exactly the planted copies at any micro-batch
    granularity. The key projection makes the result the distinct key
    set — which duplicate ROW survives is engine timing, the distinct
    KEYS are not — so the drained output value-matches SELECT DISTINCT.
    """
    from pypers_spark.streaming.core import stream_events, streaming_dedup

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    doubled = stream.unionByName(stream)
    deduped = streaming_dedup(doubled).select("user_id", "event_type", "ts")
    name = f"st_stream_dedup_{next(_SINK_SEQ)}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


ORACLE_ST_DEDUP = """
SELECT DISTINCT user_id, event_type, ts
FROM events ORDER BY user_id, event_type, ts
"""

QUERIES["st_stream_dedup"] = st_stream_dedup
ORACLES["st_stream_dedup"] = ORACLE_ST_DEDUP


def st_interval_join(t: dict[str, DataFrame]) -> DataFrame:
    """Watermarked stream-stream interval join BY THE STREAMING ENGINE,
    drained with availableNow: each purchase matched to the same user's
    views within the preceding hour (the purchase-attribution shape).

    Gate-able because INNER stream-stream joins emit eagerly on match —
    watermarks only bound STATE eviction, not result emission — so a
    full drain of a finite stream produces exactly the batch join's
    match set regardless of micro-batch boundaries. (Outer variants DO
    depend on watermark timing for their null-padded rows, which is why
    the gated entry is the inner join.)
    """
    from pypers_spark.streaming.core import stream_events, streaming_interval_join

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    joined = streaming_interval_join(stream)
    name = f"st_interval_join_{next(_SINK_SEQ)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .select(
            "user_id", "purchase_id", "purchase_ts", "purchase_value",
            "view_id", "view_ts",
        )
    )


ORACLE_ST_INTERVAL = """
SELECT p.user_id AS user_id, p.event_id AS purchase_id,
       p.ts AS purchase_ts, p.value AS purchase_value,
       v.event_id AS view_id, v.ts AS view_ts
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
ORDER BY user_id, purchase_id, view_id
"""

QUERIES["st_interval_join"] = st_interval_join
ORACLES["st_interval_join"] = ORACLE_ST_INTERVAL


def st_sliding_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding-window (1 h window / 30 min slide) event counts + exact
    value sums computed BY THE STREAMING ENGINE: file-source stream →
    watermarked sliding window → complete-mode memory sink, drained
    with availableNow. Sliding windows are the overlap case tumbling
    doesn't cover — every event lands in exactly TWO windows, so this
    gates the window-assignment fan-out path of the streaming runtime.

    Complete mode retains all window state, so the drained result
    equals the batch assignment bit-for-bit; the oracle replays the
    fan-out as an explicit 2-offset cross join on the 30-min grid
    (make_timestamp on epoch-µs arithmetic — engine-neutral alignment,
    no reliance on either engine's bucket-origin convention).
    """
    from pypers_spark.streaming.core import stream_events

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            rnd(dsum(F.col("value")), 2).alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events", "total_value")
    )
    name = f"st_sliding_counts_{next(_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# Each event belongs to the two 1-h windows whose starts are its 30-min
# bucket and the bucket before it (epoch-aligned, matching Spark's
# default startTime=0).
ORACLE_ST_SLIDING = f"""
SELECT make_timestamp(((epoch_us(ts) // 1800000000) - offs.k) * 1800000000)
         AS win_start,
       count(*) AS n_events, {duck_rnd(duck_dsum('value'), 2)} AS total_value
FROM events, (VALUES (0::BIGINT), (1::BIGINT)) AS offs(k)
GROUP BY 1 ORDER BY win_start
"""

QUERIES["st_sliding_counts"] = st_sliding_counts
ORACLES["st_sliding_counts"] = ORACLE_ST_SLIDING


def st_upsert_drain(t: dict[str, DataFrame]) -> DataFrame:
    """The foreachBatch keyed-upsert parquet sink INSIDE the value gate:
    drain the event stream self-unioned with a value-bumped copy (every
    key arrives at least twice, possibly across micro-batches) through
    ``streaming_upsert_parquet``, then read the resulting table back.

    Last-write-wins per key with ``order_col=value`` makes the final
    table exactly one row per event_id carrying the bumped value —
    independent of micro-batch boundaries — so the drained TABLE (not
    just a memory sink) value-matches a plain projection oracle. This
    gates the merge path itself: hash-bucketed partition layout,
    touched-partition pruning, anti-join, dynamic partition overwrite.
    """
    import shutil
    import tempfile

    from pypers_spark.streaming.core import stream_events, streaming_upsert_parquet

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    bumped = stream.withColumn("value", F.col("value") + F.lit(1000.0))
    doubled = stream.unionByName(bumped)
    base = tempfile.mkdtemp(prefix="st_upsert_drain_")
    out = f"{base}/table"
    sink = streaming_upsert_parquet(
        doubled, out, key_cols=["event_id"], order_col="value", n_partitions=4
    )
    q = (
        doubled.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    if not os.path.isdir(out):
        # 0-row stream: availableNow fires no micro-batch, so the sink
        # never writes — the upserted table is legitimately empty.
        shutil.rmtree(base, ignore_errors=True)
        return (
            t["events"]
            .select("event_id", "user_id", rnd(F.col("value"), 2).alias("value"))
            .limit(0)
        )
    result = (
        read_parquet(spark, out)
        .select("event_id", "user_id", rnd(F.col("value"), 2).alias("value"))
    )
    # Materialize before the temp dir goes away — the gate collects
    # anyway; localCheckpoint pins the rows so cleanup is safe.
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


ORACLE_ST_UPSERT = f"""
SELECT event_id, user_id, {duck_rnd('value + 1000.0', 2)} AS value
FROM events ORDER BY event_id
"""

QUERIES["st_upsert_drain"] = st_upsert_drain
ORACLES["st_upsert_drain"] = ORACLE_ST_UPSERT


def _restart_upsert_table(spark, sf_dir: str, crash: bool = True) -> tuple:
    """Shared driver for st_restart_upsert and its pytest: split events
    into 4 deterministic files, stream them one file per micro-batch
    through the keyed-upsert parquet sink, CRASH the query after the
    first applied batch (the sink raises before touching batch 1), then
    restart the identical query from the same checkpoint dir and drain
    to completion.

    Returns (base_dir, out_path, n_batches_before_crash). Exactly-once
    across the restart comes from two composable guarantees the test
    pins separately: the checkpoint's batch tracking (committed batch 0
    is not re-fed) and the sink's keyed idempotence (a replayed
    uncommitted batch upserts to the same final rows).
    """
    import tempfile

    from pypers_spark.sources import load_table
    from pypers_spark.streaming.core import stream_events, streaming_upsert_parquet

    base = tempfile.mkdtemp(prefix="st_restart_upsert_")
    src = f"{base}/src"
    # 4 hash-partitioned files -> 4 micro-batches at maxFilesPerTrigger=1.
    events = load_table(spark, sf_dir, "events")
    events.repartition(4, "event_id").write.parquet(src)
    # Schema from the batch frame, not re-inferred from src: an empty
    # source table writes zero part files, which cannot be inferred.
    schema = events.schema

    def make_stream():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    out = f"{base}/table"
    ckpt = f"{base}/ckpt"
    sink = streaming_upsert_parquet(
        make_stream(), out, key_cols=["event_id"], order_col="value", n_partitions=4
    )

    applied = {"n": 0}

    def crashing_sink(batch_df, batch_id):
        if applied["n"] >= 1:
            # Fail BEFORE applying: the worst case for a restart —
            # an uncommitted batch that must be replayed.
            raise RuntimeError("injected mid-drain failure")
        sink(batch_df, batch_id)
        applied["n"] += 1

    if crash:
        q1 = (
            make_stream()
            .writeStream.foreachBatch(crashing_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q1.awaitTermination()
        except Exception:
            pass  # the injected failure — the restart below recovers

    q2 = (
        make_stream()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    return base, out, applied["n"]


def st_restart_upsert(t: dict[str, DataFrame]) -> DataFrame:
    """Streaming RESTART semantics inside the value gate (r5 verdict
    item 4): the keyed-upsert drain is killed mid-stream by an injected
    sink failure after its first committed micro-batch, restarted from
    the same checkpoint directory, and drained to completion — the
    final table must equal a plain batch projection regardless of
    where the crash landed.

    This is the recovery path a 100 TB backfill depends on: the
    checkpoint skips committed batches, and the sink's last-write-wins
    keyed merge makes any replayed in-flight batch idempotent, so
    crash + restart converges to the same rows as an uninterrupted
    drain (the repype analogy is interrupted-batch resume,
    reference tests/test_batch.py).
    """
    import glob
    import shutil

    spark = t["events"].sparkSession
    base, out, _ = _restart_upsert_table(spark, t._sf_dir, crash=True)
    # Zero drained micro-batches (empty source) leave out/ absent or
    # without part files — schema inference would fail on read-back.
    if not glob.glob(f"{out}/**/*.parquet", recursive=True):
        shutil.rmtree(base, ignore_errors=True)
        return (
            t["events"]
            .select("event_id", "user_id", rnd(F.col("value"), 2).alias("value"))
            .limit(0)
        )
    result = (
        read_parquet(spark, out)
        .select("event_id", "user_id", rnd(F.col("value"), 2).alias("value"))
    )
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


ORACLE_ST_RESTART = f"""
SELECT event_id, user_id, {duck_rnd('value', 2)} AS value
FROM events ORDER BY event_id
"""

QUERIES["st_restart_upsert"] = st_restart_upsert
ORACLES["st_restart_upsert"] = ORACLE_ST_RESTART


def st_hll_registers(t: dict[str, DataFrame]) -> DataFrame:
    """HyperLogLog registers maintained BY THE STREAMING ENGINE: the
    distinct-user sketch as streaming state. bucket/rho are computed
    map-side per event; the register table is a complete-mode
    ``groupBy(bucket).max(rho)`` — max is associative and
    watermark-free, so the drained registers equal the batch sketch
    bit-for-bit at ANY micro-batch cut. This is the ingest-time sketch
    maintenance the batch estimators (sk_hll_distinct,
    sk_join_cardinality) assume: state is 64 rows regardless of stream
    length, and merging two streams' registers is the same max().
    """
    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.operators.sketches import HLL_M, HLL_P, hll_rho
    from pypers_spark.streaming.core import stream_events

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    h = md5_int64(F.col("user_id"))
    regs = (
        stream.select((h % HLL_M).alias("bucket"), F.shiftright(h, HLL_P).alias("w"))
        .select("bucket", hll_rho(F.col("w")).alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_reg"))
    )
    name = f"st_hll_registers_{next(_SINK_SEQ)}"
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _oracle_st_hll() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64
    from pypers_spark.operators.sketches import HLL_M, HLL_P, HLL_RHO_MAX

    h = duck_md5_int64("user_id")
    return f"""
WITH hashed AS (
  SELECT ({h}) % {HLL_M} AS bucket, ({h}) >> {HLL_P} AS w FROM events
)
SELECT bucket,
       max(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                ELSE CAST(floor(log2(w & (-w)) + 0.5) AS BIGINT) + 1 END) AS m_reg
FROM hashed GROUP BY bucket ORDER BY bucket
"""


QUERIES["st_hll_registers"] = st_hll_registers
ORACLES["st_hll_registers"] = _oracle_st_hll()


def st_cms_cells(t: dict[str, DataFrame]) -> DataFrame:
    """Count-Min cells maintained BY THE STREAMING ENGINE: the user-id
    frequency sketch as streaming state. Each event emits its
    {CMS_DEPTH} (row, bucket) probes map-side; the cell table is a
    complete-mode count aggregation — sums are associative, so the
    drained cells equal the batch sketch at any micro-batch cut. With
    st_hll_registers this completes the pair of streaming-maintained
    sketch states (counts + cardinality) that the batch estimators
    (sk_cms_heavy, sk_join_cardinality) consume.
    """
    from pypers_spark.operators.sketches import _cms_probe_cols
    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.streaming.core import stream_events

    spark = t["events"].sparkSession
    stream = stream_events(spark, t._sf_dir)
    cells = (
        stream.select(
            F.explode(_cms_probe_cols(md5_int64(F.col("user_id")))).alias("cell")
        )
        .select(F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cell_cnt"))
    )
    name = f"st_cms_cells_{next(_SINK_SEQ)}"
    q = (
        cells.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _oracle_st_cms() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64
    from pypers_spark.operators.sketches import CMS_DEPTH, _duck_cms_buckets

    h = duck_md5_int64("user_id")
    return f"""
SELECT d, {_duck_cms_buckets(h)} AS bucket, count(*) AS cell_cnt
FROM events, unnest(range(0, {CMS_DEPTH})) AS r(d)
GROUP BY 1, 2
ORDER BY d, bucket
"""


QUERIES["st_cms_cells"] = st_cms_cells
ORACLES["st_cms_cells"] = _oracle_st_cms()


# --- st_late_data (r8): append-mode watermark lateness gate -------------------
#
# The one streaming semantics surface the gate did not yet pin:
# APPEND-mode emission + late-row DROP under a watermark. Three staged
# micro-batches with a controlled arrival order — batch 0 carries the
# RECENT half of the corpus (including the global max event time, so
# the watermark jumps to max_ts − delay after it commits), batch 1 is
# EMPTY (measured on this Spark: the watermark used for late-row
# FILTERING lags the displayed watermark by one batch — the empty
# batch lets max_ts − delay become the filtering watermark), batch 2
# replays the OLD half as late stragglers, every one of which is now
# dropped (its event time sits ~10 days below the watermark, far from
# any <=-vs-< boundary). Append mode then emits exactly the windows
# whose end ≤ watermark, populated ONLY by batch-0 rows; still-open
# windows sit in state and never emit before availableNow terminates.
# That closed-form emission set is what the DuckDB oracle reproduces —
# so watermark advance, late-drop, and append-emission semantics are
# all value-checked, not just row-counted.

LATE_SPLIT_DAYS = 10  # batch 0 = events within the last N days
LATE_WM = "1 hour"

# The append-emission / late-drop timing below (one-batch filtering
# lag, emission at window.end <= watermark, eviction at ts < watermark,
# 'min' multiple-watermark reconciliation) was bracketed empirically on
# this Spark line; a major engine upgrade must re-bracket before the
# gate is trusted.
_WM_TIMING_BRACKETED_ON = "4.1"

# Watermark-driver offset: 37m17s past the corpus max event time. Never
# a whole number of minutes past the hour, so the final watermark
# (driver_ts − 1h) can NEVER coincide with an hour-aligned window end —
# the <=-vs-< emission boundary becomes unobservable and the gate stops
# depending on it.
LATE_DRIVER_OFFSET_S = 37 * 60 + 17


def _warn_if_unbracketed(spark) -> None:
    if not spark.version.startswith(_WM_TIMING_BRACKETED_ON):
        import warnings

        warnings.warn(
            "streaming watermark timing was bracketed on Spark "
            f"{_WM_TIMING_BRACKETED_ON}.x but this session runs "
            f"{spark.version}; re-bracket st_late_data/st_outer_join "
            "before trusting the value gate",
            RuntimeWarning,
            stacklevel=3,
        )


def st_late_data(t: dict[str, DataFrame]) -> DataFrame:
    import os
    import shutil
    import tempfile

    spark = t["events"].sparkSession
    events = t["events"].select("event_id", "ts", "user_id", "event_type", "value")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    if max_ts is None:
        # Empty source (partition pruned to nothing / fresh ingest dir):
        # there is no watermark to advance and nothing to stage — the
        # drain's result is the empty emission set with the drain schema.
        return events.select(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
            F.lit(0).cast("bigint").alias("n_events"),
            F.lit(0.0).alias("total_value"),
        ).limit(0)
    _warn_if_unbracketed(spark)
    dt = __import__("datetime")
    cutoff = max_ts - dt.timedelta(days=LATE_SPLIT_DAYS)
    # Watermark-driver row: sits LATE_DRIVER_OFFSET_S past the corpus
    # max, so the final watermark is never hour-aligned (see the
    # constant's comment). Its own window always stays open (end >
    # driver_ts > wm), so it never reaches the emitted output.
    driver_ts = max_ts + dt.timedelta(seconds=LATE_DRIVER_OFFSET_S)
    driver = spark.createDataFrame(
        [(-1, driver_ts, -1, "__wm_driver__", 0.0)], schema=events.schema
    )

    base = tempfile.mkdtemp(prefix="st_late_data_")
    src = f"{base}/src"
    os.makedirs(src)

    def _stage(df, name: str, mtime: float) -> None:
        tmp = f"{base}/_{name}"
        df.coalesce(1).write.parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet")
        )
        dst = f"{src}/{name}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        os.utime(dst, (mtime, mtime))

    # Batch order is by (modification time, path) in the file source —
    # pin both so the recent half ALWAYS arrives first, then the empty
    # watermark-settling batch, then the late stragglers.
    _stage(
        events.filter(F.col("ts") >= F.lit(cutoff)).unionAll(driver),
        "00_recent",
        1_000_000.0,
    )
    _stage(events.limit(0), "01_gap", 1_000_010.0)
    _stage(events.filter(F.col("ts") < F.lit(cutoff)), "02_late", 1_000_020.0)

    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", LATE_WM)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            rnd(dsum(F.col("value")), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"st_late_data_{next(_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).localCheckpoint()
    shutil.rmtree(base, ignore_errors=True)
    return out


# Emission set in closed form: a window emits iff its END ≤ the final
# watermark (driver_ts − 1 h, where driver_ts = max_ts + the 37m17s
# watermark-driver offset); its contents are batch-0 rows only
# (ts ≥ max_ts − 10 days) because every batch-2 row landing in such a
# window is late-dropped. Because the watermark is never hour-aligned
# while window ends always are, <= and < agree — the oracle no longer
# encodes the engine's exact boundary comparator.
ORACLE_ST_LATE_DATA = f"""
WITH bounds AS (
  SELECT max(ts) + INTERVAL {LATE_DRIVER_OFFSET_S} SECOND AS driver_ts,
         max(ts) AS max_ts
  FROM events
)
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, {duck_rnd(duck_dsum('value'), 2)} AS total_value
FROM events, bounds
WHERE ts >= max_ts - INTERVAL {LATE_SPLIT_DAYS} DAY
  AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= driver_ts - INTERVAL 1 HOUR
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""

QUERIES["st_late_data"] = st_late_data
ORACLES["st_late_data"] = ORACLE_ST_LATE_DATA


# --- st_outer_join (r8): LEFT-OUTER stream-stream join in the value gate -------
#
# st_interval_join gates the inner join (emits eagerly on match, so a
# finite drain is batch-equal regardless of trigger timing); the OUTER
# variant's null-padded rows are exactly the part that DOES depend on
# watermark progression — and the st_late_data staging discipline makes
# that deterministic too: all events in micro-batch 0, then two empty
# settling batches so the watermark (max_ts − 1h) is applied for state
# eviction before the drain terminates. Closed-form emission: every
# matched purchase×view pair (inner part, emitted eagerly in batch 0)
# plus one null-padded row for every UNMATCHED purchase whose event
# time sits below the final watermark — purchases in the last hour stay
# in state and never emit. Measured eviction boundary: the GLOBAL
# watermark under Spark's default min multiple-watermark policy —
# wm = least(max view_ts, max purchase_ts) − 1h (each branch advances
# its own watermark from its own maximum; the query takes the min) —
# and an unmatched purchase emits its null exactly when p_ts < wm.
# Bracketed empirically at both SFs (the two corpora disagree on WHICH
# branch holds the global max, so together they pin the min policy);
# microsecond-exact via the value match.

OUTER_WM = "1 hour"
OUTER_LAG = "1 hour"


def st_outer_join(t: dict[str, DataFrame]) -> DataFrame:
    import os
    import shutil
    import tempfile

    spark = t["events"].sparkSession
    _warn_if_unbracketed(spark)
    events = t["events"].select("event_id", "ts", "user_id", "event_type", "value")

    base = tempfile.mkdtemp(prefix="st_outer_join_")
    src = f"{base}/src"
    os.makedirs(src)

    def _stage(df, name: str, mtime: float) -> None:
        tmp = f"{base}/_{name}"
        df.coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{src}/{name}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        os.utime(dst, (mtime, mtime))

    _stage(events, "00_all", 1_000_000.0)
    _stage(events.limit(0), "01_gap", 1_000_010.0)
    _stage(events.limit(0), "02_gap", 1_000_020.0)

    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", OUTER_WM)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", OUTER_WM)
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {OUTER_LAG}")
        ),
        "leftOuter",
    )
    name = f"st_outer_join_{next(_SINK_SEQ)}"
    # The oracle's wm = least(branch maxima) − 1h encodes the 'min'
    # multiple-watermark reconciliation. That is Spark's default, but a
    # session override (multipleWatermarkPolicy=max) would silently flip
    # the null-emission set — pin it for this query and restore after.
    _POLICY_KEY = "spark.sql.streaming.multipleWatermarkPolicy"
    try:
        prior_policy = spark.conf.get(_POLICY_KEY)
    except Exception:
        prior_policy = None
    spark.conf.set(_POLICY_KEY, "min")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior_policy is None:
            spark.conf.unset(_POLICY_KEY)
        else:
            spark.conf.set(_POLICY_KEY, prior_policy)
    out = (
        spark.table(name)
        .select("user_id", "purchase_id", "purchase_ts", "purchase_value",
                "view_id", "view_ts")
        .localCheckpoint()
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


ORACLE_ST_OUTER = """
WITH matched AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         p.value AS purchase_value, v.event_id AS view_id, v.ts AS view_ts
  FROM events p JOIN events v
    ON p.user_id = v.user_id
   AND p.event_type = 'purchase' AND v.event_type = 'view'
   AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
),
wm AS (
  SELECT least(
           (SELECT max(ts) FROM events WHERE event_type = 'view'),
           (SELECT max(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 1 HOUR AS w
),
nulls AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         p.value AS purchase_value,
         CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS TIMESTAMP) AS view_ts
  FROM events p, wm
  WHERE p.event_type = 'purchase'
    AND p.ts < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM events v
      WHERE v.user_id = p.user_id AND v.event_type = 'view'
        AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    )
)
SELECT * FROM matched
UNION ALL
SELECT * FROM nulls
ORDER BY user_id, purchase_id, view_id
"""

QUERIES["st_outer_join"] = st_outer_join
ORACLES["st_outer_join"] = ORACLE_ST_OUTER
