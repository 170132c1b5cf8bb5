"""Time-series operators over the ``events`` table (SURVEY.md §2.C).

Batch twins of the streaming module: tumbling windows, per-window top-k,
gap sessionization, as-of join, funnel, retention. All implemented as
window/agg compositions (single shuffle on the natural key — ``user_id``
for sessions, the window start for rollups); at 100 TB AQE skew-join +
the salting helper in ``functions/skew.py`` handle hot users.

The as-of join is a custom operator Spark lacks natively: implemented as
a union-tag + `last(ignorenulls)` running window — O(n log n) in one
shuffle, no range-join explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd

SESSION_GAP_MIN = 30


def ev_tumbling_window(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly tumbling-window rollup per event type."""
    ev = t["events"]
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            rnd(dsum(F.col("value")), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_TUMBLING = f"""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, {duck_rnd(duck_dsum('value'), 2)} AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type
"""


def ev_sliding_topk(t: dict[str, DataFrame]) -> DataFrame:
    """Top-3 most active users per day (windowed rank, deterministic ties)."""
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("day").orderBy(F.desc("n_events"), "user_id")
    return (
        daily.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


ORACLE_SLIDING_TOPK = """
SELECT day, user_id, n_events, rk FROM (
  SELECT day, user_id, n_events,
         row_number() OVER (PARTITION BY day ORDER BY n_events DESC, user_id) AS rk
  FROM (
    SELECT date_trunc('day', ts) AS day, user_id, count(*) AS n_events
    FROM events GROUP BY 1, 2
  )
) WHERE rk <= 3 ORDER BY day, rk
"""


def ev_sessionize(t: dict[str, DataFrame]) -> DataFrame:
    """Gap-based sessionization (30-min inactivity ends a session).

    Classic lag → new-session flag → running sum; one shuffle on
    user_id. Emits per-session stats.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = SESSION_GAP_MIN * 60
    sessions = (
        t["events"]
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > gap_s),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        rnd(dsum(F.col("value")), 2).alias("session_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


ORACLE_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       {duck_rnd(duck_dsum('value'), 2)} AS session_value,
       min(ts) AS session_start, max(ts) AS session_end
FROM numbered GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def ev_asof_join(t: dict[str, DataFrame]) -> DataFrame:
    """As-of join: each purchase attributed to the user's latest view at
    or before purchase time.

    Spark lacks ASOF JOIN; the scalable implementation is union-tag +
    running `last(ignorenulls)` — a single shuffle/sort on (user_id, ts),
    linear scan, no inequality-join blowup. Views deduped per (user, ts)
    by max event_id so results are tie-deterministic in both engines.
    """
    ev = t["events"]
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", F.col("ts").alias("ev_ts"), "view_id", F.lit(0).alias("is_probe"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.lit(1).alias("is_probe"),
    )
    tagged = views.unionByName(purchases, allowMissingColumns=True)
    # views sort before purchases at equal ts (is_probe 0 < 1) → "≤" semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ev_ts", "is_probe", "view_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        tagged.withColumn("last_view_id", F.last("view_id", ignorenulls=True).over(w))
        .withColumn("last_view_ts", F.last(F.when(F.col("is_probe") == 0, F.col("ev_ts")), ignorenulls=True).over(w))
        .filter((F.col("is_probe") == 1) & F.col("last_view_id").isNotNull())
    )
    return matched.select(
        "user_id",
        F.col("purchase_id"),
        F.col("ev_ts").alias("purchase_ts"),
        F.col("purchase_value"),
        F.col("last_view_id").alias("view_id"),
        F.col("last_view_ts").alias("view_ts"),
        (F.unix_timestamp("ev_ts") - F.unix_timestamp("last_view_ts")).cast("bigint").alias("gap_s"),
    )


ORACLE_ASOF = """
WITH views AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), latest AS (
  SELECT p.event_id AS purchase_id, max(v.ts) AS view_ts
  FROM events p JOIN views v ON v.user_id = p.user_id AND v.ts <= p.ts
  WHERE p.event_type = 'purchase'
  GROUP BY p.event_id
)
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value, v.view_id, l.view_ts,
       CAST(epoch(date_trunc('second', p.ts)) - epoch(date_trunc('second', l.view_ts)) AS BIGINT) AS gap_s
FROM events p
JOIN latest l ON l.purchase_id = p.event_id
JOIN views v ON v.user_id = p.user_id AND v.ts = l.view_ts
WHERE p.event_type = 'purchase'
ORDER BY purchase_id
"""


def ev_funnel(t: dict[str, DataFrame]) -> DataFrame:
    """Ordered funnel view → click → purchase per user (strictly later
    steps only)."""
    ev = t["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select("user_id", "t_view", "t_click", "t_purchase")
    )


ORACLE_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
FROM v JOIN c ON c.user_id = v.user_id JOIN p ON p.user_id = v.user_id
ORDER BY v.user_id
"""


def ev_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Next-day retention: of users active on day d, how many returned d+1."""
    days = (
        t["events"]
        .select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
        .distinct()
    )
    return (
        days.alias("d0")
        .join(
            days.alias("d1"),
            (F.col("d1.user_id") == F.col("d0.user_id"))
            & (F.col("d1.day") == F.col("d0.day") + F.expr("INTERVAL 1 DAY")),
            "left",
        )
        .groupBy(F.col("d0.day").alias("day"))
        .agg(
            F.count("*").alias("active_users"),
            F.count(F.col("d1.user_id")).alias("retained_users"),
        )
    )


ORACLE_RETENTION = """
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events)
SELECT d0.day, count(*) AS active_users, count(d1.user_id) AS retained_users
FROM days d0
LEFT JOIN days d1 ON d1.user_id = d0.user_id AND d1.day = d0.day + INTERVAL 1 DAY
GROUP BY d0.day ORDER BY d0.day
"""


def ev_props_extract(t: dict[str, DataFrame]) -> DataFrame:
    """Semi-structured extraction: pull int field k out of the JSON props
    string with a portable regexp, aggregate per event type."""
    k = F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1).cast("int")
    return (
        t["events"]
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            rnd(F.sum("k").cast("double") / F.count(F.lit(1)), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


_DUCK_K = """CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)"""

ORACLE_PROPS_EXTRACT = f"""
SELECT event_type, count(*) AS n,
       {duck_rnd(f'CAST(sum({_DUCK_K}) AS DOUBLE) / count(*)', 4)} AS avg_k,
       max({_DUCK_K}) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "ev_tumbling_window": ev_tumbling_window,
    "ev_sliding_topk": ev_sliding_topk,
    "ev_sessionize": ev_sessionize,
    "ev_asof_join": ev_asof_join,
    "ev_funnel": ev_funnel,
    "ev_retention": ev_retention,
    "ev_props_extract": ev_props_extract,
}

ORACLES = {
    "ev_tumbling_window": ORACLE_TUMBLING,
    "ev_sliding_topk": ORACLE_SLIDING_TOPK,
    "ev_sessionize": ORACLE_SESSIONIZE,
    "ev_asof_join": ORACLE_ASOF,
    "ev_funnel": ORACLE_FUNNEL,
    "ev_retention": ORACLE_RETENTION,
    "ev_props_extract": ORACLE_PROPS_EXTRACT,
}


def ev_range_window(t: dict[str, DataFrame]) -> DataFrame:
    """Moving 1-hour event-time range window per user (RANGE BETWEEN).

    Unlike row-count frames, the frame is bounded by event-time distance
    — the right primitive for rate limits / rolling activity. Single
    shuffle on user_id.
    """
    ev = t["events"].withColumn("ts_s", F.unix_timestamp("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            F.count("*").over(w).alias("events_last_hour"),
            rnd(F.sum(F.col("value").cast("double")).over(w), 2).alias("value_last_hour"),
        )
        .orderBy("event_id")
        .limit(20000)
    )


ORACLE_RANGE_WINDOW = f"""
SELECT event_id, user_id, ts,
       count(*) OVER w AS events_last_hour,
       {duck_rnd('sum(CAST(value AS DOUBLE)) OVER w', 2)} AS value_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(date_trunc('second', ts))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
LIMIT 20000
"""

QUERIES["ev_range_window"] = ev_range_window
ORACLES["ev_range_window"] = ORACLE_RANGE_WINDOW
