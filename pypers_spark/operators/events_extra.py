"""Additional time-series operators over ``events`` (SURVEY.md §2.C).

Sequence analytics beyond the round-1 set: inter-event gap statistics,
first-touch attribution, event-type transition (Markov) counts,
statistical outlier flagging, and a rolling 7-day active-user count.

Scale notes (100 TB intent):
- Every per-user sequence op is ONE shuffle keyed on user_id (lag /
  struct-min aggregations — no self-joins).
- The rolling-WAU op deliberately avoids an inequality self-join (which
  Spark would execute as a broadcast nested loop): each (day, user) row
  explodes into the ≤7 windows it belongs to — a bounded fan-out that
  keeps the op a plain hash aggregation at any scale.
- Outlier stats use exact decimal sums (order-independent) so the
  mean/σ are bit-identical across engines; per-type stats broadcast
  back onto the event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, dsum_wide, duck_dsum, duck_rnd, rnd

# DuckDB twin of Spark's unix_timestamp() (second precision).
_DUCK_EPOCH = "epoch(date_trunc('second', {col}))"


def ev_gap_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user inter-event gap statistics (seconds between events)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        t["events"]
        .withColumn("ts_s", F.unix_timestamp("ts"))
        .withColumn("gap_s", F.col("ts_s") - F.lag("ts_s").over(w))
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count("gap_s").alias("n_gaps"),
            rnd(F.sum("gap_s").cast("double") / F.count("gap_s"), 4).alias("avg_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
            F.min("gap_s").alias("min_gap_s"),
        )
    )


_EP = _DUCK_EPOCH.format(col="ts")

ORACLE_GAP_STATS = f"""
WITH g AS (
  SELECT user_id,
         {_EP} - lag({_EP}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
)
SELECT user_id, count(*) AS n_events, count(gap_s) AS n_gaps,
       {duck_rnd('CAST(sum(gap_s) AS DOUBLE) / count(gap_s)', 4)} AS avg_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s
FROM g GROUP BY user_id ORDER BY user_id
"""


def ev_first_touch(t: dict[str, DataFrame]) -> DataFrame:
    """First-touch attribution: every purchase joined to its user's
    first-ever event.

    The per-user "first event" is a struct-min aggregation (ts, then
    event_id tie-break) — a single partial-aggregatable shuffle, no
    window materialization, broadcastable result.
    """
    ev = t["events"]
    first = (
        ev.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("f"))
        .select(
            "user_id",
            F.col("f.ts").alias("first_ts"),
            F.col("f.event_id").alias("first_event_id"),
            F.col("f.event_type").alias("first_event_type"),
        )
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .join(first, "user_id")
        .withColumn(
            "secs_since_first",
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("first_ts"),
        )
        .select(
            "purchase_id", "user_id", "purchase_ts",
            "first_event_id", "first_event_type", "secs_since_first",
        )
    )


ORACLE_FIRST_TOUCH = f"""
WITH first AS (
  SELECT user_id, ts AS first_ts, event_id AS first_event_id,
         event_type AS first_event_type
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       f.first_event_id, f.first_event_type,
       CAST({_DUCK_EPOCH.format(col='p.ts')} - {_DUCK_EPOCH.format(col='f.first_ts')}
            AS BIGINT) AS secs_since_first
FROM events p JOIN first f ON p.user_id = f.user_id
WHERE p.event_type = 'purchase'
ORDER BY purchase_id
"""


def ev_type_transitions(t: dict[str, DataFrame]) -> DataFrame:
    """Event-type transition matrix: counts of consecutive (prev → curr)
    pairs per user sequence, with each row's share of its source state.

    The Markov-chain building block for behavioral modeling; one lag
    window + one aggregation.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t["events"]
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", F.col("event_type").alias("curr_type")).agg(
        F.count("*").alias("n")
    )
    w_src = Window.partitionBy("prev_type")
    return (
        counts.withColumn(
            "p", rnd(F.col("n").cast("double") / F.sum("n").over(w_src), 4)
        )
    )


ORACLE_TRANSITIONS = f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS curr_type
  FROM events
), counts AS (
  SELECT prev_type, curr_type, count(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, curr_type, n,
       {duck_rnd('CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)', 4)} AS p
FROM counts
ORDER BY prev_type, curr_type
"""


def ev_zscore_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Value outliers per event type: |value| beyond mean + 2σ.

    Mean/σ come from exact decimal sums (Σv, Σv²) so both engines
    derive identical doubles; the tiny per-type stats table broadcasts
    back onto the stream — two scans, no window over the full data.
    """
    ev = t["events"]
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("s1"),
        dsum(F.col("value") * F.col("value")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    cut = (mean + F.lit(2.0) * F.sqrt(var)).alias("cutoff")
    limits = stats.select("event_type", cut, mean.alias("mean"), F.sqrt(var).alias("sd"))
    return (
        ev.join(F.broadcast(limits), "event_type")
        .filter(F.col("value") > F.col("cutoff"))
        .select(
            "event_id",
            "event_type",
            "value",
            rnd((F.col("value") - F.col("mean")) / F.col("sd"), 4).alias("zscore"),
        )
    )


_S1 = duck_dsum("value")
_S2 = duck_dsum("value * value")

ORACLE_ZSCORE = f"""
WITH stats AS (
  SELECT event_type, count(*) AS n, {_S1} AS s1, {_S2} AS s2
  FROM events GROUP BY 1
), limits AS (
  SELECT event_type,
         s1 / n AS mean,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd,
         s1 / n + 2.0 * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS cutoff
  FROM stats
)
SELECT event_id, e.event_type AS event_type, value,
       {duck_rnd('(value - mean) / sd', 4)} AS zscore
FROM events e JOIN limits l ON e.event_type = l.event_type
WHERE value > cutoff
ORDER BY event_id
"""


def ev_rolling_wau(t: dict[str, DataFrame]) -> DataFrame:
    """Daily + rolling-7-day distinct active users.

    No inequality self-join: each distinct (day, user) fans out into
    the ≤7 window-end days it contributes to (bounded explode), then a
    plain distinct-count aggregation — hash-partitionable at any scale.
    """
    du = (
        t["events"]
        .select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
        .distinct()
    )
    real_days = du.select("day").distinct()
    fanout = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "user_id"
    ).select(
        (F.col("day") + F.expr("make_dt_interval(off)")).alias("wday"), "user_id"
    )
    wau = (
        fanout.join(real_days, fanout["wday"] == real_days["day"], "leftsemi")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select("day", "dau", "wau")
    )


ORACLE_ROLLING_WAU = """
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
fanout AS (
  SELECT du.day + INTERVAL 1 DAY * t.off AS wday, user_id
  FROM du, (SELECT unnest(generate_series(0, 6)) AS off) t
),
wau AS (
  SELECT wday, count(DISTINCT user_id) AS wau
  FROM fanout
  WHERE wday IN (SELECT day FROM du)
  GROUP BY 1
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1)
SELECT dau.day AS day, dau, wau
FROM dau JOIN wau ON dau.day = wau.wday
ORDER BY day
"""


def ev_session_window(t: dict[str, DataFrame]) -> DataFrame:
    """Spark's NATIVE session_window operator (30-min gap) in batch mode.

    Unlike the lag+cumsum formulation (``ev_sessionize``), this uses the
    engine's built-in merging session assignment — the same operator
    the streaming sessionizer runs incrementally. Semantics differ at
    the exact boundary: an event landing exactly gap seconds after the
    last one starts a NEW session (window ranges are [start,
    last_event + gap)), which the oracle mirrors with a >= comparison
    on full-precision (µs) timestamps.
    """
    ev = t["events"]
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            rnd(dsum(F.col("value")), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


ORACLE_SESSION_WINDOW = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       {duck_rnd(duck_dsum('value'), 2)} AS session_value
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


QUERIES = {
    "ev_gap_stats": ev_gap_stats,
    "ev_first_touch": ev_first_touch,
    "ev_type_transitions": ev_type_transitions,
    "ev_zscore_outliers": ev_zscore_outliers,
    "ev_rolling_wau": ev_rolling_wau,
    "ev_session_window": ev_session_window,
}

ORACLES = {
    "ev_gap_stats": ORACLE_GAP_STATS,
    "ev_first_touch": ORACLE_FIRST_TOUCH,
    "ev_type_transitions": ORACLE_TRANSITIONS,
    "ev_zscore_outliers": ORACLE_ZSCORE,
    "ev_rolling_wau": ORACLE_ROLLING_WAU,
    "ev_session_window": ORACLE_SESSION_WINDOW,
}


# --- ev_asof_tolerance -------------------------------------------------------

ASOF_TOLERANCE_S = 3600


def ev_asof_tolerance(t: dict[str, DataFrame]) -> DataFrame:
    """As-of join with a staleness bound (feature-store semantics): a
    purchase matches the user's latest view at-or-before it, but only
    within {ASOF_TOLERANCE_S} s; older views are 'stale', absent views
    'no_view'. Output is the per-outcome rollup with the mean match gap.

    Same single union-tag shuffle as ev_asof_join (no inequality join);
    the tolerance is a post-window filter, the rollup is constant-size.
    """
    ev = t["events"]
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", F.col("ts").alias("ev_ts"), "view_id",
                F.lit(0).alias("is_probe"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ev_ts"),
        F.col("event_id").alias("purchase_id"), F.lit(1).alias("is_probe"),
    )
    tagged = views.unionByName(purchases, allowMissingColumns=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ev_ts", "is_probe", "view_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    probes = (
        tagged.withColumn(
            "last_view_ts",
            F.last(F.when(F.col("is_probe") == 0, F.col("ev_ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("is_probe") == 1)
        .withColumn(
            "gap_s",
            (F.unix_timestamp("ev_ts") - F.unix_timestamp("last_view_ts")).cast("bigint"),
        )
        .withColumn(
            "outcome",
            F.when(F.col("last_view_ts").isNull(), F.lit("no_view"))
            .when(F.col("gap_s") <= ASOF_TOLERANCE_S, F.lit("fresh"))
            .otherwise(F.lit("stale")),
        )
    )
    return (
        probes.groupBy("outcome")
        .agg(
            F.count("*").alias("n_purchases"),
            rnd(
                F.when(
                    F.count(F.when(F.col("outcome") == "fresh", 1)) > 0,
                    dsum(F.when(F.col("outcome") == "fresh", F.col("gap_s")).otherwise(F.lit(None)))
                    / F.count(F.when(F.col("outcome") == "fresh", 1)),
                ).otherwise(F.lit(0.0)),
                2,
            ).alias("avg_fresh_gap_s"),
        )
    )


ORACLE_ASOF_TOLERANCE = f"""
WITH views AS (
  SELECT user_id, ts AS ev_ts, max(event_id) AS view_id, 0 AS is_probe
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, ts AS ev_ts, event_id AS purchase_id, NULL::BIGINT AS view_id,
         1 AS is_probe
  FROM events WHERE event_type = 'purchase'
),
tagged AS (
  SELECT user_id, ev_ts, view_id, is_probe FROM views
  UNION ALL
  SELECT user_id, ev_ts, view_id, is_probe FROM purchases
),
probes AS (
  SELECT user_id, ev_ts, is_probe,
         last_value(CASE WHEN is_probe = 0 THEN ev_ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ev_ts, is_probe, view_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
  FROM tagged
),
outcomes AS (
  SELECT CASE WHEN last_view_ts IS NULL THEN 'no_view'
              WHEN date_diff('second', last_view_ts, ev_ts) <= {ASOF_TOLERANCE_S}
                THEN 'fresh'
              ELSE 'stale' END AS outcome,
         date_diff('second', last_view_ts, ev_ts) AS gap_s
  FROM probes WHERE is_probe = 1
)
SELECT outcome, count(*) AS n_purchases,
       {duck_rnd(
         "CASE WHEN count(CASE WHEN outcome = 'fresh' THEN 1 END) > 0 THEN "
         + duck_dsum("CASE WHEN outcome = 'fresh' THEN gap_s END")
         + " / count(CASE WHEN outcome = 'fresh' THEN 1 END) ELSE 0.0 END", 2)}
         AS avg_fresh_gap_s
FROM outcomes GROUP BY outcome ORDER BY outcome
"""

QUERIES["ev_asof_tolerance"] = ev_asof_tolerance
ORACLES["ev_asof_tolerance"] = ORACLE_ASOF_TOLERANCE


# --- ev_funnel_windowed ------------------------------------------------------

FUNNEL_WINDOW_S = 3600


def _funnel_windowed(t: dict[str, DataFrame], window_s: int) -> DataFrame:
    ev = t["events"]
    win = F.expr(f"INTERVAL {window_s} SECONDS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view"))
            .cast("bigint")
            .alias("convert_s"),
        )
    )


ORACLE_FUNNEL_WINDOWED = f"""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL {FUNNEL_WINDOW_S} SECOND
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL {FUNNEL_WINDOW_S} SECOND
  GROUP BY e.user_id
)
SELECT v.user_id, t_view, t_click, t_purchase,
       date_diff('second', t_view, t_purchase)::BIGINT AS convert_s
FROM v JOIN c ON v.user_id = c.user_id JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
"""

def ev_funnel_windowed(t: dict[str, DataFrame]) -> DataFrame:
    """Conversion funnel with a bounded window: first view, then the
    first click within {FUNNEL_WINDOW_S} s of it, then the first
    purchase within {FUNNEL_WINDOW_S} s of that click — the
    time-to-convert funnel (unbounded variant: ev_funnel).

    Three broadcast-size per-user min aggregations chained by joins;
    every aggregation is partial-aggregated on user_id.
    """
    return _funnel_windowed(t, FUNNEL_WINDOW_S)


def ev_funnel_windowed_24h(t: dict[str, DataFrame]) -> DataFrame:
    """24-hour window variant: the synthetic event stream is too sparse
    for any user to convert view→click→purchase inside the 1 h
    production window (0 rows at every test SF — a correct but VACUOUS
    gate entry), so this twin keeps the chained-window join path
    value-checked on real conversions (25 rows at sf0.01), same
    discipline as dd_embedding_cos_t03 / gr_pagerank_t03."""
    return _funnel_windowed(t, 86400)


def _oracle_funnel_windowed(window_s: int) -> str:
    return ORACLE_FUNNEL_WINDOWED.replace(
        f"INTERVAL {FUNNEL_WINDOW_S} SECOND", f"INTERVAL {window_s} SECOND"
    )


QUERIES["ev_funnel_windowed"] = ev_funnel_windowed
ORACLES["ev_funnel_windowed"] = ORACLE_FUNNEL_WINDOWED
QUERIES["ev_funnel_windowed_24h"] = ev_funnel_windowed_24h
ORACLES["ev_funnel_windowed_24h"] = _oracle_funnel_windowed(86400)


# --- ev_attribution_linear ---------------------------------------------------

ATTR_WINDOW_DAYS = 7


def ev_attribution_linear(t: dict[str, DataFrame]) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the same user's views in the preceding
    {ATTR_WINDOW_DAYS} days; per-view credits then roll up to the
    attributed revenue per view event.

    Shape: one purchases×views interval join keyed on user_id (the
    per-user event lists are small, so the join is bounded per key;
    skewed power users are AQE's skew-split case), a per-purchase
    count to set the credit denominator, then a hash-agg rollup onto
    the view events. Credits are exact: value / n_touches quantized via
    dsum so partition order can't move the sum.
    """
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    touches = purchases.join(views, "user_id").filter(
        (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS"))
    )
    w = Window.partitionBy("purchase_id")
    credited = touches.withColumn(
        "credit", F.col("p_value") / F.count(F.lit(1)).over(w)
    )
    return (
        credited.groupBy("view_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            rnd(dsum(F.col("credit")), 2).alias("attributed_value"),
        )
    )


ORACLE_ATTRIBUTION = f"""
WITH touches AS (
  SELECT p.event_id AS purchase_id, p.value AS p_value, v.event_id AS view_id
  FROM events p JOIN events v
    ON p.user_id = v.user_id
   AND p.event_type = 'purchase' AND v.event_type = 'view'
   AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
),
credited AS (
  SELECT view_id,
         p_value / (count(*) OVER (PARTITION BY purchase_id)) AS credit
  FROM touches
)
SELECT view_id, count(*) AS n_purchases,
       {duck_rnd(duck_dsum('credit'), 2)} AS attributed_value
FROM credited GROUP BY view_id ORDER BY view_id
"""

QUERIES["ev_attribution_linear"] = ev_attribution_linear
ORACLES["ev_attribution_linear"] = ORACLE_ATTRIBUTION


# --- ev_cohort_retention -----------------------------------------------------


def ev_cohort_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week (the cohort), tracked by distinct activity in each subsequent
    week — (cohort_week, week_offset) → active users and the retention
    percentage against the cohort size. The product-analytics staple
    (ev_retention is the day-over-day special case).

    Shape: one struct-min aggregation for the per-user cohort week, one
    distinct user-week projection, a user-keyed join (cohort table ≪
    events — AQE broadcasts), and a hash-agg rollup. No self-join of
    the fact table.
    """
    from pyspark.sql import Window

    ev = t["events"]
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = weeks.join(cohort, "user_id").withColumn(
        "week_offset",
        F.floor(
            (F.unix_timestamp("week") - F.unix_timestamp("cohort_week"))
            / F.lit(7 * 24 * 3600)
        ).cast("bigint"),
    )
    cells = joined.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    w = Window.partitionBy("cohort_week")
    return (
        cells.withColumn("cohort_size", F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            rnd(F.col("n_active").cast("double") / F.col("cohort_size") * 100.0, 2).alias(
                "retention_pct"
            ),
        )
    )


ORACLE_COHORT_RETENTION = f"""
WITH weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1
),
joined AS (
  SELECT w.user_id, c.cohort_week,
         CAST(floor((epoch_us(w.week) - epoch_us(c.cohort_week))
                    / {7 * 24 * 3600 * 1_000_000}.0) AS BIGINT) AS week_offset
  FROM weeks w JOIN cohort c USING (user_id)
),
cells AS (
  SELECT cohort_week, week_offset, count(*) AS n_active
  FROM joined GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       max(CASE WHEN week_offset = 0 THEN n_active END)
           OVER (PARTITION BY cohort_week) AS cohort_size,
       {duck_rnd('n_active::DOUBLE / (max(CASE WHEN week_offset = 0 THEN n_active END) OVER (PARTITION BY cohort_week)) * 100.0', 2)} AS retention_pct
FROM cells
ORDER BY cohort_week, week_offset
"""

QUERIES["ev_cohort_retention"] = ev_cohort_retention
ORACLES["ev_cohort_retention"] = ORACLE_COHORT_RETENTION


# --- ev_ewma -----------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_TAPS = 8
# Literal tap weights alpha*(1-alpha)^k, newest first — computed once in
# Python and embedded as the SAME double literals in both engines, so no
# cross-engine pow() is ever evaluated.
_EWMA_W = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** k for k in range(EWMA_TAPS)]


def ev_ewma(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user exponentially weighted moving average of event values —
    the standard smoothing pass before thresholding noisy metrics —
    truncated to {EWMA_TAPS} taps and renormalized over the taps
    available (so early events are exact means of their own history,
    not biased toward zero).

    One window shuffle keyed on user_id (the §2.C discipline: no
    self-joins). The frame's value list is reversed so index j pairs
    with tap weight j; the dot product and the weight normalizer run
    left-to-right in both engines over literal weights, keeping floats
    bit-identical. Truncation is the scale story: state per row is a
    bounded {EWMA_TAPS}-element array regardless of history length,
    the same bound a streaming implementation would keep.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -(EWMA_TAPS - 1), 0
    )
    taps = F.array(*[F.lit(x) for x in _EWMA_W])
    vals = F.reverse(F.collect_list(F.col("value")).over(w))
    n = F.size(vals)
    from pypers_spark.functions.vectors import dot

    num = dot(vals, F.slice(taps, 1, n))
    den = F.aggregate(
        F.slice(taps, 1, n), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        t["events"]
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            rnd(num / den, 4).alias("ewma"),
        )
    )


def _duck_ewma() -> str:
    taps = "[" + ", ".join(repr(x) for x in _EWMA_W) + "]"
    return f"""
WITH framed AS (
  SELECT user_id, ts, event_id, value,
         list_reverse(list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {EWMA_TAPS - 1} PRECEDING AND CURRENT ROW
         )) AS vals
  FROM events
)
SELECT user_id, ts, event_id, value,
       {duck_rnd(
           f"list_dot_product(vals::DOUBLE[], ({taps})[1:len(vals)])"
           f" / list_sum(({taps})[1:len(vals)])", 4)} AS ewma
FROM framed ORDER BY user_id, ts, event_id
"""


QUERIES["ev_ewma"] = ev_ewma
ORACLES["ev_ewma"] = _duck_ewma()


# --- ev_top_paths ------------------------------------------------------------

PATH_LEN = 3
PATH_TOP_K = 10


def ev_top_paths(t: dict[str, DataFrame]) -> DataFrame:
    """Path analysis: the top-{PATH_TOP_K} opening event sequences (first
    {PATH_LEN} event types, '>'-joined) across 30-min-gap sessions — the
    "how do sessions start" report behind funnel design.

    Sessionization is the ev_sessionize lag→flag→running-sum shape (one
    user_id shuffle); the per-session path is built ORDER-DETERMINISTICALLY
    by sorting the collected (ts, event_id, type) structs rather than
    trusting collect order, then the path rollup is a hash aggregation
    with a TakeOrderedAndProject top-k — no global sort.
    """
    from pypers_spark.operators.events import SESSION_GAP_MIN

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = SESSION_GAP_MIN * 60
    sess = (
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
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    PATH_LEN,
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP_K)
    )


ORACLE_TOP_PATHS = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS rn
  FROM numbered
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= {PATH_LEN}
  GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP_K}
"""

QUERIES["ev_top_paths"] = ev_top_paths
ORACLES["ev_top_paths"] = ORACLE_TOP_PATHS


# --- ev_cumulative_users -----------------------------------------------------


def ev_cumulative_users(t: dict[str, DataFrame]) -> DataFrame:
    """Daily new vs cumulative distinct users — the growth curve.

    Windows cannot COUNT(DISTINCT) over a running frame in either
    engine; the scalable rewrite is first-seen attribution: each user
    contributes once, on their first active day (min(ts) per user —
    one user_id shuffle), then daily new-user counts and a running sum
    over the tiny per-day series give the cumulative curve. The window
    runs over day-cardinality rows, never the event stream.
    """
    ev = t["events"]
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily_new = first_day.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_new.select(
            "day",
            "new_users",
            F.sum("new_users").over(w).alias("cumulative_users"),
        )
    )


ORACLE_CUMULATIVE_USERS = """
WITH first_day AS (
  SELECT user_id, date_trunc('day', min(ts)) AS day FROM events GROUP BY user_id
),
daily AS (
  SELECT day, count(*) AS new_users FROM first_day GROUP BY day
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily ORDER BY day
"""

QUERIES["ev_cumulative_users"] = ev_cumulative_users
ORACLES["ev_cumulative_users"] = ORACLE_CUMULATIVE_USERS


# --- ev_ab_lift --------------------------------------------------------------


def ev_ab_lift(t: dict[str, DataFrame]) -> DataFrame:
    """A/B experiment readout: users deterministically hash-split into
    control (A) / treatment (B), per-event-type mean `value` lift with a
    Welch t statistic — the experimentation-platform aggregation.

    Assignment = md5(user_id) mod 2 (the stable bucketing a real
    platform uses, so a user keeps one variant across sessions; no RNG
    anywhere, so both engines reproduce it). Means and variances come
    from exact moment sums (dsum_wide: count, Σx, Σx² quantized to
    int-decimal — order-independent, overflow-safe at unbounded group
    cardinality), so the statistic is bit-identical across engines;
    sqrt is IEEE-correctly-rounded and therefore portable. One
    conditional hash aggregation keyed on event_type — a single shuffle
    of partial aggregates regardless of corpus size.
    """
    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.functions.rounding import dsum_wide

    ev = t["events"]
    v = (md5_int64(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).alias(
        "variant"
    )
    e = ev.select("event_type", v, F.col("value").alias("x"))
    agg = e.groupBy("event_type").agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        dsum_wide(F.when(F.col("variant") == 0, F.col("x"))).alias("s1_a"),
        dsum_wide(F.when(F.col("variant") == 1, F.col("x"))).alias("s1_b"),
        dsum_wide(F.when(F.col("variant") == 0, F.col("x") * F.col("x"))).alias("s2_a"),
        dsum_wide(F.when(F.col("variant") == 1, F.col("x") * F.col("x"))).alias("s2_b"),
    )
    mean_a = F.col("s1_a") / F.col("n_a")
    mean_b = F.col("s1_b") / F.col("n_b")
    var_a = (F.col("s2_a") - (F.col("s1_a") * F.col("s1_a")) / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("s2_b") - (F.col("s1_b") * F.col("s1_b")) / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se = F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        rnd(mean_a, 6).alias("mean_a"),
        rnd(mean_b, 6).alias("mean_b"),
        rnd(mean_b - mean_a, 6).alias("lift"),
        F.when(se > 0, rnd((mean_b - mean_a) / se, 4)).alias("t_stat"),
    )


def _duck_ab_lift_sql() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64
    from pypers_spark.functions.rounding import duck_dsum

    variant = f"({duck_md5_int64(chr(39) + 'ab:' + chr(39) + ' || CAST(user_id AS VARCHAR)')} % 2)"
    s1 = lambda flag: duck_dsum(f"CASE WHEN variant = {flag} THEN x END")
    s2 = lambda flag: duck_dsum(f"CASE WHEN variant = {flag} THEN x * x END")
    return f"""
WITH e AS (SELECT event_type, {variant} AS variant, value AS x FROM events),
agg AS (
  SELECT event_type,
         count(CASE WHEN variant = 0 THEN 1 END) AS n_a,
         count(CASE WHEN variant = 1 THEN 1 END) AS n_b,
         {s1(0)} AS s1_a, {s1(1)} AS s1_b,
         {s2(0)} AS s2_a, {s2(1)} AS s2_b
  FROM e GROUP BY event_type
),
m AS (
  SELECT event_type, n_a, n_b,
         s1_a / n_a AS mean_a, s1_b / n_b AS mean_b,
         (s2_a - (s1_a * s1_a) / n_a) / (n_a - 1) AS var_a,
         (s2_b - (s1_b * s1_b) / n_b) / (n_b - 1) AS var_b
  FROM agg
)
SELECT event_type, n_a, n_b,
       {duck_rnd('mean_a', 6)} AS mean_a,
       {duck_rnd('mean_b', 6)} AS mean_b,
       {duck_rnd('mean_b - mean_a', 6)} AS lift,
       CASE WHEN sqrt(var_a / n_a + var_b / n_b) > 0
            THEN {duck_rnd('(mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b)', 4)}
       END AS t_stat
FROM m
ORDER BY event_type
"""


QUERIES["ev_ab_lift"] = ev_ab_lift
ORACLES["ev_ab_lift"] = _duck_ab_lift_sql()


# --- ev_delta_rollup ---------------------------------------------------------

DELTA_DAYS = 7  # the late-arriving window re-ingested as the delta batch


def ev_delta_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """Incremental materialized-view maintenance: a daily (day ×
    event_type) rollup refreshed by MERGING PARTIAL AGGREGATES — the
    base run covers everything older than the last {DELTA_DAYS} days,
    the delta batch covers the tail, and the refresh combines the two
    partial states without touching base rows again.

    Every statistic is algebraic (count, int-quantized sum, min, max;
    the mean derives from merged sum/count), so merge(base, delta) is
    EXACTLY the full recompute — which is what the gate proves: the
    DuckDB oracle computes the rollup directly over all rows, and the
    value hash must match Spark's merge path bit-for-bit. At 100 TB
    this is the difference between re-scanning the corpus nightly and
    aggregating one day's partition: the base state persists as the
    materialized view, each refresh shuffles only the delta.
    """
    from pypers_spark.functions.rounding import dsum_wide

    ev = t["events"]
    cutoff = ev.agg(
        F.date_add(F.max(F.to_date("ts")), -DELTA_DAYS).alias("cutoff")
    )
    d = ev.crossJoin(F.broadcast(cutoff)).select(
        F.to_date("ts").alias("day"),
        "event_type",
        "value",
        (F.to_date("ts") < F.col("cutoff")).alias("is_base"),
    )

    def partial(df):
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("decimal(27,0)")).alias("s_q"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )

    base = partial(d.filter(F.col("is_base")))
    delta = partial(d.filter(~F.col("is_base")))
    merged = (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s_q").alias("s_q"),
            F.min("v_min").alias("v_min"),
            F.max("v_max").alias("v_max"),
        )
    )
    return merged.select(
        "day",
        "event_type",
        "n",
        rnd((F.col("s_q").cast("double") / 1e6), 4).alias("total"),
        rnd((F.col("s_q").cast("double") / 1e6) / F.col("n"), 6).alias("mean"),
        rnd(F.col("v_min"), 4).alias("v_min"),
        rnd(F.col("v_max"), 4).alias("v_max"),
    )


ORACLE_DELTA_ROLLUP = f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       count(*) AS n,
       {duck_rnd('CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0', 4)} AS total,
       {duck_rnd('(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / count(*)', 6)} AS mean,
       {duck_rnd('min(value)', 4)} AS v_min,
       {duck_rnd('max(value)', 4)} AS v_max
FROM events
GROUP BY 1, 2 ORDER BY day, event_type
"""

QUERIES["ev_delta_rollup"] = ev_delta_rollup
ORACLES["ev_delta_rollup"] = ORACLE_DELTA_ROLLUP


# --- ev_feature_matrix -------------------------------------------------------

FEATURE_TYPES = ("view", "click", "signup", "error")


def ev_feature_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Point-in-time-correct training-set construction: one row per
    purchase event with features computed from the user's history
    STRICTLY BEFORE that purchase — the feature-store discipline that
    prevents label leakage (training features must match what serving
    could have known at prediction time).

    Features: per-type prior counts, prior purchase spend (exact
    int-quantized sum), seconds since the user's first event. One
    window shuffle keyed on user_id, frame = rows unbounded-preceding
    to 1-preceding over the (ts, event_id) order — every feature for
    every purchase in a single pass over the stream; no per-label
    self-joins, no leakage-prone BETWEEN joins. The label (purchase
    value) rides the same row.
    """
    ev = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    feats = [
        F.count(F.when(F.col("event_type") == ty, 1)).over(w).alias(f"n_{ty}_before")
        for ty in FEATURE_TYPES
    ]
    prior_spend = (
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1e6 + F.lit(0.5)),
            )
        ).over(w)
        / 1e6
    )
    first_ts = F.min(F.struct("ts", "event_id")).over(
        Window.partitionBy("user_id").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )["ts"]
    rows = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        *feats,
        F.coalesce(prior_spend, F.lit(0.0)).alias("prior_spend"),
        (F.unix_timestamp("ts") - F.unix_timestamp(first_ts)).alias("secs_active"),
        F.row_number().over(w_all).alias("seq_no"),
    )
    out = (
        rows.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            *[f"n_{ty}_before" for ty in FEATURE_TYPES],
            rnd(F.col("prior_spend"), 4).alias("prior_spend"),
            "secs_active",
            (F.col("seq_no") - 1).alias("n_events_before"),
            rnd(F.col("value"), 4).alias("label_value"),
        )
    )
    return out


def _duck_feature_matrix_sql() -> str:
    feats = ",\n         ".join(
        f"count(CASE WHEN event_type = '{ty}' THEN 1 END) OVER w_prior AS n_{ty}_before"
        for ty in FEATURE_TYPES
    )
    return f"""
WITH rows_w AS (
  SELECT event_id, user_id, ts, event_type, value,
         {feats},
         coalesce(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) END)
                  OVER w_prior / 1000000.0, 0.0) AS prior_spend,
         {_DUCK_EPOCH.format(col='ts')}
           - min({_DUCK_EPOCH.format(col='ts')}) OVER w_user AS secs_active,
         row_number() OVER w_ord AS seq_no
  FROM events
  WINDOW
    w_prior AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_user AS (PARTITION BY user_id),
    w_ord AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id AS purchase_id, user_id,
       {", ".join(f"n_{ty}_before" for ty in FEATURE_TYPES)},
       {duck_rnd('prior_spend', 4)} AS prior_spend,
       CAST(secs_active AS BIGINT) AS secs_active,
       CAST(seq_no - 1 AS BIGINT) AS n_events_before,
       {duck_rnd('value', 4)} AS label_value
FROM rows_w
WHERE event_type = 'purchase'
ORDER BY purchase_id
"""


QUERIES["ev_feature_matrix"] = ev_feature_matrix
ORACLES["ev_feature_matrix"] = _duck_feature_matrix_sql()


# --- ev_seasonal_baseline ----------------------------------------------------


def ev_seasonal_baseline(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonal-baseline anomaly readout: per (event_type, hour-of-day)
    traffic baseline vs the actual hourly series — the monitoring shape
    that catches "Tuesday 3am spike" anomalies a global z-score
    (ev_zscore_outliers) smears away.

    Two aggregations: hourly counts (day × hour × type), then the
    seasonal baseline per (type, hour-of-day) from exact integer counts
    — mean and a variance proxy via Σn/Σn² (dsum-free: counts are
    already exact ints). Output: the hours whose count exceeds
    baseline + 2σ, with the baseline stats. Both shuffles are
    partial-aggregated; the baseline table (24 × n_types rows)
    broadcasts back onto the series.
    """
    ev = t["events"]
    hourly = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    base = hourly.groupBy("hod", "event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_days")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    limits = base.select(
        "hod",
        "event_type",
        "n_days",
        mean.alias("mean_n"),
        F.sqrt(var).alias("sd_n"),
    )
    return (
        hourly.join(F.broadcast(limits), ["hod", "event_type"])
        .filter(
            (F.col("n_days") > 1)
            & (F.col("n").cast("double") > F.col("mean_n") + 2.0 * F.col("sd_n"))
        )
        .select(
            "day",
            "hod",
            "event_type",
            "n",
            rnd(F.col("mean_n"), 4).alias("mean_n"),
            rnd(F.col("sd_n"), 4).alias("sd_n"),
        )
    )


ORACLE_SEASONAL = f"""
WITH hourly AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INT) AS hod, event_type, count(*) AS n
  FROM events GROUP BY 1, 2, 3
),
base AS (
  SELECT hod, event_type, count(*) AS n_days,
         sum(n) AS s1, sum(n * n) AS s2
  FROM hourly GROUP BY 1, 2
),
limits AS (
  SELECT hod, event_type, n_days,
         CAST(s1 AS DOUBLE) / n_days AS mean_n,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_days)
              / (n_days - 1)) AS sd_n
  FROM base
)
SELECT day, h.hod AS hod, h.event_type AS event_type, n,
       {duck_rnd('mean_n', 4)} AS mean_n,
       {duck_rnd('sd_n', 4)} AS sd_n
FROM hourly h JOIN limits l ON h.hod = l.hod AND h.event_type = l.event_type
WHERE l.n_days > 1 AND CAST(n AS DOUBLE) > mean_n + 2.0 * sd_n
ORDER BY day, hod, event_type
"""

QUERIES["ev_seasonal_baseline"] = ev_seasonal_baseline
ORACLES["ev_seasonal_baseline"] = ORACLE_SEASONAL


# --- ev_markov_stationary ----------------------------------------------------

MARKOV_ITERS = 3  # unrolled power iterations (same pattern as gr_pagerank)


def ev_markov_stationary(t: dict[str, DataFrame]) -> DataFrame:
    """Approximate stationary distribution of the event-type Markov
    chain: ev_type_transitions estimates P(next | current); this runs
    {MARKOV_ITERS} unrolled power iterations π' = πP from a uniform
    start — "where does user behavior settle" — and reports each
    state's stationary mass next to its raw share for drift contrast.

    The chain has one row per (prev, curr) TYPE pair — a few dozen rows
    at any corpus size — so after the single lag-window + count shuffle
    that builds it, every iteration is a broadcast join over a
    type-cardinality table: iteration cost is independent of the event
    count. Probabilities are ratios of exact integer counts; mass is
    rounded at the end only (multiplication chains are IEEE-identical
    across engines). Same unrolled-iteration discipline as gr_pagerank
    (perf lesson 9: the loop-invariant transition table is built once).
    """
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
    )
    from pypers_spark.functions.caching import tracked_persist

    wsrc = Window.partitionBy("prev_type")
    trans = tracked_persist(
        pairs.withColumn(
            "p", F.col("n").cast("double") / F.sum("n").over(wsrc)
        ).select("prev_type", "curr_type", "p"),
        "events.markov_trans",
    )
    states = trans.select(F.col("prev_type").alias("state")).union(
        trans.select(F.col("curr_type"))
    ).distinct()
    n_states = states.count()  # scalar: state-space cardinality (tiny)
    pi = states.select("state", (F.lit(1.0) / n_states).alias("mass"))
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(trans, pi["state"] == trans["prev_type"])
            .select(F.col("curr_type").alias("state"), (F.col("mass") * F.col("p")).alias("m"))
            .groupBy("state")
            .agg(F.sum(F.floor(F.col("m") * 1e12 + F.lit(0.5))).alias("mq"))
            .select("state", (F.col("mq") / 1e12).alias("mass"))
        )
    raw = ev.groupBy(F.col("event_type").alias("state")).agg(F.count("*").alias("n_events"))
    total = ev.count()
    return (
        pi.join(raw, "state")
        .select(
            "state",
            rnd(F.col("mass"), 6).alias("stationary_mass"),
            "n_events",
            rnd(F.col("n_events") / F.lit(float(total)), 6).alias("raw_share"),
        )
    )


def _duck_markov_sql() -> str:
    it = """
pi{k} AS (
  SELECT t.curr_type AS state,
         sum(CAST(floor(p.mass * t.p * 1000000000000.0 + 0.5) AS BIGINT)) / 1000000000000.0 AS mass
  FROM pi{j} p JOIN trans t ON p.state = t.prev_type
  GROUP BY t.curr_type
)"""
    iters = ",".join(it.format(k=i + 1, j=i) for i in range(MARKOV_ITERS))
    return f"""
WITH pairs AS (
  SELECT prev_type, curr_type, count(*) AS n FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           event_type AS curr_type
    FROM events
  ) WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
trans AS (
  SELECT prev_type, curr_type,
         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
  FROM pairs
),
states AS (
  SELECT DISTINCT prev_type AS state FROM trans
  UNION SELECT DISTINCT curr_type FROM trans
),
pi0 AS (
  SELECT state, 1.0 / (SELECT count(*) FROM states) AS mass FROM states
),{iters},
raw AS (
  SELECT event_type AS state, count(*) AS n_events FROM events GROUP BY 1
)
SELECT p.state AS state, {duck_rnd('p.mass', 6)} AS stationary_mass,
       r.n_events,
       {duck_rnd('r.n_events / (SELECT CAST(count(*) AS DOUBLE) FROM events)', 6)} AS raw_share
FROM pi{MARKOV_ITERS} p JOIN raw r ON p.state = r.state
ORDER BY state
"""


QUERIES["ev_markov_stationary"] = ev_markov_stationary
ORACLES["ev_markov_stationary"] = _duck_markov_sql()


# --- ev_rfm_segments ---------------------------------------------------------


def ev_rfm_segments(t: dict[str, DataFrame]) -> DataFrame:
    """RFM customer segmentation: per-user Recency (days since last
    purchase, vs the corpus max day), Frequency (purchase count), and
    Monetary (exact int-quantized spend) quartile scores 1-4 (1 = best
    on every axis), rolled up to segment populations — the classic
    lifecycle-marketing cut.

    Scale-correct scoring: quartile CUTOFFS come from one percentile
    aggregation (1e-6-quantized in both engines, the op_winsorize /
    ev_mad discipline), broadcast back, and each user scores MAP-SIDE
    via three threshold comparisons per axis — no ntile, because ntile
    needs a single global sort partition, which is exactly what doesn't
    survive a billion-user table. Threshold ties land deterministically
    on one side in both engines, so the gate stays value-exact.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.functions.percentile import exact_percentiles

    ev = t["events"]
    p = ev.filter(F.col("event_type") == "purchase")
    anchor = p.agg(F.max(F.to_date("ts")).alias("anchor"))
    per_user = tracked_persist(
        p.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").alias("frequency"),
            (F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5))) / 1e6).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("anchor", "last_day")),
        "events_extra.rfm_per_user",
    )
    # ONE shuffle-bounded percentile pass for all nine cutoffs: unpivot
    # the three metrics into (metric, value) rows and group the
    # percentile plan by metric — 3n skinny rows through one
    # groupBy(metric, value) + one window, instead of three separate
    # full plans over the per-user aggregate (the r7 bench tax). The
    # int metrics cast to double exactly at these magnitudes, so the
    # interpolated cutoffs are bit-identical to the per-metric passes.
    metrics = ("recency_days", "frequency", "monetary")
    unpivoted = per_user.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        F.col(m).cast("double").alias("v"),
                    )
                    for m in metrics
                ]
            )
        ).alias("mv")
    ).select("mv.metric", "mv.v")
    cuts_long = exact_percentiles(
        unpivoted,
        "v",
        [(0.25, "_q25"), (0.50, "_q50"), (0.75, "_q75")],
        group_cols=["metric"],
    )
    cuts = cuts_long.groupBy().agg(
        *[
            rnd(
                F.max(F.when(F.col("metric") == m, F.col(f"_q{q}"))), 6
            ).alias(f"{m}_q{q}")
            for m in metrics
            for q in (25, 50, 75)
        ]
    )

    def asc_score(m):  # low value = best (recency)
        return (
            F.lit(1)
            + (F.col(m) > F.col(f"{m}_q25")).cast("int")
            + (F.col(m) > F.col(f"{m}_q50")).cast("int")
            + (F.col(m) > F.col(f"{m}_q75")).cast("int")
        )

    def desc_score(m):  # high value = best (frequency, monetary)
        return (
            F.lit(4)
            - (F.col(m) > F.col(f"{m}_q25")).cast("int")
            - (F.col(m) > F.col(f"{m}_q50")).cast("int")
            - (F.col(m) > F.col(f"{m}_q75")).cast("int")
        )

    scored = per_user.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        asc_score("recency_days").alias("r_score"),
        desc_score("frequency").alias("f_score"),
        desc_score("monetary").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_users"),
            rnd(
                (F.sum(F.floor(F.col("monetary") * 1e6 + F.lit(0.5))) / 1e6), 2
            ).alias("segment_value"),
        )
    )


def _duck_rfm_sql() -> str:
    cut_cols = ",\n         ".join(
        duck_rnd(f"quantile_cont({m}, {q})", 6) + f" AS {m}_q{int(q * 100)}"
        for m in ("recency_days", "frequency", "monetary")
        for q in (0.25, 0.50, 0.75)
    )
    asc = (
        "1 + CAST(recency_days > recency_days_q25 AS INT)"
        " + CAST(recency_days > recency_days_q50 AS INT)"
        " + CAST(recency_days > recency_days_q75 AS INT)"
    )
    def desc(m):
        return (
            f"4 - CAST({m} > {m}_q25 AS INT)"
            f" - CAST({m} > {m}_q50 AS INT)"
            f" - CAST({m} > {m}_q75 AS INT)"
        )
    return f"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
anchor AS (SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS anchor FROM p),
per_user AS (
  SELECT user_id,
         date_diff('day', max(CAST(date_trunc('day', ts) AS DATE)),
                   (SELECT anchor FROM anchor)) AS recency_days,
         count(*) AS frequency,
         sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS monetary
  FROM p GROUP BY user_id
),
cuts AS (
  SELECT {cut_cols}
  FROM per_user
),
scored AS (
  SELECT user_id,
         {asc} AS r_score,
         {desc('frequency')} AS f_score,
         {desc('monetary')} AS m_score,
         monetary
  FROM per_user CROSS JOIN cuts
)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       count(*) AS n_users,
       {duck_rnd("sum(CAST(floor(monetary * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0", 2)}
         AS segment_value
FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score
"""


ORACLE_RFM = _duck_rfm_sql()

QUERIES["ev_rfm_segments"] = ev_rfm_segments
ORACLES["ev_rfm_segments"] = ORACLE_RFM


# --- ev_forecast_linear ------------------------------------------------------


def ev_forecast_linear(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type linear trend on the daily event-count series, with a
    next-day forecast — least squares from EXACT integer moment sums
    (Σx, Σy, Σxy, Σx² over day-index x and daily count y), the
    op_corr_exact machinery pointed at forecasting.

    Two aggregations: daily counts (day × type), then the per-type
    moment rollup (both partial-aggregated; second input is
    days×types-sized). Slope/intercept are ratios of exact int64 sums —
    bit-identical across engines with no quantization at all; rounding
    happens only at the output. Day index x = datediff from the
    per-type first day, so the numbers stay small regardless of epoch.
    """
    ev = t["events"]
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("y"))
    w0 = Window.partitionBy("event_type")
    d = daily.withColumn("x", F.datediff("day", F.min("day").over(w0)))
    m = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("x_last"),
    )
    denom = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / denom
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return m.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        rnd(slope, 6).alias("slope_per_day"),
        rnd(intercept, 4).alias("intercept"),
        rnd(intercept + slope * (F.col("x_last") + 1), 4).alias("forecast_next_day"),
    )


ORACLE_FORECAST = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         date_diff('day', min(day) OVER (PARTITION BY event_type), day) AS x
  FROM daily
),
m AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, max(x) AS x_last
  FROM idx GROUP BY event_type
)
SELECT event_type, n,
       {duck_rnd('CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)', 6)} AS slope_per_day,
       {duck_rnd('(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n', 4)} AS intercept,
       {duck_rnd('(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n + (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * (x_last + 1)', 4)} AS forecast_next_day
FROM m WHERE n > 1 ORDER BY event_type
"""

QUERIES["ev_forecast_linear"] = ev_forecast_linear
ORACLES["ev_forecast_linear"] = ORACLE_FORECAST


# --- ev_rate_limit -----------------------------------------------------------

RL_WINDOW_S = 3600
RL_MAX_PER_WINDOW = 5


def ev_rate_limit(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding-window rate-limit readout: per user, each event carries
    its trailing-1-hour request count; events past the cap are flagged
    throttled and the report rolls up per event type (throttle rate,
    worst burst).

    This is the OBSERVABILITY form (every event counts toward the
    window, including throttled ones) — the form a monitoring pipeline
    computes over the log. Enforcement-with-feedback (denied requests
    don't consume quota) is a stateful recursion: that lives in the
    streaming sessionizer family, not in a window expression.

    One shuffle on user_id; the RANGE frame is event-time-bounded, so
    skewed users cost sort time, not memory (frame is count-only).
    """
    ev = t["events"].withColumn("ts_s", F.unix_timestamp("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-RL_WINDOW_S, Window.currentRow)
    )
    flagged = ev.select(
        "event_type",
        F.count("*").over(w).alias("burst"),
    ).withColumn("throttled", F.col("burst") > RL_MAX_PER_WINDOW)
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("throttled"), 1)).alias("n_throttled"),
            F.max("burst").alias("max_burst"),
            rnd(
                F.count(F.when(F.col("throttled"), 1)).cast("double")
                / F.count("*"),
                6,
            ).alias("throttle_rate"),
        )
    )


ORACLE_RATE_LIMIT = f"""
WITH flagged AS (
  SELECT event_type,
         count(*) OVER (PARTITION BY user_id
                        ORDER BY epoch(date_trunc('second', ts))
                        RANGE BETWEEN {RL_WINDOW_S} PRECEDING AND CURRENT ROW)
           AS burst
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(CASE WHEN burst > {RL_MAX_PER_WINDOW} THEN 1 END) AS n_throttled,
       max(burst) AS max_burst,
       {duck_rnd(
           f'CAST(count(CASE WHEN burst > {RL_MAX_PER_WINDOW} THEN 1 END) AS DOUBLE)'
           ' / count(*)', 6)} AS throttle_rate
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["ev_rate_limit"] = ev_rate_limit
ORACLES["ev_rate_limit"] = ORACLE_RATE_LIMIT


# --- ev_psi_drift ------------------------------------------------------------

PSI_BINS = 10
PSI_THRESHOLD = 0.2  # the conventional "significant drift" cut
PSI_FLOOR = 1e-6  # share floor so ln(p/q) is defined on empty bins
PSI_DRIFT_TYPE = "purchase"  # injected-drift fixture: this type's current-
# period values are DOUBLED so the drifted path is non-vacuous (the
# raw synthetic stream is stationary); every other type exercises the
# no-drift path


def ev_psi_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Population Stability Index per event type — the ML-monitoring
    drift statistic between a reference period (first half of the
    stream) and the current period: PSI = Σ_bins (p−q)·ln(p/q) over 10
    equi-width bins whose EDGES COME FROM THE REFERENCE PERIOD ONLY
    (the frozen binning a deployed monitor uses; out-of-range current
    values clamp to the edge bins).

    Per-term products quantize to 1e-9 int64s before the bin sum, so
    the 10-term reduction is order-independent. Everything heavier than
    the two period aggregations is bin-cardinality metadata.
    """
    ev = t["events"].withColumn("ts_s", F.unix_timestamp("ts"))
    # Integer-exact midpoint: floor BEFORE the cast.  A bare
    # ``(x/2).cast('bigint')`` truncates toward zero in Spark while
    # DuckDB's CAST rounds half-up, so on an odd min+max the two engines
    # would disagree on the ref/current boundary second (latent — no
    # fixture event lands on it today, but any regeneration could).
    split = ev.agg(
        F.floor((F.min("ts_s") + F.max("ts_s")) / 2).cast("bigint").alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(split)).select(
        "event_type",
        (F.col("ts_s") <= F.col("mid")).alias("is_ref"),
        F.when(
            (F.col("ts_s") > F.col("mid"))
            & (F.col("event_type") == PSI_DRIFT_TYPE),
            F.col("value") * 2.0,
        )
        .otherwise(F.col("value"))
        .alias("v"),
    )
    ref_bounds = (
        tagged.filter(F.col("is_ref"))
        .groupBy("event_type")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(PSI_BINS))
    binned = (
        tagged.join(F.broadcast(ref_bounds), "event_type")
        .select(
            "event_type",
            "is_ref",
            F.greatest(
                F.least(
                    F.floor((F.col("v") - F.col("lo")) / width).cast("bigint"),
                    F.lit(PSI_BINS - 1),
                ),
                F.lit(0),
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.when(F.col("is_ref"), 1)).alias("n_ref"),
            F.count(F.when(~F.col("is_ref"), 1)).alias("n_cur"),
        )
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.greatest(F.col("n_ref").cast("double") / F.col("t_ref"), F.lit(PSI_FLOOR))
    q = F.greatest(F.col("n_cur").cast("double") / F.col("t_cur"), F.lit(PSI_FLOOR))
    term = (p - q) * F.log(p / q)
    psi = (
        F.sum(F.floor(F.col("term") * 1e9 + F.lit(0.5))) / F.lit(1e9)
    ).cast("double")
    return (
        binned.join(F.broadcast(totals), "event_type")
        .select("event_type", term.alias("term"), "t_ref", "t_cur")
        .groupBy("event_type")
        .agg(
            rnd(psi, 6).alias("psi"),
            F.first("t_ref").alias("n_ref"),
            F.first("t_cur").alias("n_cur"),
        )
        .withColumn("drifted", F.col("psi") > PSI_THRESHOLD)
    )


ORACLE_PSI_DRIFT = f"""
WITH ev AS (
  SELECT event_type, epoch(date_trunc('second', ts))::BIGINT AS ts_s, value
  FROM events
),
split AS (SELECT (min(ts_s) + max(ts_s)) // 2 AS mid FROM ev),
tagged AS (
  SELECT event_type, ts_s <= mid AS is_ref,
         CASE WHEN ts_s > mid AND event_type = '{PSI_DRIFT_TYPE}'
              THEN value * 2.0 ELSE value END AS v
  FROM ev, split
),
ref_bounds AS (
  SELECT event_type, min(v) AS lo, max(v) AS hi
  FROM tagged WHERE is_ref GROUP BY 1
),
binned AS (
  SELECT t.event_type AS event_type,
         greatest(least(CAST(floor((v - lo) / ((hi - lo) / {float(PSI_BINS)}))
                             AS BIGINT), {PSI_BINS - 1}), 0) AS bin,
         count(CASE WHEN is_ref THEN 1 END) AS n_ref,
         count(CASE WHEN NOT is_ref THEN 1 END) AS n_cur
  FROM tagged t JOIN ref_bounds b ON t.event_type = b.event_type
  GROUP BY 1, 2
),
totals AS (
  SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
  FROM binned GROUP BY 1
),
terms AS (
  SELECT b.event_type AS event_type,
         (greatest(CAST(n_ref AS DOUBLE) / t_ref, {PSI_FLOOR})
          - greatest(CAST(n_cur AS DOUBLE) / t_cur, {PSI_FLOOR}))
         * ln(greatest(CAST(n_ref AS DOUBLE) / t_ref, {PSI_FLOOR})
              / greatest(CAST(n_cur AS DOUBLE) / t_cur, {PSI_FLOOR})) AS term,
         t_ref, t_cur
  FROM binned b JOIN totals t ON b.event_type = t.event_type
)
SELECT event_type,
       {duck_rnd('CAST(sum(CAST(floor(term * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0', 6)}
         AS psi,
       CAST(first(t_ref) AS BIGINT) AS n_ref,
       CAST(first(t_cur) AS BIGINT) AS n_cur,
       ({duck_rnd('CAST(sum(CAST(floor(term * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0', 6)})
         > {PSI_THRESHOLD} AS drifted
FROM terms
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["ev_psi_drift"] = ev_psi_drift
ORACLES["ev_psi_drift"] = ORACLE_PSI_DRIFT


# --- ev_cooccurrence ---------------------------------------------------------

CO_GAP_MIN = 30  # same session gap as ev_sessionize


def ev_cooccurrence(t: dict[str, DataFrame]) -> DataFrame:
    """Behavioral market basket: event-type pairs co-occurring within
    one session, scored by ln-free lift = P(ab)·N / (P(a)·P(b)) over
    sessions — the "users who viewed also purchased" co-occurrence
    matrix behind session-based recommendation.

    Sessions come from the same lag→flag→running-sum assignment as
    ev_sessionize (one user_id shuffle); r11 (guide §2.3/§2.4): the
    per-session DISTINCT TYPE SET is collected in-row right after the
    window (collect_set over the same user_id partitioning — no second
    exchange), persisted once, and the pair table is a bounded IN-ROW
    expansion over the sorted set (≤ 5·4/2 pairs per session) — the
    op_market_basket shape. The r10 form re-ran the whole
    window+distinct subtree for each of its three readouts and paid a
    (user_id, session_id) self-join for the pairs.
    """
    from pypers_spark.functions.caching import tracked_persist

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = CO_GAP_MIN * 60
    sess_types = tracked_persist(
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
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types")),
        "events.cooccur_session_types",
    )
    n_sessions = sess_types.agg(F.count("*").alias("n_sessions"))
    supp = (
        sess_types.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("supp"))
    )
    pair_expr = F.expr(
        "flatten(transform(types, (x, i) -> "
        "transform(slice(types, i + 2, size(types)), "
        "y -> struct(x AS type_a, y AS type_b))))"
    )
    pairs = (
        sess_types.select(F.explode(pair_expr).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("pair_supp"))
    )
    sa = supp.select(F.col("event_type").alias("type_a"), F.col("supp").alias("supp_a"))
    sb = supp.select(F.col("event_type").alias("type_b"), F.col("supp").alias("supp_b"))
    lift = (
        F.col("pair_supp").cast("double")
        * F.col("n_sessions")
        / (F.col("supp_a").cast("double") * F.col("supp_b"))
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a", "type_b", "pair_supp", "supp_a", "supp_b",
            rnd(lift, 4).alias("lift"),
        )
    )


ORACLE_COOCCURRENCE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {CO_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT DISTINCT user_id, session_id, event_type FROM (
    SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
    FROM flagged
  )
),
n AS (
  SELECT count(*) AS n_sessions
  FROM (SELECT DISTINCT user_id, session_id FROM sess)
),
supp AS (SELECT event_type, count(*) AS supp FROM sess GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS pair_supp
  FROM sess a JOIN sess b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, pair_supp, sa.supp AS supp_a, sb.supp AS supp_b,
       {duck_rnd('CAST(pair_supp AS DOUBLE) * n_sessions / (CAST(sa.supp AS DOUBLE) * sb.supp)', 4)}
         AS lift
FROM pairs
JOIN supp sa ON pairs.type_a = sa.event_type
JOIN supp sb ON pairs.type_b = sb.event_type, n
ORDER BY type_a, type_b
"""

QUERIES["ev_cooccurrence"] = ev_cooccurrence
ORACLES["ev_cooccurrence"] = ORACLE_COOCCURRENCE


# --- ev_bot_detect -----------------------------------------------------------

BOT_N_USERS = 5  # injected synthetic bots
BOT_TICKS = 200  # events per bot
BOT_PERIOD_S = 60  # metronome period
BOT_MIN_EVENTS = 50  # detection: volume floor
BOT_MAX_GAP_VAR = 900.0  # detection: gap variance ceiling (s²)


def ev_bot_detect(t: dict[str, DataFrame]) -> DataFrame:
    """Bot/automation detection by inter-event-gap regularity: per user,
    gap variance from EXACT integer moment sums (Σg, Σg²) — metronome
    traffic has near-zero variance where human traffic is bursty. The
    trust-and-safety sweep every event pipeline runs.

    Five synthetic metronome users (60 s ticks, generated from a
    sequence explode — identical in both engines) are unioned into the
    stream, so detection finds EXACTLY the injected bots: the flag
    path is non-vacuous and self-validating, while every organic user
    exercises the not-bot path. One lag window + one aggregation per
    user; moments are int64-exact, so the variance is bit-identical
    cross-engine.

    SCOPE: the sweep covers users with >= 2 events only. A single-event
    user has no inter-event gap — the lag filter drops their only row
    and the aggregation excludes them — so ``n_users`` /
    ``n_events_total`` count the gap-bearing population, not the whole
    user base (identical in both engines; a one-event user cannot be a
    metronome, so the exclusion is semantic, not an artifact).
    """
    ev = t["events"].select("user_id", F.unix_timestamp("ts").alias("ts_s"))
    base_ts = ev.agg(F.min("ts_s").alias("t0"))
    bots = (
        base_ts.select(
            F.explode(F.sequence(F.lit(0), F.lit(BOT_N_USERS - 1))).alias("b"),
            "t0",
        )
        .select(
            (F.lit(1_000_000) + F.col("b")).alias("user_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(BOT_TICKS - 1))
            ).alias("k"),
            "t0",
        )
        .select("user_id", (F.col("t0") + F.col("k") * BOT_PERIOD_S).alias("ts_s"))
    )
    allev = ev.unionByName(bots)
    w = Window.partitionBy("user_id").orderBy("ts_s")
    gaps = (
        allev.withColumn("prev", F.lag("ts_s").over(w))
        .filter(F.col("prev").isNotNull())
        .select("user_id", (F.col("ts_s") - F.col("prev")).alias("g"))
    )
    stats = gaps.groupBy("user_id").agg(
        (F.count("*") + 1).alias("n_events"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"),
    )
    n = F.col("n_events") - 1  # gap count
    var = (
        F.col("sg2").cast("double")
        - F.col("sg").cast("double") * F.col("sg") / n
    ) / n
    flagged = stats.withColumn(
        "is_bot",
        (F.col("n_events") >= BOT_MIN_EVENTS) & (var <= BOT_MAX_GAP_VAR),
    ).withColumn("gap_var", var)
    return (
        flagged.groupBy("is_bot")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_events").alias("n_events_total"),
            # gap_var reaches ~(month)² ≈ 7e12 per user and the user
            # cardinality is unbounded — the 1e-6-quantized int64 dsum
            # envelope (~9.2e12 value units TOTAL) overflows at ~10x
            # this corpus (caught by the replica scale check), so this
            # total goes through the decimal-accumulating dsum_wide.
            rnd(dsum_wide(F.col("gap_var")) / F.count("*"), 4).alias("avg_gap_var"),
        )
    )


ORACLE_BOT_DETECT = f"""
WITH ev AS (
  SELECT user_id, epoch(date_trunc('second', ts))::BIGINT AS ts_s FROM events
),
base_ts AS (SELECT min(ts_s) AS t0 FROM ev),
bots AS (
  SELECT 1000000 + b AS user_id, t0 + k * {BOT_PERIOD_S} AS ts_s
  FROM base_ts,
       unnest(range({BOT_N_USERS})) AS tb(b),
       unnest(range({BOT_TICKS})) AS tk(k)
),
allev AS (SELECT * FROM ev UNION ALL SELECT * FROM bots),
gaps AS (
  SELECT user_id, ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS g
  FROM allev
),
stats AS (
  SELECT user_id, count(*) + 1 AS n_events,
         sum(g) AS sg, sum(g * g) AS sg2
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
),
flagged AS (
  SELECT *,
         (CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / (n_events - 1))
           / (n_events - 1) AS gap_var,
         n_events >= {BOT_MIN_EVENTS}
           AND ((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / (n_events - 1))
                / (n_events - 1)) <= {BOT_MAX_GAP_VAR} AS is_bot
  FROM stats
)
SELECT is_bot, count(*) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS n_events_total,
       {duck_rnd(f"{duck_dsum('gap_var')} / count(*)", 4)} AS avg_gap_var
FROM flagged
GROUP BY is_bot
ORDER BY is_bot
"""

QUERIES["ev_bot_detect"] = ev_bot_detect
ORACLES["ev_bot_detect"] = ORACLE_BOT_DETECT


# --- ev_slo_report -----------------------------------------------------------

SLO_P95_MAX = 145.0  # per-type p95 ceiling — sits between this corpus's
# per-type p95s (142.5-151.7), so both the breach and pass paths are
# non-vacuous in the gate


def ev_slo_report(t: dict[str, DataFrame]) -> DataFrame:
    """SLO/latency-band report: exact interpolated p50/p95/p99 of the
    value metric per event type, with the SLO-breach flag — the
    on-call dashboard row. Exact percentiles via the shuffle-bounded
    order-statistic plan (functions/percentile.py — groupBy(value)
    counts + cumulative-rank window, partitioned by event_type, never
    Spark's O(distinct)-single-buffer aggregate); at 100 TB the same
    report also runs from the mergeable histogram sketch
    (sk_hist_quantile), this is the exact form SLAs are settled with.
    """
    from pypers_spark.functions.percentile import exact_percentiles

    rep = exact_percentiles(
        t["events"],
        "value",
        [(0.5, "_p50"), (0.95, "_p95"), (0.99, "_p99")],
        group_cols=["event_type"],
        count_alias="n",
    )
    out = rep.select(
        "event_type",
        "n",
        rnd(F.col("_p50"), 4).alias("p50"),
        rnd(F.col("_p95"), 4).alias("p95"),
        rnd(F.col("_p99"), 4).alias("p99"),
    ).withColumn("slo_breach", F.col("p95") > SLO_P95_MAX)
    return out


ORACLE_SLO_REPORT = f"""
SELECT event_type, count(*) AS n,
       {duck_rnd('quantile_cont(value, 0.5)', 4)} AS p50,
       {duck_rnd('quantile_cont(value, 0.95)', 4)} AS p95,
       {duck_rnd('quantile_cont(value, 0.99)', 4)} AS p99,
       ({duck_rnd('quantile_cont(value, 0.95)', 4)}) > {SLO_P95_MAX} AS slo_breach
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["ev_slo_report"] = ev_slo_report
ORACLES["ev_slo_report"] = ORACLE_SLO_REPORT


# --- ev_error_budget ---------------------------------------------------------

EB_BUDGET_RATE = 0.201  # monthly error budget — just above the stream's
# ~20.1% error share, so daily variation flips burning_fast both ways
# (14/30 fast days at sf0.01): both alert paths gate non-vacuously


def ev_error_budget(t: dict[str, DataFrame]) -> DataFrame:
    """SRE error-budget burn-down: daily error rate vs the monthly
    budget, with the CUMULATIVE burn fraction and the days where the
    running burn exceeds the elapsed-time share (burning too fast) —
    the on-call burn-rate alert as one windowed query. Day-cardinality
    table after one aggregation; the cumulative window runs over ~30
    rows.
    """
    daily = (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    totals = daily.agg(
        F.sum("n_events").alias("tot_events")
    )
    burn = (
        daily.withColumn("cum_errors", F.sum("n_errors").over(w))
        .withColumn("cum_events", F.sum("n_events").over(w))
        .crossJoin(F.broadcast(totals))
    )
    budget_total = F.col("tot_events").cast("double") * EB_BUDGET_RATE
    burn_frac = F.col("cum_errors").cast("double") / budget_total
    elapsed_frac = F.col("cum_events").cast("double") / F.col("tot_events")
    return burn.select(
        "day",
        "n_events",
        "n_errors",
        rnd(F.col("n_errors").cast("double") / F.col("n_events"), 6).alias(
            "day_error_rate"
        ),
        rnd(burn_frac, 6).alias("budget_burned"),
        (rnd(burn_frac, 6) > rnd(elapsed_frac, 6)).alias("burning_fast"),
    )


ORACLE_ERROR_BUDGET = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*) AS n_events,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
  FROM events GROUP BY 1
),
tot AS (SELECT sum(n_events) AS tot_events FROM daily),
burn AS (
  SELECT *,
         sum(n_errors) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_errors,
         sum(n_events) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_events
  FROM daily, tot
)
SELECT day, n_events, n_errors,
       {duck_rnd('CAST(n_errors AS DOUBLE) / n_events', 6)} AS day_error_rate,
       {duck_rnd(f'CAST(cum_errors AS DOUBLE) / (CAST(tot_events AS DOUBLE) * {EB_BUDGET_RATE})', 6)}
         AS budget_burned,
       ({duck_rnd(f'CAST(cum_errors AS DOUBLE) / (CAST(tot_events AS DOUBLE) * {EB_BUDGET_RATE})', 6)})
         > ({duck_rnd('CAST(cum_events AS DOUBLE) / tot_events', 6)}) AS burning_fast
FROM burn
ORDER BY day
"""

QUERIES["ev_error_budget"] = ev_error_budget
ORACLES["ev_error_budget"] = ORACLE_ERROR_BUDGET


# --- ev_concurrency ----------------------------------------------------------


def ev_concurrency(t: dict[str, DataFrame]) -> DataFrame:
    """Concurrency-over-time (capacity planning): per hour, how many
    gap-based sessions were active — each session (same lag→flag→
    running-sum assignment as ev_sessionize) registers in every hour
    cell its [start, end] interval touches, then one count per hour.
    The hour grid bounds the fan-out exactly like op_interval_overlap's
    month cells: never an inequality join of sessions × timeline.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = 30 * 60
    sess = (
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
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    hours = F.sequence(
        F.date_trunc("hour", F.col("s_start")),
        F.date_trunc("hour", F.col("s_end")),
        F.expr("INTERVAL 1 HOUR"),
    )
    return (
        sess.select("user_id", F.explode(hours).alias("hour"))
        .groupBy("hour")
        .agg(
            F.count("*").alias("n_active_sessions"),
            F.count_distinct("user_id").alias("n_active_users"),
        )
    )


ORACLE_CONCURRENCY = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {30 * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end FROM (
    SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
    FROM flagged
  ) GROUP BY 1, 2
),
cells AS (
  SELECT user_id,
         unnest(generate_series(date_trunc('hour', s_start),
                                date_trunc('hour', s_end),
                                INTERVAL 1 HOUR)) AS hour
  FROM sess
)
SELECT hour, count(*) AS n_active_sessions,
       count(DISTINCT user_id) AS n_active_users
FROM cells
GROUP BY hour
ORDER BY hour
"""

QUERIES["ev_concurrency"] = ev_concurrency
ORACLES["ev_concurrency"] = ORACLE_CONCURRENCY


# --- ev_anomaly_seasonal -----------------------------------------------------

SEAS_SIGMA = 3.0


def ev_anomaly_seasonal(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonality-aware anomaly readout: z-score outliers per
    (event_type, hour-of-day) — the metric-monitoring cut that
    ev_zscore_outliers' global per-type baseline can't see ("normal at
    3am, anomalous at noon"). Per cell: n, quantized mean/sd, anomaly
    count beyond mean ± {SEAS_SIGMA}σ, anomaly rate.

    Same exact-primitive discipline as ev_zscore_outliers: mean/σ from
    exact quantized sums (Σv, Σv²) so both engines derive identical
    doubles (sqrt IS correctly-rounded IEEE, unlike ln/pow), and
    mean/sd are 1e-6-quantized BEFORE the comparison so anomaly
    membership never hinges on last-ulp agreement. Cells with n < 2
    get NULL sd and zero anomalies EXPLICITLY in both engines (the
    ev_auc_score guard discipline — never lean on engine
    divide-by-zero semantics).

    Scale shape: one hash aggregation to ≤ |types|·24 cells (map-side
    combine), the tiny stats table broadcast back, one counting
    aggregation — two scans, no window over raw events.
    """
    ev = t["events"].select(
        "event_type", F.hour("ts").alias("hr"), F.col("value").alias("v")
    )
    stats = ev.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"),
        dsum(F.col("v")).alias("s1"),
        dsum(F.col("v") * F.col("v")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    limits = stats.select(
        "event_type",
        "hr",
        rnd(mean, 6).alias("mean"),
        F.when(F.col("n") > 1, rnd(F.sqrt(var), 6)).alias("sd"),
    )
    return (
        ev.join(F.broadcast(limits), ["event_type", "hr"])
        .groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(
                    F.col("sd").isNotNull()
                    & (
                        F.abs(F.col("v") - F.col("mean"))
                        > SEAS_SIGMA * F.col("sd")
                    ),
                    1,
                )
            ).alias("n_anom"),
            rnd(F.first("mean"), 4).alias("mean"),
            rnd(F.first("sd"), 4).alias("sd"),
        )
        .withColumn(
            "anom_rate",
            rnd(F.col("n_anom").cast("double") / F.col("n"), 6),
        )
    )


_SEAS_S1 = duck_dsum("v")
_SEAS_S2 = duck_dsum("v * v")

ORACLE_ANOMALY_SEASONAL = f"""
WITH ev AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr, value AS v FROM events
),
stats AS (
  SELECT event_type, hr, count(*) AS n, {_SEAS_S1} AS s1, {_SEAS_S2} AS s2
  FROM ev GROUP BY 1, 2
),
limits AS (
  SELECT event_type, hr,
         {duck_rnd('s1 / n', 6)} AS mean,
         CASE WHEN n > 1 THEN
           {duck_rnd('sqrt((s2 - s1 * s1 / n) / (n - 1))', 6)}
         END AS sd
  FROM stats
)
SELECT e.event_type AS event_type, e.hr AS hr,
       count(*) AS n,
       count(CASE WHEN sd IS NOT NULL AND abs(v - mean) > {SEAS_SIGMA} * sd
                  THEN 1 END) AS n_anom,
       {duck_rnd('any_value(mean)', 4)} AS mean,
       {duck_rnd('any_value(sd)', 4)} AS sd,
       {duck_rnd('count(CASE WHEN sd IS NOT NULL AND abs(v - mean) > ' + str(SEAS_SIGMA) + ' * sd THEN 1 END) * 1.0 / count(*)', 6)} AS anom_rate
FROM ev e JOIN limits l ON e.event_type = l.event_type AND e.hr = l.hr
GROUP BY 1, 2
ORDER BY event_type, hr
"""

QUERIES["ev_anomaly_seasonal"] = ev_anomaly_seasonal
ORACLES["ev_anomaly_seasonal"] = ORACLE_ANOMALY_SEASONAL


# --- ev_srm_check ------------------------------------------------------------

SRM_CHI2_95 = 3.841459  # chi-square critical value, 1 dof, alpha=0.05


def ev_srm_check(t: dict[str, DataFrame]) -> DataFrame:
    """Sample-ratio-mismatch guard for the hash-split experiment: per
    event type, the observed A/B arm counts against the designed 50/50
    split, with the 1-dof chi-square statistic — the first sanity gate
    an experimentation platform runs BEFORE reading ev_ab_lift (a
    biased split invalidates the lift no matter how good the t-stat
    looks). Assignment is the same md5(user) % 2 bucketing as
    ev_ab_lift, so this audits exactly the split that readout uses.

    Exact-integer discipline: for two cells with expected n/2 each,
    chi² collapses to (n_a − n_b)² / n — integers until the one final
    division, so both engines agree bit-for-bit; no continuity
    approximation, no libm. One conditional hash aggregation keyed on
    event_type (map-side combined); state is two counters per type.
    """
    from pypers_spark.functions.hashing import md5_int64

    variant = (
        md5_int64(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2
    ).alias("variant")
    agg = (
        t["events"]
        .select("event_type", variant)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        )
    )
    d = F.col("n_a") - F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    chi2 = (d * d).cast("double") / n
    return (
        agg.select(
            "event_type",
            "n_a",
            "n_b",
            rnd(chi2, 6).alias("chi2"),
            (chi2 > SRM_CHI2_95).alias("srm_flag"),
        )
    )


def _finalize_srm_oracle() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64

    variant = (
        f"({duck_md5_int64(chr(39) + 'ab:' + chr(39) + ' || CAST(user_id AS VARCHAR)')} % 2)"
    )
    return f"""
WITH e AS (SELECT event_type, {variant} AS variant FROM events),
agg AS (
  SELECT event_type,
         count(CASE WHEN variant = 0 THEN 1 END) AS n_a,
         count(CASE WHEN variant = 1 THEN 1 END) AS n_b
  FROM e GROUP BY 1
)
SELECT event_type, n_a, n_b,
       {duck_rnd('CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)', 6)} AS chi2,
       CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) > {SRM_CHI2_95}
         AS srm_flag
FROM agg
ORDER BY event_type
"""


QUERIES["ev_srm_check"] = ev_srm_check
ORACLES["ev_srm_check"] = _finalize_srm_oracle()


# --- ev_time_to_convert (r8) --------------------------------------------------

TTC_QS = ((0.25, "p25_s"), (0.50, "p50_s"), (0.75, "p75_s"), (0.90, "p90_s"))


def ev_time_to_convert(t: dict[str, DataFrame]) -> DataFrame:
    """Signup→purchase conversion-latency profile: for every signed-up
    user, seconds from their FIRST signup to their first purchase at or
    after it; readout is the conversion funnel (signed up / converted /
    rate) plus exact latency quartiles + p90.

    Scale shape: two struct-min hash aggregations keyed on user_id (no
    window over raw events), one user-cardinality join, and the
    quartiles go through the shuffle-bounded order-statistic plan
    (functions/percentile.py) — never a global sort of the latency
    column. The conditional min (first purchase ≥ signup) rides the
    same aggregate as the funnel counts.
    """
    from pypers_spark.functions.percentile import exact_percentiles

    ev = t["events"]
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_timestamp("ts")).alias("t_signup"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_timestamp("ts").alias("t_p")
    )
    lat = (
        signup.join(purchases, "user_id", "left")
        .groupBy("user_id")
        .agg(
            (
                F.min(F.when(F.col("t_p") >= F.col("t_signup"), F.col("t_p")))
                - F.first("t_signup")
            ).alias("latency_s")
        )
    )
    return exact_percentiles(
        lat,
        "latency_s",
        list(TTC_QS),
        count_alias="n_converted",
    ).crossJoin(
        F.broadcast(lat.agg(F.count("*").alias("n_signed_up")))
    ).select(
        "n_signed_up",
        "n_converted",
        rnd(F.col("n_converted").cast("double") / F.col("n_signed_up"), 6).alias(
            "conversion_rate"
        ),
        *[rnd(F.col(a), 6).alias(a) for _, a in TTC_QS],
    )


_TTC_EP = _DUCK_EPOCH.format(col="ts")

ORACLE_TIME_TO_CONVERT = f"""
WITH signup AS (
  SELECT user_id, min({_TTC_EP}) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
lat AS (
  SELECT s.user_id,
         min(CASE WHEN {_DUCK_EPOCH.format(col="p.ts")} >= s.t_signup
                  THEN {_DUCK_EPOCH.format(col="p.ts")} END) - s.t_signup
           AS latency_s
  FROM signup s
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON p.user_id = s.user_id
  GROUP BY s.user_id, s.t_signup
)
SELECT count(*) AS n_signed_up,
       CAST(count(latency_s) AS BIGINT) AS n_converted,
       {duck_rnd('CAST(count(latency_s) AS DOUBLE) / count(*)', 6)}
         AS conversion_rate,
       {", ".join(duck_rnd(f'quantile_cont(latency_s, {q})', 6) + f' AS {a}'
                  for q, a in TTC_QS)}
FROM lat
"""

QUERIES["ev_time_to_convert"] = ev_time_to_convert
ORACLES["ev_time_to_convert"] = ORACLE_TIME_TO_CONVERT


# --- ev_calibration_bins (r8) -------------------------------------------------

CAL_BINS = 10
CAL_SCALE = 1000  # score quantum: k/1000 — summed as exact ints


def ev_calibration_bins(t: dict[str, DataFrame]) -> DataFrame:
    """Model-calibration reliability table: a deterministic pseudo-score
    per event (hash draw quantized to 1/{CAL_SCALE}) bucketed into
    {CAL_BINS} equi-width bins against the synthetic binary label
    (user_id parity — the ev_auc_score fixture), emitting per bin the
    count, exact mean predicted score, and observed positive rate: the
    reliability-diagram input every eval pipeline materializes.

    Parity discipline: scores stay INTEGER (k ∈ [0, {CAL_SCALE})) until
    one final division per bin, so the mean never depends on float
    accumulation order; one map-side projection + one {CAL_BINS}-row
    hash aggregation at any scale.
    """
    from pypers_spark.functions.hashing import md5_int64

    k = md5_int64(
        F.concat(F.lit("cal:"), F.col("event_id").cast("string"))
    ) % CAL_SCALE
    scored = t["events"].select(
        k.alias("k"),
        (F.col("user_id") % 2 == 0).cast("long").alias("label"),
    )
    bin_id = F.least(
        F.floor(F.col("k") * CAL_BINS / CAL_SCALE).cast("int"),
        F.lit(CAL_BINS - 1),
    )
    return (
        scored.groupBy(bin_id.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("_sk"),
            F.sum("label").alias("n_pos"),
        )
        .select(
            "bin",
            "n",
            rnd(
                F.col("_sk").cast("double") / (F.col("n") * CAL_SCALE), 6
            ).alias("mean_score"),
            "n_pos",
            rnd(F.col("n_pos").cast("double") / F.col("n"), 6).alias("pos_rate"),
        )
    )


def _oracle_calibration() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64

    key_expr = duck_md5_int64("'cal:' || CAST(event_id AS VARCHAR)")
    k = f"({key_expr}) % {CAL_SCALE}"
    return f"""
WITH scored AS (
  SELECT {k} AS k,
         CAST(user_id % 2 = 0 AS BIGINT) AS label
  FROM events
)
SELECT least(CAST(floor(k * {CAL_BINS} / {CAL_SCALE}) AS INT), {CAL_BINS - 1}) AS bin,
       count(*) AS n,
       {duck_rnd(f'CAST(sum(k) AS DOUBLE) / (count(*) * {CAL_SCALE})', 6)}
         AS mean_score,
       CAST(sum(label) AS BIGINT) AS n_pos,
       {duck_rnd('CAST(sum(label) AS DOUBLE) / count(*)', 6)} AS pos_rate
FROM scored
GROUP BY 1
ORDER BY bin
"""


QUERIES["ev_calibration_bins"] = ev_calibration_bins
ORACLES["ev_calibration_bins"] = _oracle_calibration()


# --- ev_cuped (r8) ------------------------------------------------------------

CUPED_SPLIT = "2024-01-15"  # pre-period | experiment-period boundary


def ev_cuped(t: dict[str, DataFrame]) -> DataFrame:
    """CUPED variance reduction (Deng et al.): per user, pre-period
    spend x and experiment-period spend y; θ = cov(x,y)/var(x) pooled
    over all users; adjusted metric y′ = y − θ·(x − x̄). Readout per
    hash variant (the ev_ab_lift assignment): users, raw and adjusted
    means, plus the pooled θ and the measured variance-reduction ratio
    var(y′)/var(y) — the experimentation-platform preprocessing that
    shrinks confidence intervals for free.

    Parity discipline: per-user x/y are 1e-6-quantized integer sums;
    every pooled moment (Σx, Σx², Σxy, Σy′, Σy′²) goes through the
    wide-decimal order-free accumulator; θ and the adjustment are one
    double expression with the identical association in both engines.
    Two hash aggregations (user rollup, variant rollup) — both
    partial-aggregated, no window, no sort, at any corpus size.
    """
    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.functions.rounding import dsum_wide

    ev = t["events"]
    q = lambda c: F.sum(
        F.when(c.isNotNull(), F.floor(c * 1e6 + F.lit(0.5))).otherwise(F.lit(0))
    ) / 1e6
    per_user = ev.groupBy("user_id").agg(
        q(F.when(F.col("ts") < F.lit(CUPED_SPLIT), F.col("value"))).alias("x"),
        q(F.when(F.col("ts") >= F.lit(CUPED_SPLIT), F.col("value"))).alias("y"),
    )
    pooled = per_user.agg(
        F.count("*").alias("n"),
        dsum_wide(F.col("x")).alias("sx"),
        dsum_wide(F.col("y")).alias("sy"),
        dsum_wide(F.col("x") * F.col("x")).alias("sxx"),
        dsum_wide(F.col("x") * F.col("y")).alias("sxy"),
        dsum_wide(F.col("y") * F.col("y")).alias("syy"),
    )
    theta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    xbar = F.col("sx") / F.col("n")
    adj = per_user.crossJoin(
        F.broadcast(pooled.select(theta.alias("theta"), xbar.alias("xbar"),
                                  F.col("n"), F.col("sy"), F.col("syy")))
    ).select(
        "user_id",
        "x",
        "y",
        "theta",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))).alias("y_adj"),
        "n",
        "sy",
        "syy",
    )
    variant = (
        md5_int64(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2
    ).alias("variant")
    per_variant = adj.select(variant, "y", "y_adj", "theta", "n", "sy", "syy").groupBy(
        "variant"
    ).agg(
        F.count("*").alias("n_users"),
        dsum_wide(F.col("y")).alias("vy"),
        dsum_wide(F.col("y_adj")).alias("vya"),
        dsum_wide(F.col("y_adj") * F.col("y_adj")).alias("vyaa"),
        F.first("theta").alias("theta"),
        F.first("n").alias("n_all"),
        F.first("sy").alias("sy_all"),
        F.first("syy").alias("syy_all"),
    )
    var_y = (F.col("syy_all") - F.col("sy_all") * F.col("sy_all") / F.col("n_all"))
    # pooled Σy′/Σy′² recomposed from the two variant rows via a window-free
    # trick: re-aggregate the variant rows (2 rows — driver-free, exact)
    tot = per_variant.agg(
        F.sum("vya").alias("t_ya"), F.sum("vyaa").alias("t_yaa"),
        F.first("n_all").alias("n_all2"),
    )
    out = per_variant.crossJoin(F.broadcast(tot)).select(
        "variant",
        "n_users",
        rnd(F.col("vy") / F.col("n_users"), 6).alias("mean_y"),
        rnd(F.col("vya") / F.col("n_users"), 6).alias("mean_y_adj"),
        rnd(F.col("theta"), 6).alias("theta"),
        rnd(
            (F.col("t_yaa") - F.col("t_ya") * F.col("t_ya") / F.col("n_all2"))
            / var_y,
            6,
        ).alias("var_reduction"),
    )
    return out


def _oracle_cuped() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64

    qpre = (
        "CAST(sum(CASE WHEN ts < TIMESTAMP '" + CUPED_SPLIT + "' "
        "THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) "
        "AS DOUBLE) / 1000000.0"
    )
    qpost = (
        "CAST(sum(CASE WHEN ts >= TIMESTAMP '" + CUPED_SPLIT + "' "
        "THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) "
        "AS DOUBLE) / 1000000.0"
    )
    vexpr = duck_md5_int64("'ab:' || CAST(user_id AS VARCHAR)")
    variant = f"({vexpr}) % 2"
    return f"""
WITH per_user AS (
  SELECT user_id, {qpre} AS x, {qpost} AS y
  FROM events GROUP BY user_id
),
pooled AS (
  SELECT count(*) AS n,
         {duck_dsum('x')} AS sx, {duck_dsum('y')} AS sy,
         {duck_dsum('x * x')} AS sxx, {duck_dsum('x * y')} AS sxy,
         {duck_dsum('y * y')} AS syy
  FROM per_user
),
adj AS (
  SELECT user_id, x, y,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
         y - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (x - sx / n) AS y_adj,
         n, sy, syy
  FROM per_user, pooled
),
per_variant AS (
  SELECT {variant} AS variant,
         count(*) AS n_users,
         {duck_dsum('y')} AS vy,
         {duck_dsum('y_adj')} AS vya,
         {duck_dsum('y_adj * y_adj')} AS vyaa,
         any_value(theta) AS theta,
         any_value(n) AS n_all, any_value(sy) AS sy_all,
         any_value(syy) AS syy_all
  FROM adj GROUP BY 1
),
tot AS (
  SELECT sum(vya) AS t_ya, sum(vyaa) AS t_yaa, any_value(n_all) AS n_all2
  FROM per_variant
)
SELECT variant, n_users,
       {duck_rnd('vy / n_users', 6)} AS mean_y,
       {duck_rnd('vya / n_users', 6)} AS mean_y_adj,
       {duck_rnd('theta', 6)} AS theta,
       {duck_rnd('(t_yaa - t_ya * t_ya / n_all2) / (syy_all - sy_all * sy_all / n_all)', 6)}
         AS var_reduction
FROM per_variant, tot
ORDER BY variant
"""


QUERIES["ev_cuped"] = ev_cuped
ORACLES["ev_cuped"] = _oracle_cuped()


# --- ev_attribution_position (r8) ---------------------------------------------
#
# U-shaped (position-based) multi-touch attribution — the third member
# of the attribution family (first-touch / linear / position-based):
# 40% of a purchase's value to the FIRST touch in the window, 40% to
# the LAST, the remaining 20% split evenly over the middle touches
# (1 touch → 100%, 2 touches → 50/50 — the standard degenerations).
# Touches here are views AND clicks, so the position classes are not
# trivially one event type.

ATTR_U_FIRST = 0.4
ATTR_U_LAST = 0.4
ATTR_U_MID = 0.2


def ev_attribution_position(t: dict[str, DataFrame]) -> DataFrame:
    """Position-based attribution rollup: attributed revenue and touch
    counts per (touch event_type × position class).

    Scale shape: same bounded purchases×touches interval join as
    ev_attribution_linear (per-user lists, AQE skew-split for power
    users); position classes come from one rank window per purchase
    (candidate lists are window-bounded); credits are exact rational
    splits of the purchase value, dsum-quantized so partition order
    can't move the sums; readout is a ≤6-row hash aggregation.
    """
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    touches_src = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"),
    )
    touches = purchases.join(touches_src, "user_id").filter(
        (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")
        )
    )
    w = Window.partitionBy("purchase_id").orderBy("t_ts", "touch_id")
    wn = Window.partitionBy("purchase_id")
    ranked = (
        touches.withColumn("rk", F.row_number().over(w))
        .withColumn("n_touch", F.count(F.lit(1)).over(wn))
    )
    pos = (
        F.when(F.col("rk") == 1, F.lit("first"))
        .when(F.col("rk") == F.col("n_touch"), F.lit("last"))
        .otherwise(F.lit("mid"))
    )
    credit = (
        F.when(F.col("n_touch") == 1, F.col("p_value"))
        .when(F.col("n_touch") == 2, F.col("p_value") * F.lit(0.5))
        .when(F.col("rk") == 1, F.col("p_value") * F.lit(ATTR_U_FIRST))
        .when(
            F.col("rk") == F.col("n_touch"), F.col("p_value") * F.lit(ATTR_U_LAST)
        )
        .otherwise(
            F.col("p_value") * F.lit(ATTR_U_MID) / (F.col("n_touch") - 2)
        )
    )
    return (
        ranked.select("touch_type", pos.alias("pos_class"), credit.alias("credit"))
        .groupBy("touch_type", "pos_class")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            rnd(dsum(F.col("credit")), 2).alias("attributed_value"),
        )
    )


ORACLE_ATTRIBUTION_POSITION = f"""
WITH touches AS (
  SELECT p.event_id AS purchase_id, p.value AS p_value,
         v.event_id AS touch_id, v.event_type AS touch_type, v.ts AS t_ts
  FROM events p JOIN events v
    ON p.user_id = v.user_id
   AND p.event_type = 'purchase' AND v.event_type IN ('view', 'click')
   AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
),
ranked AS (
  SELECT touch_type, p_value,
         row_number() OVER (PARTITION BY purchase_id ORDER BY t_ts, touch_id) AS rk,
         count(*) OVER (PARTITION BY purchase_id) AS n_touch
  FROM touches
),
credited AS (
  SELECT touch_type,
         CASE WHEN rk = 1 THEN 'first'
              WHEN rk = n_touch THEN 'last'
              ELSE 'mid' END AS pos_class,
         CASE WHEN n_touch = 1 THEN p_value
              WHEN n_touch = 2 THEN p_value * 0.5
              WHEN rk = 1 THEN p_value * {ATTR_U_FIRST}
              WHEN rk = n_touch THEN p_value * {ATTR_U_LAST}
              ELSE p_value * {ATTR_U_MID} / (n_touch - 2) END AS credit
  FROM ranked
)
SELECT touch_type, pos_class, count(*) AS n_touches,
       {duck_rnd(duck_dsum('credit'), 2)} AS attributed_value
FROM credited
GROUP BY touch_type, pos_class
ORDER BY touch_type, pos_class
"""

QUERIES["ev_attribution_position"] = ev_attribution_position
ORACLES["ev_attribution_position"] = ORACLE_ATTRIBUTION_POSITION


# --- ev_qte (r8): quantile treatment effects ----------------------------------
#
# Mean lift (ev_ab_lift) hides WHERE an experiment moves the
# distribution; the quantile treatment effect — QTE(p) = Q_treat(p) −
# Q_control(p) — is the standard distributional readout (Athey &
# Imbens' heterogeneous-effect diagnostics; every large experimentation
# platform ships one). Variant is the same deterministic md5 hash split
# as ev_ab_lift/ev_srm_check/ev_cuped, the metric is the per-user
# purchase total, and the deciles come from the shuffle-bounded
# exact-percentile plan GROUPED by variant — two window partitions,
# never a single-buffer percentile aggregate.

QTE_QS = tuple((q / 10.0, f"p{q}0") for q in range(1, 10))


def ev_qte(t: dict[str, DataFrame]) -> DataFrame:
    """Per-decile treatment effect on per-user purchase totals."""
    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.functions.percentile import exact_percentiles

    ev = t["events"]
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(dsum(F.col("value")).alias("m"))
        .withColumn(
            "variant",
            (
                md5_int64(F.concat(F.lit("ab:"), F.col("user_id").cast("string")))
                % 2
            ).cast("int"),
        )
    )
    qs = exact_percentiles(
        per_user, "m", list(QTE_QS), group_cols=["variant"], count_alias="n_users"
    )
    c = qs.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_control"),
        *[F.col(a).alias(f"c_{a}") for _, a in QTE_QS],
    )
    tr = qs.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_treat"),
        *[F.col(a).alias(f"t_{a}") for _, a in QTE_QS],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("decile"),
                    rnd(F.col(f"c_{a}"), 4).alias("q_control"),
                    rnd(F.col(f"t_{a}"), 4).alias("q_treat"),
                    rnd(F.col(f"t_{a}") - F.col(f"c_{a}"), 4).alias("qte"),
                )
                for _, a in QTE_QS
            ]
        )
    ).alias("r")
    return (
        c.crossJoin(tr)
        .select("n_control", "n_treat", rows)
        .select("n_control", "n_treat", "r.decile", "r.q_control", "r.q_treat", "r.qte")
    )


def _oracle_qte() -> str:
    from pypers_spark.functions.hashing import duck_md5_int64

    variant = (
        f"({duck_md5_int64(chr(39) + 'ab:' + chr(39) + ' || CAST(user_id AS VARCHAR)')} % 2)"
    )
    decile_rows = ",\n  ".join(
        f"('{a}', {q})" for q, a in QTE_QS
    )
    return f"""
WITH per_user AS (
  SELECT user_id, {duck_dsum('value')} AS m,
         CAST({variant} AS INT) AS variant
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
qs AS (
  SELECT variant, count(*) AS n_users,
         {", ".join(f"quantile_cont(m, {q}) AS {a}" for q, a in QTE_QS)}
  FROM per_user GROUP BY variant
),
deciles(decile, p) AS (VALUES {decile_rows})
SELECT c.n_users AS n_control, t.n_users AS n_treat, d.decile,
       {duck_rnd('''CASE d.decile {whens_c} END''', 4)} AS q_control,
       {duck_rnd('''CASE d.decile {whens_t} END''', 4)} AS q_treat,
       {duck_rnd('''(CASE d.decile {whens_t} END) - (CASE d.decile {whens_c} END)''', 4)} AS qte
FROM (SELECT * FROM qs WHERE variant = 0) c,
     (SELECT * FROM qs WHERE variant = 1) t,
     deciles d
ORDER BY d.decile
""".replace(
        "{whens_c}",
        " ".join(f"WHEN '{a}' THEN c.{a}" for _, a in QTE_QS),
    ).replace(
        "{whens_t}",
        " ".join(f"WHEN '{a}' THEN t.{a}" for _, a in QTE_QS),
    )


QUERIES["ev_qte"] = ev_qte
ORACLES["ev_qte"] = _oracle_qte()
