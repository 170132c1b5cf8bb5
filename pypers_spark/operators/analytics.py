"""Evaluation & distribution analytics (round 6).

The measurement layer of a training-data/product pipeline — survival,
ranking quality, concentration, streaks, drift localization, exact
distinct at scale — all as declarative DataFrame plans with exact
cross-engine oracles:

- ``ev_survival_km`` — Kaplan-Meier time-to-first-conversion (hours)
  with fixed-horizon right-censoring (slower converters censor at the
  72 h analysis window). The log-survival accumulates 1e-9-quantized ln
  terms as exact int64s (the ``ev_psi_drift`` discipline), so the
  product is order-independent and bit-identical cross-engine.
- ``ev_auc_score`` — ROC AUC via the tie-corrected Mann-Whitney
  rank-sum. The doubled positive rank-sum Σ(2·rank_min + ties − 1)
  stays integer-exact; AUC is one double division at the end.
- ``ev_activity_gini`` — Lorenz deciles + Gini coefficient of per-user
  event concentration (who produces the traffic): integer rank-weighted
  sums, ntile(10) with a full (count, user_id) tie-break.
- ``ev_streaks`` — gaps-and-islands: longest run of consecutive active
  days per user (day_number − row_number island anchor), pure integer.
- ``ev_changepoint`` — best mean-shift split of each event type's daily
  count series: |meanL − meanR| maximized over all splits, computed
  from prefix-sum integers as |sumL·nR − sumR·nL| / (nL·nR) so the
  argmax ranks identical doubles in both engines.
- ``ev_stickiness`` — weekly DAU/MAU ratio (user-day fan-in counts).
- ``sk_bitmap_distinct`` — EXACT distinct users per event type via
  63-bit bitmap words (word = id/63, bit_or partials, popcount sum);
  the oracle is a plain count(DISTINCT), so the gate PROVES the bitmap
  path exact, not just self-consistent.
- ``op_largest_remainder`` — Hamilton largest-remainder allocation of a
  fixed sample budget across sources (floor quotas + ranked remainder
  top-up; the quota sum is exactly the budget by construction).
- ``txt_token_entropy`` — per-document Shannon token entropy
  H = ln N − (Σ c·ln c)/N with 1e-9-quantized int64 term accumulation.

Scale notes (100 TB intent):
- KM / AUC / Gini / streaks / stickiness reduce the fact table to
  per-user or per-day partials FIRST (one hash aggregation keyed on the
  natural distribution key); every window after that runs on
  user/day/duration-cardinality tables, never on raw events.
- ev_changepoint is O(days) per type via prefix sums — no self-join
  over splits.
- sk_bitmap_distinct is the exact-distinct pattern for dense int keys:
  map-side partial bit_or per 63-id word means shuffle volume is
  O(id_range/63) words, not O(rows); partials merge associatively
  (streaming/backfill safe). For sparse/string keys use the KMV/HLL
  sketches (sketches.py) instead.
- op_largest_remainder runs on source-cardinality metadata (one row per
  source); the single unpartitioned window is over that metadata, not
  data.
- txt_token_entropy is explode + two hash aggregations (the round-2
  lesson: aggregation, not array lambdas, keeps per-doc cost linear).

Reference parity: the reference (repype) ships orchestration only —
these are engine-side operators in the SURVEY §2 extended families
(training-data measurement), no same-named reference implementation
exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import duck_rnd, rnd
from pypers_spark.functions.text import tokenize_ws

QUERIES: dict = {}
ORACLES: dict = {}


# --- ev_survival_km ----------------------------------------------------------

KM_HORIZON_H = 72  # fixed observation window (hours); later converts censor here


def ev_survival_km(t: dict[str, DataFrame]) -> DataFrame:
    """Kaplan-Meier time-to-first-conversion table (hours).

    Per user: dur = hours from first event to first 'purchase'. A fixed
    72-hour analysis horizon right-censors slower converters (died=0,
    dur=72) — the standard fixed-window conversion readout, and the
    censoring that distinguishes KM from a plain ECDF (non-vacuous on
    this corpus: max time-to-convert is 106-528 h across SFs). Output
    one row per duration with ≥1 conversion: at-risk n, conversions d,
    S(t) = Π_{t'≤t} (1 − d/n) accumulated as 1e-9-quantized ln terms
    (exact int64 window sum → one exp at the end). The degenerate
    terminal atom where d = n (S hits exactly 0, ln undefined) is
    excluded in both engines.
    """
    per_user = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("t0"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase", F.unix_timestamp("ts")
                )
            ).alias("tc"),
        )
    )
    lifetimes = per_user.select(
        F.when(
            F.col("tc").isNotNull()
            & (F.floor((F.col("tc") - F.col("t0")) / 3600) <= KM_HORIZON_H),
            F.floor((F.col("tc") - F.col("t0")) / 3600),
        )
        .otherwise(F.lit(KM_HORIZON_H))
        .cast("long")
        .alias("dur"),
        (
            F.col("tc").isNotNull()
            & (F.floor((F.col("tc") - F.col("t0")) / 3600) <= KM_HORIZON_H)
        )
        .cast("long")
        .alias("died"),
    )
    by_dur = lifetimes.groupBy("dur").agg(
        F.count("*").alias("n_at"), F.sum("died").alias("d")
    )
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = by_dur.withColumn(
        "n_risk",
        F.sum("n_at").over(Window.orderBy("dur").rowsBetween(-(1 << 30), 1 << 30))
        - F.coalesce(F.sum("n_at").over(w), F.lit(0)),
    ).filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d")))
    # 1e-9-quantized ln(1 - d/n) terms, window-summed as exact int64
    qln = F.floor(
        F.log((F.col("n_risk") - F.col("d")) / F.col("n_risk")) * 1e9 + F.lit(0.5)
    ).cast("long")
    cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.withColumn("qsum", F.sum(qln).over(cum))
        .select(
            F.col("dur").alias("duration_h"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_deaths"),
            rnd(F.exp(F.col("qsum") / F.lit(1e9)), 6).alias("survival"),
        )
    )


ORACLE_SURVIVAL_KM = f"""
WITH per_user AS (
  SELECT user_id,
         min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS t0,
         min(CASE WHEN event_type = 'purchase'
                  THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS tc
  FROM events GROUP BY user_id
),
life AS (
  SELECT CASE WHEN tc IS NOT NULL AND (tc - t0) // 3600 <= {KM_HORIZON_H}
              THEN (tc - t0) // 3600 ELSE {KM_HORIZON_H} END AS dur,
         CAST(tc IS NOT NULL AND (tc - t0) // 3600 <= {KM_HORIZON_H}
              AS BIGINT) AS died
  FROM per_user
),
by_dur AS (SELECT dur, count(*) AS n_at,
                  CAST(sum(died) AS BIGINT) AS d FROM life GROUP BY dur),
risk AS (
  SELECT dur, d,
         CAST(sum(n_at) OVER () - coalesce(sum(n_at) OVER (
           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM by_dur
),
steps AS (
  SELECT dur, d, n_risk,
         CAST(floor(ln((n_risk - d) / CAST(n_risk AS DOUBLE)) * 1e9 + 0.5)
              AS BIGINT) AS qln
  FROM risk WHERE d > 0 AND n_risk > d
)
SELECT dur AS duration_h, n_risk AS n_at_risk, d AS n_deaths,
       {duck_rnd("exp(sum(qln) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e9)", 6)}
         AS survival
FROM steps ORDER BY duration_h
"""

QUERIES["ev_survival_km"] = ev_survival_km
ORACLES["ev_survival_km"] = ORACLE_SURVIVAL_KM


# --- ev_auc_score ------------------------------------------------------------


def ev_auc_score(t: dict[str, DataFrame]) -> DataFrame:
    """Tie-corrected ROC AUC of `value` against a synthetic binary label
    (user_id parity), per event type — the Mann-Whitney rank-sum
    estimator an eval pipeline runs over billions of scored rows.

    Scale discipline (advisor r6): the fact table reduces FIRST to
    (event_type, score) → per-score pos/neg counts — one hash
    aggregation with map-side combine — and the rank algebra runs on
    DISTINCT-SCORE cardinality: with cum = cumulative row count over
    sorted distinct scores, every positive at score s has doubled rank
    term 2·rank_min + c − 1 = 2·cum − c + 1, so
    S2 = Σ_s pos(s)·(2·cum(s) − c(s) + 1) — identical integer algebra,
    but the window never sorts raw events. AUC =
    (S2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg) is one double division,
    NULL-guarded explicitly for single-label types in BOTH engines so
    parity never rests on engine divide-by-zero semantics.
    """
    per_score = (
        t["events"]
        .select(
            "event_type",
            F.col("value").alias("score"),
            (F.col("user_id") % 2 == 0).cast("long").alias("label"),
        )
        .groupBy("event_type", "score")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("label").alias("pos"),
        )
    )
    w_cum = Window.partitionBy("event_type").orderBy("score")
    scored = per_score.select(
        "event_type",
        "c",
        "pos",
        (F.sum("c").over(w_cum) * 2 - F.col("c") + 1).alias("r2"),
    )
    agg = scored.groupBy("event_type").agg(
        F.sum("pos").alias("n_pos"),
        (F.sum("c") - F.sum("pos")).alias("n_neg"),
        F.sum(F.col("pos") * F.col("r2")).alias("s2"),
    )
    return agg.select(
        "event_type",
        "n_pos",
        "n_neg",
        rnd(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1))
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
            ),
            6,
        ).alias("auc"),
    )


ORACLE_AUC_SCORE = f"""
WITH ranked AS (
  SELECT event_type,
         CAST(user_id % 2 = 0 AS BIGINT) AS label,
         2 * rank() OVER (PARTITION BY event_type ORDER BY value)
           + count(*) OVER (PARTITION BY event_type, value) - 1 AS r2
  FROM events
)
SELECT event_type,
       CAST(sum(label) AS BIGINT) AS n_pos,
       CAST(count(*) - sum(label) AS BIGINT) AS n_neg,
       CASE WHEN sum(label) > 0 AND count(*) - sum(label) > 0 THEN
       {duck_rnd("(sum(CASE WHEN label = 1 THEN r2 END) - sum(label) * (sum(label) + 1)) / (2.0 * sum(label) * (count(*) - sum(label)))", 6)}
       END AS auc
FROM ranked GROUP BY event_type ORDER BY event_type
"""

QUERIES["ev_auc_score"] = ev_auc_score
ORACLES["ev_auc_score"] = ORACLE_AUC_SCORE


# --- ev_activity_gini --------------------------------------------------------


def ev_activity_gini(t: dict[str, DataFrame]) -> DataFrame:
    """Lorenz deciles + Gini coefficient of per-user event concentration.

    One hash aggregation to user-cardinality counts, then rank-weighted
    integer sums: G = 2·Σ(i·c_i)/(n·T) − (n+1)/n. Deciles come from
    ntile(10) over the fully tie-broken (cnt, user_id) order, so both
    engines bucket identically. cum_share is decile-cumulative events
    over the exact total.
    """
    per_user = t["events"].groupBy("user_id").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("cnt", "user_id")
    ranked = per_user.select(
        "cnt",
        F.row_number().over(w).alias("i"),
        F.ntile(10).over(w).alias("decile"),
    )
    by_dec = ranked.groupBy("decile").agg(
        F.count("*").alias("n_users"),
        F.sum("cnt").alias("events"),
        F.sum(F.col("i") * F.col("cnt")).alias("iwsum"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("decile").rowsBetween(-(1 << 30), 1 << 30)
    return (
        by_dec.select(
            "decile",
            "n_users",
            "events",
            F.sum("events").over(w_cum).alias("cum_events"),
            F.sum("events").over(w_all).alias("total"),
            F.sum("iwsum").over(w_all).alias("iw_total"),
            F.sum("n_users").over(w_all).alias("n"),
        )
        .select(
            "decile",
            "n_users",
            "events",
            rnd(F.col("cum_events") / F.col("total"), 6).alias("cum_share"),
            rnd(
                2.0 * F.col("iw_total") / (F.col("n") * F.col("total"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
        )
    )


ORACLE_ACTIVITY_GINI = f"""
WITH per_user AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt, user_id) AS i,
         ntile(10) OVER (ORDER BY cnt, user_id) AS decile
  FROM per_user
),
by_dec AS (
  SELECT decile, count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS events,
         CAST(sum(i * cnt) AS BIGINT) AS iwsum
  FROM ranked GROUP BY decile
)
SELECT decile, n_users, events,
       {duck_rnd("sum(events) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / CAST(sum(events) OVER () AS DOUBLE)", 6)}
         AS cum_share,
       {duck_rnd("2.0 * sum(iwsum) OVER () / (sum(n_users) OVER () * CAST(sum(events) OVER () AS DOUBLE)) - (sum(n_users) OVER () + 1.0) / sum(n_users) OVER ()", 6)}
         AS gini
FROM by_dec ORDER BY decile
"""

QUERIES["ev_activity_gini"] = ev_activity_gini
ORACLES["ev_activity_gini"] = ORACLE_ACTIVITY_GINI


# --- ev_streaks --------------------------------------------------------------

STREAK_EPOCH = "2024-01-01"
STREAK_TOPK = 25
STREAK_LONG = 3  # "long streak" threshold


def ev_streaks(t: dict[str, DataFrame]) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps & islands).

    Distinct user-days → integer day numbers; island anchor =
    day_number − row_number (constant within a consecutive run). Pure
    integer math end-to-end. Top-K users by (longest desc, user_id).
    """
    du = (
        t["events"]
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.to_date(F.lit(STREAK_EPOCH))).alias("dayn"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dayn")
    islands = du.withColumn("anchor", F.col("dayn") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count("*").alias("n_streaks"),
            F.sum((F.col("len") >= STREAK_LONG).cast("long")).alias("n_long"),
        )
        .orderBy(F.desc("longest_streak"), "user_id")
        .limit(STREAK_TOPK)
    )


ORACLE_STREAKS = f"""
WITH du AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '{STREAK_EPOCH}', CAST(ts AS DATE)) AS dayn
  FROM events
),
islands AS (
  SELECT user_id, dayn,
         dayn - row_number() OVER (PARTITION BY user_id ORDER BY dayn) AS anchor
  FROM du
),
streaks AS (
  SELECT user_id, anchor, count(*) AS len FROM islands GROUP BY user_id, anchor
)
SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks,
       CAST(sum(CAST(len >= {STREAK_LONG} AS BIGINT)) AS BIGINT) AS n_long
FROM streaks GROUP BY user_id
ORDER BY longest_streak DESC, user_id LIMIT {STREAK_TOPK}
"""

QUERIES["ev_streaks"] = ev_streaks
ORACLES["ev_streaks"] = ORACLE_STREAKS


# --- ev_changepoint ----------------------------------------------------------


def ev_changepoint(t: dict[str, DataFrame]) -> DataFrame:
    """Best mean-shift split of each event type's daily count series.

    For every split index i over the day-ordered counts: score =
    |sumL·nR − sumR·nL| / (nL·nR) — |meanL − meanR| computed from
    prefix-sum INTEGERS so both engines divide identical exact values.
    Argmax per type via (score quantized to 1e-6 desc, day asc). O(days)
    per type; no split self-join.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    w_all = w.rowsBetween(-(1 << 30), 1 << 30)
    pre = daily.select(
        "event_type",
        "day",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("suml"),
        F.row_number().over(w).alias("i"),
        F.sum("cnt").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("n"),
    ).filter(F.col("i") < F.col("n"))
    scored = pre.select(
        "event_type",
        "day",
        "i",
        F.col("suml").alias("sl"),
        (F.col("total") - F.col("suml")).alias("sr"),
        (F.col("n") - F.col("i")).alias("nr"),
        F.floor(
            F.abs(
                F.col("suml") * (F.col("n") - F.col("i"))
                - (F.col("total") - F.col("suml")) * F.col("i")
            )
            / (F.col("i") * (F.col("n") - F.col("i")))
            * 1e6
            + F.lit(0.5)
        ).alias("qscore"),
    )
    w_best = Window.partitionBy("event_type").orderBy(F.desc("qscore"), "day")
    return (
        scored.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            rnd(F.col("sl") / F.col("i"), 4).alias("mean_before"),
            rnd(F.col("sr") / F.col("nr"), 4).alias("mean_after"),
            (F.col("qscore") / F.lit(1e6)).alias("score"),
        )
    )


ORACLE_CHANGEPOINT = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT event_type, day,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suml,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         sum(cnt) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
scored AS (
  SELECT event_type, day, i, suml AS sl, total - suml AS sr, n - i AS nr,
         CAST(floor(abs(suml * (n - i) - (total - suml) * i)
                    / CAST(i * (n - i) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS qscore
  FROM pre WHERE i < n
)
SELECT event_type, day AS split_day,
       {duck_rnd("sl / CAST(i AS DOUBLE)", 4)} AS mean_before,
       {duck_rnd("sr / CAST(nr AS DOUBLE)", 4)} AS mean_after,
       qscore / 1e6 AS score
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY qscore DESC, day) AS rk
      FROM scored) s
WHERE rk = 1 ORDER BY event_type
"""

QUERIES["ev_changepoint"] = ev_changepoint
ORACLES["ev_changepoint"] = ORACLE_CHANGEPOINT


# --- ev_stickiness -----------------------------------------------------------


def ev_stickiness(t: dict[str, DataFrame]) -> DataFrame:
    """Weekly DAU/MAU-style stickiness: user-days / (active days × WAU).

    Three distinct-counts per week over the user-day fan-in; the ratio
    is one double division of exact integers.
    """
    ud = t["events"].select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    return (
        ud.groupBy("week")
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.countDistinct("day").alias("active_days"),
            F.countDistinct("day", "user_id").alias("user_days"),
        )
        .select(
            "week",
            "wau",
            "active_days",
            "user_days",
            rnd(
                F.col("user_days") / (F.col("active_days") * F.col("wau")),
                6,
            ).alias("stickiness"),
        )
    )


ORACLE_STICKINESS = f"""
SELECT date_trunc('week', ts) AS week,
       count(DISTINCT user_id) AS wau,
       count(DISTINCT CAST(ts AS DATE)) AS active_days,
       count(DISTINCT (CAST(ts AS DATE), user_id)) AS user_days,
       {duck_rnd("count(DISTINCT (CAST(ts AS DATE), user_id)) / (count(DISTINCT CAST(ts AS DATE)) * CAST(count(DISTINCT user_id) AS DOUBLE))", 6)}
         AS stickiness
FROM events GROUP BY 1 ORDER BY week
"""

QUERIES["ev_stickiness"] = ev_stickiness
ORACLES["ev_stickiness"] = ORACLE_STICKINESS


# --- sk_bitmap_distinct ------------------------------------------------------

BITMAP_WORD = 63  # bits per word; stays clear of the int64 sign bit


def sk_bitmap_distinct(t: dict[str, DataFrame]) -> DataFrame:
    """EXACT distinct users per event type via 63-bit bitmap words.

    word = user_id / 63; partial = bit_or(1 << (user_id % 63)) per
    (type, word); n_users = Σ popcount(partial). Map-side bit_or makes
    shuffle volume O(id_range/63) words instead of O(rows), and the
    word partials merge associatively (incremental/backfill safe). The
    oracle is a plain count(DISTINCT user_id): the gate proves the
    bitmap path EXACT against true distinct, not just self-consistent.
    """
    words = t["events"].select(
        "event_type",
        # integer floor division (`div`), matching the oracle's `//` by
        # construction — double '/' then cast truncates and silently
        # diverges for ids past 2^53 or negative (advisor r6)
        F.expr(f"user_id div {BITMAP_WORD}").alias("word"),
        # shiftleft with a COLUMN shift amount needs the SQL form — the
        # Python wrapper only takes an int literal
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {BITMAP_WORD} AS INT))"
        ).alias("bit"),
    )
    partials = words.groupBy("event_type", "word").agg(F.bit_or("bit").alias("bm"))
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum(F.bit_count("bm")).alias("n_users"),
            F.count("*").alias("n_words"),
        )
    )


ORACLE_BITMAP_DISTINCT = f"""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT user_id // {BITMAP_WORD}) AS n_words
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES["sk_bitmap_distinct"] = sk_bitmap_distinct
ORACLES["sk_bitmap_distinct"] = ORACLE_BITMAP_DISTINCT


# --- op_largest_remainder ----------------------------------------------------

SAMPLE_BUDGET = 1000


def op_largest_remainder(t: dict[str, DataFrame]) -> DataFrame:
    """Hamilton largest-remainder allocation of a fixed sample budget
    across document sources, proportional to corpus share.

    base = (budget·cnt) DIV total (exact integer), remainder rank by
    ((budget·cnt) MOD total desc, source asc); the leftover
    budget − Σ base tops up the largest remainders, so Σ quota = budget
    exactly. Runs on source-cardinality metadata — the unpartitioned
    windows see one row per source, never data.
    """
    counts = t["documents"].groupBy("source").agg(F.count("*").alias("docs"))
    w_all = Window.orderBy("source").rowsBetween(-(1 << 30), 1 << 30)
    staged = counts.select(
        "source",
        "docs",
        F.sum("docs").over(w_all).alias("total"),
    ).select(
        "source",
        "docs",
        # exact integer division — same arithmetic as the oracle's `//`
        # (FP '/'-then-truncate is fragile near 2^53; advisor r6)
        F.expr(f"(docs * {SAMPLE_BUDGET}) div total").alias("base"),
        ((F.col("docs") * SAMPLE_BUDGET) % F.col("total")).alias("rem"),
    )
    w_rank = Window.orderBy(F.desc("rem"), "source")
    w_sum = Window.orderBy("source").rowsBetween(-(1 << 30), 1 << 30)
    return (
        staged.select(
            "source",
            "docs",
            "base",
            F.row_number().over(w_rank).alias("rk"),
            (SAMPLE_BUDGET - F.sum("base").over(w_sum)).alias("leftover"),
        )
        .select(
            "source",
            "docs",
            (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long")).alias(
                "quota"
            ),
        )
    )


ORACLE_LARGEST_REMAINDER = f"""
WITH counts AS (SELECT source, count(*) AS docs FROM documents GROUP BY source),
staged AS (
  SELECT source, docs,
         (docs * {SAMPLE_BUDGET}) // sum(docs) OVER () AS base,
         (docs * {SAMPLE_BUDGET}) % sum(docs) OVER () AS rem
  FROM counts
)
SELECT source, docs,
       CAST(base + CAST(row_number() OVER (ORDER BY rem DESC, source)
                   <= {SAMPLE_BUDGET} - sum(base) OVER () AS BIGINT)
            AS BIGINT) AS quota
FROM staged ORDER BY quota DESC, source
"""

QUERIES["op_largest_remainder"] = op_largest_remainder
ORACLES["op_largest_remainder"] = ORACLE_LARGEST_REMAINDER


# --- txt_token_entropy -------------------------------------------------------


def txt_token_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document Shannon token entropy H = ln N − (Σ c·ln c)/N.

    explode → (doc, token) counts → per-doc reduction of
    1e-9-quantized c·ln(c) int64 terms (order-independent, the
    ev_psi_drift discipline); ln N applies once per doc. Low-entropy
    docs are the boilerplate/templated tail a quality pipeline prunes.
    """
    toks = t["documents"].select(
        "doc_id", F.explode(tokenize_ws(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    qterm = F.floor(
        F.col("c") * F.log(F.col("c").cast("double")) * 1e9 + F.lit(0.5)
    ).cast("long")
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(qterm).alias("qsum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            rnd(
                F.log(F.col("n_tokens").cast("double"))
                - (F.col("qsum") / F.lit(1e9)) / F.col("n_tokens"),
                4,
            ).alias("entropy"),
        )
    )


ORACLE_TOKEN_ENTROPY = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
       {duck_rnd("ln(CAST(sum(c) AS DOUBLE)) - (sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) / 1e9) / sum(c)", 4)}
         AS entropy
FROM counts GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["txt_token_entropy"] = txt_token_entropy
ORACLES["txt_token_entropy"] = ORACLE_TOKEN_ENTROPY


# --- op_scd2_build -----------------------------------------------------------

SCD2_HIGH = 8  # daily-event thresholds for the tier attribute
SCD2_MID = 4


def op_scd2_build(t: dict[str, DataFrame]) -> DataFrame:
    """Type-2 slowly-changing dimension built from daily snapshots.

    Per (user, observed day) an activity tier is derived; consecutive
    observations with the same tier collapse into one version row
    [valid_from, valid_to) with valid_to = next version's start and
    NULL on the current version — the standard snapshot→SCD2 compaction
    a warehouse runs on every dimension feed. One user-keyed window
    pass over user-day partials; no self-join.
    """
    daily = (
        t["events"]
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            "day",
            F.when(F.col("n") >= SCD2_HIGH, F.lit("high"))
            .when(F.col("n") >= SCD2_MID, F.lit("mid"))
            .otherwise(F.lit("low"))
            .alias("tier"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("day")
    changes = daily.withColumn("prev_tier", F.lag("tier").over(w)).filter(
        F.col("prev_tier").isNull() | (F.col("prev_tier") != F.col("tier"))
    )
    w2 = Window.partitionBy("user_id").orderBy("day")
    return (
        changes.select(
            "user_id",
            "tier",
            # timestamp, not date: nullable DATE reaches pandas as
            # object-dtype None while the oracle's arrives as NaT —
            # datetime64 on both sides keeps the comparator aligned
            F.col("day").cast("timestamp").alias("valid_from"),
            F.lead(F.col("day").cast("timestamp")).over(w2).alias("valid_to"),
            F.row_number().over(w2).alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


ORACLE_SCD2_BUILD = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CASE WHEN count(*) >= {SCD2_HIGH} THEN 'high'
              WHEN count(*) >= {SCD2_MID} THEN 'mid'
              ELSE 'low' END AS tier
  FROM events GROUP BY 1, 2
),
changes AS (
  SELECT user_id, day, tier,
         lag(tier) OVER (PARTITION BY user_id ORDER BY day) AS prev_tier
  FROM daily
)
SELECT user_id, tier, day AS valid_from,
       lead(day) OVER (PARTITION BY user_id ORDER BY day) AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT)
         AS version,
       lead(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL AS is_current
FROM changes
WHERE prev_tier IS NULL OR prev_tier <> tier
ORDER BY user_id, version
"""

QUERIES["op_scd2_build"] = op_scd2_build
ORACLES["op_scd2_build"] = ORACLE_SCD2_BUILD


# --- op_scd2_lookup ----------------------------------------------------------


def op_scd2_lookup(t: dict[str, DataFrame]) -> DataFrame:
    """Point-in-time fact→dimension lookup against the SCD2 table built
    by op_scd2_build: every event is attributed to its user's tier
    VERSION AS OF the event date (day in [valid_from, valid_to), open
    current version included) — the join a warehouse runs on every
    fact load, and the reason SCD2 exists at all. Readout per tier:
    events attributed, distinct users, events landing on the current
    (open) version.

    Scale shape: the range predicate rides an EQUI-join on user_id, so
    both sides co-partition on the natural key and the version
    intervals per user are few (never a blind range join); the
    attribution is one joined hash aggregation. At 100 TB the dim side
    is bucketed on user_id and the join is exchange-free.
    """
    # dim derives from the same events scan as the fact side — rename
    # its key so the self-join is unambiguous.
    dim = op_scd2_build(t).select(
        F.col("user_id").alias("d_user"),
        "tier",
        "valid_from",
        "valid_to",
        "is_current",
    )
    ev = t["events"].select(
        "user_id", F.to_date("ts").cast("timestamp").alias("day")
    )
    joined = ev.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("day") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("day") < F.col("valid_to"))),
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("d_user").alias("n_users"),
            F.count(F.when(F.col("is_current"), 1)).alias("n_on_current"),
        )
    )


ORACLE_SCD2_LOOKUP = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CASE WHEN count(*) >= {SCD2_HIGH} THEN 'high'
              WHEN count(*) >= {SCD2_MID} THEN 'mid'
              ELSE 'low' END AS tier
  FROM events GROUP BY 1, 2
),
changes AS (
  SELECT user_id, day, tier,
         lag(tier) OVER (PARTITION BY user_id ORDER BY day) AS prev_tier
  FROM daily
),
dim AS (
  SELECT user_id, tier, day AS valid_from,
         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS valid_to,
         lead(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL
           AS is_current
  FROM changes
  WHERE prev_tier IS NULL OR prev_tier <> tier
),
ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT d.tier AS tier, count(*) AS n_events,
       count(DISTINCT d.user_id) AS n_users,
       count(CASE WHEN d.is_current THEN 1 END) AS n_on_current
FROM ev e JOIN dim d
  ON e.user_id = d.user_id
 AND e.day >= d.valid_from
 AND (d.valid_to IS NULL OR e.day < d.valid_to)
GROUP BY 1
ORDER BY tier
"""

QUERIES["op_scd2_lookup"] = op_scd2_lookup
ORACLES["op_scd2_lookup"] = ORACLE_SCD2_LOOKUP


# --- ev_ltv_cohort -----------------------------------------------------------


def ev_ltv_cohort(t: dict[str, DataFrame]) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue per user by
    weekly signup cohort and week offset — the companion to
    ev_cohort_retention's activity matrix, with exact dsum revenue.

    per-user first week (one hash agg) joins back on user_id (the
    natural distribution key; the cohort table is user-cardinality);
    cumulative revenue runs per cohort over the tiny offset axis.
    """
    first_week = (
        t["events"]
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week"))
    )
    purchases = t["events"].filter(F.col("event_type") == "purchase")
    joined = purchases.join(first_week, "user_id").select(
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
        )
        .cast("long")
        .alias("offset"),
        "value",
    )
    cohort_sizes = first_week.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_users")
    )
    per_cell = joined.groupBy("cohort_week", "offset").agg(
        F.count("*").alias("purchases"),
        F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5))).alias("qrev"),
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_cell.withColumn("qcum", F.sum("qrev").over(w_cum))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "offset",
            "purchases",
            rnd(F.col("qcum") / F.lit(1e6), 2).alias("cum_revenue"),
            rnd(F.col("qcum") / F.lit(1e6) / F.col("cohort_users"), 4).alias(
                "ltv_per_user"
            ),
        )
    )


ORACLE_LTV_COHORT = f"""
WITH first_week AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, count(DISTINCT user_id) AS cohort_users
  FROM first_week GROUP BY cohort_week
),
cells AS (
  SELECT f.cohort_week,
         date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
           AS "offset",
         count(*) AS purchases,
         CAST(sum(CAST(floor(e.value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS qrev
  FROM events e JOIN first_week f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT c.cohort_week, c."offset", c.purchases,
       {duck_rnd('CAST(sum(qrev) OVER (PARTITION BY c.cohort_week ORDER BY c."offset" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6', 2)}
         AS cum_revenue,
       {duck_rnd('CAST(sum(qrev) OVER (PARTITION BY c.cohort_week ORDER BY c."offset" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6 / s.cohort_users', 4)}
         AS ltv_per_user
FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
ORDER BY c.cohort_week, c."offset"
"""

QUERIES["ev_ltv_cohort"] = ev_ltv_cohort
ORACLES["ev_ltv_cohort"] = ORACLE_LTV_COHORT


# --- pipe_eval ---------------------------------------------------------------

ENTROPY_MIN = 2.9  # prune threshold; ~p25-p30 of the corpus at every SF


def _entropy_per_doc(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, qent) — entropy quantized to 1e-4 int64 so
    downstream averages are exact integer sums."""
    toks = docs.select(
        "doc_id", F.explode(tokenize_ws(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    qterm = F.floor(
        F.col("c") * F.log(F.col("c").cast("double")) * 1e9 + F.lit(0.5)
    ).cast("long")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.sum(qterm).alias("qsum")
    )
    ent = F.log(F.col("n_tokens").cast("double")) - (
        F.col("qsum") / F.lit(1e9)
    ) / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.floor(ent * 1e4 + F.lit(0.5)).cast("long").alias("qent"),
    )


def pipe_eval(t: dict[str, DataFrame]) -> DataFrame:
    """Fifth composed pipeline in the gate: the MEASUREMENT pass —
    ingest → per-doc entropy scoring → low-entropy prune → per-source
    rollup, built through the actual Stage/Pipeline machinery
    (create_pipeline → process) so the orchestration path itself is
    value-checked, like pipe_curation for the curation pass.

    One Catalyst plan: the entropy join is keyed on doc_id (the ingest
    repartition key), the prune is a filter above it, the rollup one
    hash agg. Per-source avg entropy averages the 1e-4-quantized
    per-doc values as exact int64 sums.
    """
    from pypers_spark.config import Config
    from pypers_spark.pipeline import create_pipeline
    from pypers_spark.stage import Stage

    class Ingest(Stage):
        outputs = ("docs",)

        def process(self, pipeline, config, status=None, **inputs):
            from pypers_spark.session import current_session
            from pypers_spark.sources.io import read_parquet

            spark = current_session()
            df = read_parquet(spark, f'{config["sf_dir"]}/documents.parquet')
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            return {"docs": df.repartition(n, F.col("doc_id"))}

    class Score(Stage):
        consumes = ("docs",)
        outputs = ("scored",)

        def process(self, pipeline, config, status=None, docs=None, **inputs):
            return {"scored": docs.join(_entropy_per_doc(docs), "doc_id")}

    class Prune(Stage):
        consumes = ("scored",)
        outputs = ("kept",)

        def process(self, pipeline, config, status=None, scored=None, **inputs):
            qmin = int(round(config.get("entropy_min", ENTROPY_MIN) * 1e4))
            return {"kept": scored.filter(F.col("qent") >= qmin)}

    class Rollup(Stage):
        consumes = ("kept",)
        outputs = ("stats",)

        def process(self, pipeline, config, status=None, kept=None, **inputs):
            return {
                "stats": kept.groupBy("source").agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_tokens").alias("total_tokens"),
                    F.sum("qent").alias("qent_sum"),
                )
            }

    pipeline = create_pipeline([Ingest(), Score(), Prune(), Rollup()])
    config = Config({"ingest": {"sf_dir": t._sf_dir}})
    data, _, _ = pipeline.process(input_id=1, config=config)
    return (
        data["stats"]
        .select(
            "source",
            "n_docs",
            "total_tokens",
            rnd(F.col("qent_sum") / F.lit(1e4) / F.col("n_docs"), 6).alias(
                "avg_entropy"
            ),
        )
    )


ORACLE_PIPE_EVAL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(floor((ln(CAST(sum(c) AS DOUBLE))
               - (sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) / 1e9) / sum(c))
              * 1e4 + 0.5) AS BIGINT) AS qent
  FROM counts GROUP BY doc_id
)
SELECT d.source, count(*) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
       {duck_rnd("CAST(sum(p.qent) AS DOUBLE) / 1e4 / count(*)", 6)} AS avg_entropy
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
WHERE p.qent >= {int(round(ENTROPY_MIN * 1e4))}
GROUP BY d.source ORDER BY d.source
"""

QUERIES["pipe_eval"] = pipe_eval
ORACLES["pipe_eval"] = ORACLE_PIPE_EVAL


# --- ev_diff_in_diff ---------------------------------------------------------

DID_TREAT_MOD = 3  # user_id % 3 == 0 -> treatment arm
DID_UPLIFT = 1.5  # deterministic injected effect on treated post-period rows


def ev_diff_in_diff(t: dict[str, DataFrame]) -> DataFrame:
    """Difference-in-differences readout per event type.

    Arms split on user_id % 3 (independent of ev_auc_score's parity
    label); pre/post split at the integer-exact stream midpoint (the
    ev_psi_drift discipline). A deterministic ×1.5 uplift is injected
    into treated post-period values so the estimator provably recovers
    a known effect (did ≈ 0.5 × treated-pre mean) instead of gating on
    noise. All four cell means come from 1e-6-quantized int64 sums;
    DiD is arithmetic on identical doubles in both engines.
    """
    ev = t["events"].withColumn("ts_s", F.unix_timestamp("ts"))
    split = ev.agg(
        F.floor((F.min("ts_s") + F.max("ts_s")) / 2).cast("bigint").alias("mid")
    )
    cells = ev.crossJoin(F.broadcast(split)).select(
        "event_type",
        (F.col("user_id") % DID_TREAT_MOD == 0).alias("treat"),
        (F.col("ts_s") > F.col("mid")).alias("post"),
        F.col("value").alias("v"),
    )
    boosted = cells.withColumn(
        "v",
        F.when(F.col("treat") & F.col("post"), F.col("v") * DID_UPLIFT).otherwise(
            F.col("v")
        ),
    )
    def cell(tr: bool, po: bool, name: str):
        cond = (F.col("treat") == tr) & (F.col("post") == po)
        return [
            F.sum(cond.cast("long")).alias(f"n_{name}"),
            F.sum(F.when(cond, F.floor(F.col("v") * 1e6 + F.lit(0.5)))).alias(
                f"q_{name}"
            ),
        ]

    aggs = cell(True, False, "t_pre") + cell(True, True, "t_post") + cell(
        False, False, "c_pre"
    ) + cell(False, True, "c_post")
    per_type = boosted.groupBy("event_type").agg(*aggs)
    mean = lambda n: (F.col(f"q_{n}") / F.lit(1e6)) / F.col(f"n_{n}")  # noqa: E731
    return per_type.select(
        "event_type",
        rnd(mean("t_pre"), 4).alias("treat_pre"),
        rnd(mean("t_post"), 4).alias("treat_post"),
        rnd(mean("c_pre"), 4).alias("ctrl_pre"),
        rnd(mean("c_post"), 4).alias("ctrl_post"),
        rnd(
            (mean("t_post") - mean("t_pre")) - (mean("c_post") - mean("c_pre")), 4
        ).alias("did"),
    )


def _duck_did_cell(tr: str, po: str, name: str) -> str:
    cond = f"(treat = {tr} AND post = {po})"
    return (
        f"CAST(sum(CAST({cond} AS BIGINT)) AS BIGINT) AS n_{name},\n"
        f"       CAST(sum(CASE WHEN {cond} THEN CAST(floor(v * 1e6 + 0.5) AS BIGINT) END) AS BIGINT) AS q_{name}"
    )


_DID_MEAN = lambda n: f"((q_{n} / 1e6) / n_{n})"  # noqa: E731

ORACLE_DIFF_IN_DIFF = f"""
WITH ev AS (
  SELECT event_type,
         user_id % {DID_TREAT_MOD} = 0 AS treat,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
         value
  FROM events
),
mid AS (
  SELECT CAST(floor((min(ts_s) + max(ts_s)) / 2.0) AS BIGINT) AS mid FROM ev
),
cells AS (
  SELECT event_type, treat, ts_s > mid AS post,
         CASE WHEN treat AND ts_s > mid THEN value * {DID_UPLIFT}
              ELSE value END AS v
  FROM ev, mid
),
per_type AS (
  SELECT event_type,
       {_duck_did_cell('TRUE', 'FALSE', 't_pre')},
       {_duck_did_cell('TRUE', 'TRUE', 't_post')},
       {_duck_did_cell('FALSE', 'FALSE', 'c_pre')},
       {_duck_did_cell('FALSE', 'TRUE', 'c_post')}
  FROM cells GROUP BY event_type
)
SELECT event_type,
       {duck_rnd(_DID_MEAN('t_pre'), 4)} AS treat_pre,
       {duck_rnd(_DID_MEAN('t_post'), 4)} AS treat_post,
       {duck_rnd(_DID_MEAN('c_pre'), 4)} AS ctrl_pre,
       {duck_rnd(_DID_MEAN('c_post'), 4)} AS ctrl_post,
       {duck_rnd(f"({_DID_MEAN('t_post')} - {_DID_MEAN('t_pre')}) - ({_DID_MEAN('c_post')} - {_DID_MEAN('c_pre')})", 4)}
         AS did
FROM per_type ORDER BY event_type
"""

QUERIES["ev_diff_in_diff"] = ev_diff_in_diff
ORACLES["ev_diff_in_diff"] = ORACLE_DIFF_IN_DIFF
