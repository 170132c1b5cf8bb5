"""Round-6 analytics wave: gate parity + semantic invariants for the
evaluation/distribution operators (pypers_spark/operators/analytics.py)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from pypers_spark.operators import analytics as A

NEW_KEYS = (
    "ev_survival_km",
    "ev_auc_score",
    "ev_activity_gini",
    "ev_streaks",
    "ev_changepoint",
    "ev_stickiness",
    "sk_bitmap_distinct",
    "op_largest_remainder",
    "txt_token_entropy",
)


@pytest.mark.parametrize("key", NEW_KEYS)
def test_gate_parity(spark, duck, sf_dir, key):
    from tests.oracle_check import check_query

    assert check_query(spark, duck, key, sf_dir) == []


def test_survival_monotone_nonincreasing(tables):
    rows = sorted(A.ev_survival_km(tables).collect(), key=lambda r: r["duration_h"])
    assert rows, "KM table must be non-empty"
    surv = [r["survival"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(0.0 <= s <= 1.0 for s in surv)
    # at-risk counts strictly decrease along the duration axis
    risk = [r["n_at_risk"] for r in rows]
    assert all(a > b for a, b in zip(risk, risk[1:]))


def test_auc_perfect_separation(spark):
    # label == (user_id % 2 == 0); give even users strictly higher
    # scores -> AUC must be exactly 1, odd-dominant ordering -> 0.
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base, i, "t", float(100 + i) if i % 2 == 0 else float(i), "{}")
        for i in range(40)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = A.ev_auc_score({"events": ev}).collect()
    assert len(out) == 1 and out[0]["auc"] == 1.0


def test_bitmap_distinct_equals_true_distinct(tables, spark):
    got = {
        r["event_type"]: r["n_users"]
        for r in A.sk_bitmap_distinct(tables).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in tables["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_largest_remainder_exhausts_budget(tables):
    out = A.op_largest_remainder(tables).collect()
    assert sum(r["quota"] for r in out) == A.SAMPLE_BUDGET
    # proportionality: quota within 1 of the exact share
    total = sum(r["docs"] for r in out)
    for r in out:
        exact = A.SAMPLE_BUDGET * r["docs"] / total
        assert abs(r["quota"] - exact) < 1.0


def test_streaks_known_chain(spark):
    # user 1: days 1,2,3 then 7,8 -> longest 3, 2 streaks, 1 long one;
    # user 2: single day -> longest 1.
    base = datetime.datetime(2024, 1, 1)

    def ev(i, uid, day):
        return (i, base + datetime.timedelta(days=day), uid, "t", 0.0, "{}")

    rows = [ev(0, 1, 1), ev(1, 1, 2), ev(2, 1, 3), ev(3, 1, 7), ev(4, 1, 8), ev(5, 2, 4)]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r["user_id"]: r for r in A.ev_streaks({"events": events}).collect()}
    assert out[1]["longest_streak"] == 3
    assert out[1]["n_streaks"] == 2
    assert out[1]["n_long"] == 1
    assert out[2]["longest_streak"] == 1


def test_changepoint_finds_injected_shift(spark):
    # 10 days at ~2/day then 10 days at ~8/day for one type: the best
    # split must land at the boundary day with the right means.
    base = datetime.datetime(2024, 1, 1)
    rows = []
    k = 0
    for d in range(20):
        n = 2 if d < 10 else 8
        for j in range(n):
            rows.append((k, base + datetime.timedelta(days=d, hours=j), 7, "x", 0.0, "{}"))
            k += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = A.ev_changepoint({"events": events}).collect()
    assert len(out) == 1
    r = out[0]
    assert r["split_day"] == datetime.date(2024, 1, 10)
    assert r["mean_before"] == 2.0 and r["mean_after"] == 8.0


def test_token_entropy_bounds(tables):
    rows = A.txt_token_entropy(tables).collect()
    assert rows
    for r in rows:
        # 0 <= H <= ln(n_types) <= ln(n_tokens), with rnd4 slack
        import math

        assert -1e-4 <= r["entropy"] <= math.log(max(r["n_types"], 1)) + 1e-4
        assert r["n_types"] <= r["n_tokens"]


WAVE2_KEYS = ("op_scd2_build", "ev_ltv_cohort")


@pytest.mark.parametrize("key", WAVE2_KEYS)
def test_gate_parity_wave2(spark, duck, sf_dir, key):
    from tests.oracle_check import check_query

    assert check_query(spark, duck, key, sf_dir) == []


def test_scd2_intervals_tile(tables):
    # Versions per user must tile: valid_from strictly increases,
    # valid_to == next valid_from, exactly one current (NULL) row.
    rows = A.op_scd2_build(tables).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r["valid_to"] is None for r in vs) == 1
        assert vs[-1]["valid_to"] is None and vs[-1]["is_current"]
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["tier"] != b["tier"]


def test_ltv_cumulative_monotone(tables):
    rows = A.ev_ltv_cohort(tables).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], []).append(r)
    for vs in by_cohort.values():
        vs.sort(key=lambda r: r["offset"])
        cum = [r["cum_revenue"] for r in vs]
        assert all(a <= b for a, b in zip(cum, cum[1:]))
        assert all(r["ltv_per_user"] <= r["cum_revenue"] for r in vs)


def test_gate_parity_pipe_eval(spark, duck, sf_dir):
    from tests.oracle_check import check_query

    assert check_query(spark, duck, "pipe_eval", sf_dir) == []


def test_pipe_eval_prunes_low_entropy(spark, tables, sf_dir):
    # The rollup counts only docs at or above the threshold; the pruned
    # fraction must be strictly between 0 and 1 (non-vacuous gate).
    kept = sum(r["n_docs"] for r in A.pipe_eval(tables).collect())
    total = tables["documents"].count()
    assert 0 < kept < total


def test_gate_parity_did(spark, duck, sf_dir):
    from tests.oracle_check import check_query

    assert check_query(spark, duck, "ev_diff_in_diff", sf_dir) == []


def test_did_recovers_injected_uplift(tables):
    # With the x1.5 injection, DiD should approximate 0.5 x the
    # treated-pre mean (exactly, up to natural pre/post drift).
    for r in A.ev_diff_in_diff(tables).collect():
        expected = 0.5 * r["treat_post"] / A.DID_UPLIFT  # 0.5 x raw treated-post mean
        # loose band: natural drift between periods, but the effect must
        # be positive and in the right order of magnitude
        assert r["did"] > 0
        assert 0.2 * expected < r["did"] < 3.0 * expected


def test_gate_parity_phash(spark, duck, sf_dir):
    from tests.oracle_check import check_query

    assert check_query(spark, duck, "mm_image_phash", sf_dir) == []


def test_dhash_known_image():
    # 9x8 gradient image: gray strictly increases left->right in every
    # row -> every bit set -> "ff" x 8; reversed -> all zero.
    from pypers_spark.multimodal import dhash_ppm, encode_ppm

    w, h = 9, 8
    inc = bytes(bytearray(v for y in range(h) for x in range(w) for v in (x * 20,) * 3))
    wid, hei, ph = dhash_ppm(encode_ppm(w, h, inc))
    assert (wid, hei, ph) == (9, 8, "ff" * 8)
    dec = bytes(bytearray(v for y in range(h) for x in range(w) for v in ((8 - x) * 20,) * 3))
    assert dhash_ppm(encode_ppm(w, h, dec))[2] == "00" * 8


def test_phash_groups_identical_content(tables, spark):
    # n_same is the size of each hash group; sum over distinct hashes
    # must equal total images.
    from pypers_spark.operators.text import mm_image_phash

    rows = mm_image_phash(tables).collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["phash"], set()).add(r["n_same"])
    for ph, sizes in groups.items():
        assert len(sizes) == 1  # consistent group size per hash
    assert sum(next(iter(s)) for s in groups.values()) == len(rows)
