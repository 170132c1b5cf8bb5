"""Semantic property tests for round-2 operators — invariants the
value-oracle comparison can't express (cross-operator consistency,
structural properties of results)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_dd_cluster_is_transitive_closure(spark, sf_dir, qs):
    """Every near-dup pair's two members land in the SAME cluster, and
    cluster ids are the min member id (canonical labeling). Runs on the
    τ=0.3 variants — at the production τ=0.9 this corpus has no pairs,
    which would make the loop below vacuous."""
    pairs = qs["dd_embedding_cos_t03"](spark, sf_dir).select("id_a", "id_b").collect()
    assert pairs, "τ=0.3 must yield near-dup pairs on this corpus"
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in qs["dd_cluster_t03"](spark, sf_dir).collect()
    }
    for r in pairs:
        assert clusters[r["id_a"]] == clusters[r["id_b"]]
    # canonical min-id labels
    import collections

    members = collections.defaultdict(list)
    for v, c in clusters.items():
        members[c].append(v)
    for c, vs in members.items():
        assert c == min(vs)


def test_ann_ivf_subset_of_brute_force_cell(spark, sf_dir, qs):
    """IVF results come from one cell and carry valid cosine values."""
    rows = qs["ann_ivf"](spark, sf_dir).collect()
    assert len({r["label"] for r in rows}) == 1  # single probed cell
    assert all(-1.0001 <= r["cos_sim"] <= 1.0001 for r in rows)


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir, qs):
    """Sketch accuracy: mean |est - exact| over candidate pairs stays
    within the binomial error of a 16-hash signature (~0.25)."""
    rows = qs["dd_minhash_est"](spark, sf_dir).collect()
    assert rows
    err = sum(abs(r["est_jaccard"] - r["jaccard"]) for r in rows) / len(rows)
    assert err < 0.25, f"mean |est-exact| = {err}"


def test_session_window_matches_lag_sessionizer_off_boundary(spark, sf_dir, qs):
    """Native session_window and the lag+cumsum sessionizer agree on
    session counts (boundary-exact events are measure-zero here)."""
    sw = qs["ev_session_window"](spark, sf_dir)
    lag = qs["ev_sessionize"](spark, sf_dir)
    assert abs(sw.count() - lag.count()) <= 2


def test_upsert_actions_partition_output(spark, sf_dir, qs):
    """Every merged row carries exactly one action, and update rows
    combine both sides' counts."""
    rows = qs["op_upsert"](spark, sf_dir).collect()
    actions = {r["merge_action"] for r in rows}
    assert actions <= {"insert", "update", "carry"}
    assert all(r["n_orders"] >= 1 for r in rows)


def test_validity_intervals_partition_time(spark, sf_dir, qs):
    """SCD2 rows per user are contiguous: valid_to of row i equals
    valid_from of row i+1; the last row is open-ended."""
    rows = sorted(
        qs["op_validity_intervals"](spark, sf_dir).collect(),
        key=lambda r: (r["user_id"], r["valid_from"]),
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user_rows in by_user.values():
        for a, b in zip(user_rows, user_rows[1:]):
            assert a["valid_to"] == b["valid_from"]
        assert user_rows[-1]["valid_to"] is None


def test_incremental_dedup_admits_only_new(spark, sf_dir, qs):
    """No admitted fingerprint exists in the base corpus."""
    from pypers_spark.sources import load_tables
    from pypers_spark.functions.text import normalize_text

    tables = load_tables(spark, sf_dir)
    base = {
        r["fp"]
        for r in tables["documents"]
        .select(F.md5(normalize_text(F.col("text"))).alias("fp"))
        .collect()
    }
    admitted = qs["dd_incremental"](spark, sf_dir).collect()
    assert admitted
    assert all(r["fp"] not in base for r in admitted)


def test_rolling_wau_at_least_dau(spark, sf_dir, qs):
    rows = qs["ev_rolling_wau"](spark, sf_dir).collect()
    assert rows
    assert all(r["wau"] >= r["dau"] for r in rows)


def test_date_spine_is_gapless(spark, sf_dir, qs):
    rows = sorted(qs["op_date_spine"](spark, sf_dir).collect(), key=lambda r: r["day"])
    days = [r["day"] for r in rows]
    for a, b in zip(days, days[1:]):
        assert (b - a).days == 1
    assert any(r["n_orders"] > 0 for r in rows)
