"""Semantic property tests for the round-4e wave (sketches, incremental
maintenance, BFS, rate limit, snapshot diff, pipe_incremental) —
invariants the value-oracle comparison can't express."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_cms_overestimates_only(spark, sf_dir, qs):
    """Count-Min's one-sided guarantee: est ≥ exact for every probed
    heavy hitter, and the probe set is exactly the top-k."""
    rows = qs["sk_cms_heavy"](spark, sf_dir).collect()
    assert rows, "heavy-hitter probe set must be non-empty"
    for r in rows:
        assert r["est"] >= r["exact"]
        assert r["overest"] == r["est"] - r["exact"]


def test_hll_and_kmv_land_near_exact(spark, sf_dir, qs):
    """Both cardinality sketches stay within their theoretical error
    envelopes (generous 3σ bounds: HLL 1.04/√64 ≈ 13%, KMV ~1/√62)."""
    hll = qs["sk_hll_distinct"](spark, sf_dir).collect()[0]
    assert hll["n_exact"] > 0
    assert hll["rel_err"] <= 3 * 1.04 / 8.0
    kmv = qs["sk_kmv_distinct"](spark, sf_dir).collect()[0]
    assert kmv["k"] >= 1
    if kmv["k"] == 64:  # estimator only valid once the sketch is full
        assert kmv["rel_err"] <= 3 * 1.0 / 7.87
    assert kmv["kth_min_hash"] > 0


def test_hist_quantile_brackets_exact(spark, sf_dir, qs):
    """Histogram interpolation error is bounded by one bin width."""
    rows = {r["q"]: r for r in qs["sk_hist_quantile"](spark, sf_dir).collect()}
    assert set(rows) == {0.5, 0.95, 0.99}
    # bin width = (max-min)/128; est must sit within one bin of exact
    t = entry_mod.queries()["sk_hist_quantile"]
    from pypers_spark.sources import load_tables

    tables = load_tables(spark, sf_dir)
    b = tables["orders"].agg(
        ((F.max("o_totalprice") - F.min("o_totalprice")) / 128).alias("w")
    ).collect()[0]["w"]
    for q, r in rows.items():
        assert abs(r["est"] - r["exact"]) <= b + 1e-6, (q, r, b)


def test_incremental_join_quadrants_cover(spark, sf_dir, qs):
    """Every populated nation's row merged partials from ≥1 quadrant and
    never more than 4; totals are positive."""
    rows = qs["op_incremental_join"](spark, sf_dir).collect()
    assert rows
    assert any(r["n_quadrants"] >= 2 for r in rows), (
        "delta decomposition should genuinely merge multiple partials"
    )
    for r in rows:
        assert 1 <= r["n_quadrants"] <= 4
        assert r["n_orders"] > 0 and r["revenue"] > 0


def test_compaction_plan_conserves_and_packs(spark, sf_dir, qs, tables):
    """The plan conserves rows and respects the first-fit invariant:
    every output file except a partition's last holds < target + one
    input file of bytes."""
    rows = qs["op_compaction_plan"](spark, sf_dir).collect()
    total_rows = sum(r["n_rows"] for r in rows)
    assert total_rows == tables["orders"].count()
    from pypers_spark.operators.incremental import TARGET_BYTES

    by_month: dict = {}
    for r in rows:
        by_month.setdefault(r["p_month"], []).append(r)
    for month, files in by_month.items():
        bins = sorted(f["out_file"] for f in files)
        assert bins == list(range(len(bins))), "bin ids must be dense from 0"


def test_target_encode_no_leakage_constant_category(spark, tables):
    """LOO sanity on a category with identical targets: the encoding of
    every row must still exclude its own value — mean_enc differs from
    the raw category mean toward the prior."""
    rows = {
        r["event_type"]: r
        for r in entry_mod.queries()["op_target_encode"](
            tables["events"].sparkSession, tables._sf_dir
        ).collect()
    }
    raw = {
        r["event_type"]: r["m"]
        for r in tables["events"]
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
        .collect()
    }
    # smoothing pulls toward the global prior: encoded mean sits between
    # the raw category mean and the global mean for at least one type
    glob = tables["events"].agg(F.avg("value")).collect()[0][0]
    moved = [
        abs(rows[k]["mean_enc"] - raw[k]) > 1e-9
        for k in rows
        if abs(raw[k] - glob) > 1e-6
    ]
    assert any(moved), "smoothed LOO encoding should differ from raw means"


def test_snapshot_diff_classes_partition_keyspace(spark, sf_dir, qs, tables):
    """added/removed/changed/unchanged counts must exactly tile the
    key universe of both versions."""
    rows = {r["change_type"]: r for r in qs["op_snapshot_diff"](spark, sf_dir).collect()}
    n = tables["orders"].count()
    from pypers_spark.operators.incremental import DEL_MOD, INS_MOD

    n_removed = tables["orders"].filter(F.col("o_orderkey") % DEL_MOD == 0).count()
    n_added = tables["orders"].filter(F.col("o_orderkey") % INS_MOD == 0).count()
    assert rows["removed"]["n_rows"] == n_removed
    assert rows["added"]["n_rows"] == n_added
    assert (
        rows["changed"]["n_rows"] + rows["unchanged"]["n_rows"]
        == n - n_removed
    )
    assert rows["added"]["value_drift"] > 0  # inserts add value
    assert rows["removed"]["value_drift"] < 0  # deletes remove it
    assert rows["changed"]["value_drift"] > 0  # +10% reprices


def test_bfs_distances_monotone_and_seeded(spark, sf_dir, qs):
    """Hop histogram: dist 0 count equals the seed count; every dist is
    within 0..3."""
    rows = {r["dist"]: r for r in qs["gr_bfs_reach"](spark, sf_dir).collect()}
    from pypers_spark.operators.graph import BFS_SEED_MOD

    from pypers_spark.sources import load_tables

    tables = load_tables(spark, sf_dir)
    n_seeds = tables["embeddings"].filter(
        F.col("vec_id") % BFS_SEED_MOD == 0
    ).count()
    assert rows[0]["n_nodes"] == n_seeds
    assert all(0 <= d <= 3 for d in rows)


def test_rate_limit_flags_consistent(spark, sf_dir, qs):
    """Throttle accounting: n_throttled ≤ n_events, max_burst ≥ 1, and
    a type with throttles must have max_burst above the cap."""
    from pypers_spark.operators.events_extra import RL_MAX_PER_WINDOW

    for r in qs["ev_rate_limit"](spark, sf_dir).collect():
        assert 0 <= r["n_throttled"] <= r["n_events"]
        assert r["max_burst"] >= 1
        if r["n_throttled"] > 0:
            assert r["max_burst"] > RL_MAX_PER_WINDOW


def test_pipe_incremental_accounting_tiles_batch(spark, sf_dir, qs):
    """Per source: dup + quality-drop + admitted == batch size."""
    rows = qs["pipe_incremental"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["n_exact_dup"] + r["n_quality_drop"] + r["n_admitted"]
            == r["n_batch"]
        )
    # both rejection paths fire somewhere on the corpus
    assert any(r["n_exact_dup"] > 0 for r in rows)
    assert any(r["n_admitted"] > 0 for r in rows)


def test_join_cardinality_overestimates_within_bound(spark, sf_dir, qs, tables):
    """CMS inner product: est ≥ exact for EVERY depth, and the error
    stays within ~3x the theoretical N_a·N_b/width bound."""
    rows = qs["sk_join_cardinality"](spark, sf_dir).collect()
    assert len(rows) == 4
    from pypers_spark.operators.sketches import JC_WIDTH

    na = tables["events"].count()
    nb = tables["orders"].count()
    bound = na * nb / JC_WIDTH
    for r in rows:
        assert r["overest"] >= 0
        assert r["overest"] <= 3 * bound + 1, (r, bound)


def test_zone_map_clustered_beats_hash(spark, sf_dir, qs):
    """The value-clustered layout must prune strictly more files than
    the hash layout (which should prune ~none)."""
    rows = {r["layout"]: r for r in qs["op_zone_map_prune"](spark, sf_dir).collect()}
    assert rows["clustered"]["n_skipped"] > rows["hash"]["n_skipped"]
    assert rows["clustered"]["skip_ratio"] >= 0.5


def test_psi_drift_flags_only_injected_type(spark, sf_dir, qs):
    """The injected-drift type crosses the PSI threshold and carries the
    LARGEST PSI (at tiny test scale factors the stationary types are
    sampling-noisy, so the ordering — not an absolute cut — is the
    scale-robust invariant; at sf0.01 the stationary types sit < 0.02)."""
    from pypers_spark.operators.events_extra import PSI_DRIFT_TYPE

    rows = {r["event_type"]: r for r in qs["ev_psi_drift"](spark, sf_dir).collect()}
    assert rows[PSI_DRIFT_TYPE]["drifted"] is True
    for k, r in rows.items():
        assert r["psi"] >= 0  # PSI is nonnegative by construction
        if k != PSI_DRIFT_TYPE:
            assert r["psi"] < rows[PSI_DRIFT_TYPE]["psi"]


def test_fuzzy_names_typos_match_suffixes_do_not(spark, sf_dir, qs):
    rows = {r["kind"]: r for r in qs["dd_fuzzy_names"](spark, sf_dir).collect()}
    assert rows["typo"]["n_matched"] == rows["typo"]["n_batch"]
    assert rows["suffix"]["n_matched"] == 0
    assert rows["typo"]["min_dist"] == 1
    # blocking keeps candidate fan-out bounded (~block size per row)
    assert rows["typo"]["n_candidates"] <= rows["typo"]["n_batch"] * 12


def test_hll_grouped_linear_counting_accuracy(spark, sf_dir, qs):
    """The grouped sketch must sit in the linear-counting regime on this
    corpus and land within 5% of exact."""
    for r in qs["sk_hll_grouped"](spark, sf_dir).collect():
        assert r["rel_err"] <= 0.05, r


def test_k_anonymity_risky_rows_consistent(spark, sf_dir, qs):
    from pypers_spark.operators.incremental import KANON_K

    for r in qs["op_k_anonymity"](spark, sf_dir).collect():
        assert r["n_risky_classes"] <= r["n_classes"]
        if r["min_class_size"] >= KANON_K:
            assert r["n_risky_classes"] == 0
        else:
            assert r["n_risky_classes"] >= 1
        assert r["n_risky_rows"] < KANON_K * max(r["n_risky_classes"], 1) or (
            r["n_risky_classes"] == 0 and r["n_risky_rows"] == 0
        )


def test_radius_join_deciles_within_radius(spark, sf_dir, qs):
    """Every matched pair sits inside the radius; decile edges are
    consistent; pair density grows with distance (ring area ~ r)."""
    from pypers_spark.operators.geo import RADIUS_KM

    rows = sorted(qs["gs_radius_join"](spark, sf_dir).collect(), key=lambda r: r["dist_decile"])
    assert rows, "the synthetic box must contain pairs within the radius"
    for r in rows:
        assert 0 <= r["dist_decile"] <= 9
        assert 0 <= r["min_km"] <= r["max_km"] <= RADIUS_KM
        lo = r["dist_decile"] * RADIUS_KM / 10
        hi = lo + RADIUS_KM / 10
        assert lo <= r["min_km"] and r["max_km"] <= hi + 1e-9
    if len(rows) >= 5:
        # outer rings hold more pairs than inner ones on uniform points
        assert rows[-1]["n_pairs"] > rows[0]["n_pairs"]


def test_grid_cells_cover_points(spark, sf_dir, qs, tables):
    """Top-k densest cells are valid cells of the synthesis box."""
    from pypers_spark.operators.geo import CELL_DEG, LAT0, LAT_SPAN, LON0, LON_SPAN

    for r in qs["gs_grid_cells"](spark, sf_dir).collect():
        assert LAT0 / CELL_DEG <= r["cell_y"] < (LAT0 + LAT_SPAN) / CELL_DEG
        assert LON0 / CELL_DEG <= r["cell_x"] < (LON0 + LON_SPAN) / CELL_DEG
        assert r["n_points"] >= 1


def test_kmv_set_ops_bounds(spark, sf_dir, qs):
    """Set-op estimates stay positive; union est within the KMV error
    envelope; exact intersection ≤ exact union."""
    r = qs["sk_kmv_set_ops"](spark, sf_dir).collect()[0]
    assert 0 < r["exact_inter"] <= r["exact_union"]
    assert r["est_union"] > 0 and r["est_inter"] >= 0
    if r["k"] == 64:
        assert r["union_rel_err"] <= 3 * 1.0 / 7.87


def test_cooccurrence_consistent_with_supports(spark, sf_dir, qs):
    """pair_supp ≤ min(supp_a, supp_b); lift positive; pairs ordered."""
    rows = qs["ev_cooccurrence"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert r["pair_supp"] <= min(r["supp_a"], r["supp_b"])
        assert r["lift"] > 0


def test_streaming_cms_equals_batch_probe_cells(spark, sf_dir, qs, tables):
    """The streaming-drained CMS cells must total depth × n_events —
    conservation of probes across micro-batches."""
    from pypers_spark.operators.sketches import CMS_DEPTH

    rows = qs["st_cms_cells"](spark, sf_dir).collect()
    total = sum(r["cell_cnt"] for r in rows)
    assert total == CMS_DEPTH * tables["events"].count()


def test_pack_sequences_efficiency_bounds(spark, sf_dir, qs):
    """Packing efficiency ∈ (0, 1]; waste < one context per shard;
    straddling docs can't exceed sequence boundaries crossed."""
    from pypers_spark.operators.training import PACK_CTX

    rows = qs["txt_pack_sequences"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["packing_efficiency"] <= 1
        waste = r["n_sequences"] * PACK_CTX - r["total_tokens"]
        assert 0 <= waste < PACK_CTX
        assert 0 <= r["n_straddling"] <= r["n_docs"]


def test_curriculum_stages_tile_corpus(spark, sf_dir, qs, tables):
    """Stages partition the corpus; score bands are ordered."""
    rows = sorted(qs["txt_curriculum_stages"](spark, sf_dir).collect(), key=lambda r: r["stage"])
    assert sum(r["n_docs"] for r in rows) == tables["documents"].count()
    for prev, cur in zip(rows, rows[1:]):
        assert prev["max_score"] <= cur["min_score"] + 1e-9
        assert prev["stage"] < cur["stage"]


def test_interval_overlap_days_positive(spark, sf_dir, qs):
    """Every reported overlap is ≥1 day and bounded by the shorter
    interval's length."""
    from pypers_spark.operators.incremental import IVL_A_DAYS, IVL_B_DAYS

    rows = qs["op_interval_overlap"](spark, sf_dir).collect()
    assert rows
    cap = min(IVL_A_DAYS, IVL_B_DAYS) + 1
    for r in rows:
        assert r["n_overlaps"] >= 1
        assert r["max_overlap_days"] <= cap
        assert r["total_overlap_days"] >= r["n_overlaps"]  # ≥1 day each


def test_ks_stat_in_unit_interval(spark, sf_dir, qs):
    r = qs["sk_ks_stat"](spark, sf_dir).collect()[0]
    assert 0 <= r["ks_d"] <= 1
    assert r["n_a"] > 0 and r["n_b"] > 0


def test_batch_topk_per_query_invariants(spark, sf_dir, qs):
    """Each query yields ≤ k ranked neighbors, ranks dense from 1,
    cosine non-increasing within a query, never the query itself."""
    import collections

    from pypers_spark.operators.similarity import BATCH_TOP_K

    by_q = collections.defaultdict(list)
    collected = qs["ann_batch_topk"](spark, sf_dir).collect()
    for r in sorted(collected, key=lambda r: (r["query_id"], r["rank"])):
        by_q[r["query_id"]].append(r)
    assert by_q
    for q, rows in by_q.items():
        assert len(rows) <= BATCH_TOP_K
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] != q for r in rows)


def test_chunk_dedup_catches_perturbed_copies(spark, sf_dir, qs):
    """On the dedup corpus fixture every source has removable chunks
    (each perturbed doc's chunks collide with the original's), and the
    accounting is internally consistent."""
    rows = qs["dd_chunk_exact"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_removable"] == r["n_chunks"] - r["n_unique"]
        assert r["n_removable"] > 0
        assert r["n_in_dup_groups"] >= r["n_removable"]


def test_filtered_ann_pre_beats_post(spark, sf_dir, qs):
    """Pre-filtering always fills k; post-filtering returns at most k
    and its worst survivor is no worse than pre's (it comes from the
    unfiltered global top-k)."""
    rows = {r["strategy"]: r for r in qs["ann_filtered_topk"](spark, sf_dir).collect()}
    from pypers_spark.operators.similarity import FILT_K

    assert rows["pre_filter"]["k_returned"] == FILT_K
    assert rows["post_filter"]["k_returned"] <= FILT_K
    assert rows["post_filter"]["min_cos"] >= rows["pre_filter"]["min_cos"] - 1e-9


def test_bot_detect_finds_exactly_injected(spark, sf_dir, qs):
    from pypers_spark.operators.events_extra import BOT_N_USERS, BOT_TICKS

    rows = {r["is_bot"]: r for r in qs["ev_bot_detect"](spark, sf_dir).collect()}
    assert rows[True]["n_users"] == BOT_N_USERS
    assert rows[True]["n_events_total"] == BOT_N_USERS * BOT_TICKS
    assert rows[True]["avg_gap_var"] == 0.0  # perfect metronomes
    assert rows[False]["avg_gap_var"] > 0


def test_source_overlap_jaccard_valid(spark, sf_dir, qs):
    """Jaccard ∈ (0,1]; intersection ≤ both vocabulary sizes; ordering
    is by descending similarity."""
    rows = qs["dd_source_overlap"](spark, sf_dir).collect()
    assert rows
    sims = [r["jaccard"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        assert 0 < r["jaccard"] <= 1
        assert r["n_inter"] <= min(r["na"], r["nb"])


def test_slo_report_percentiles_ordered(spark, sf_dir, qs):
    rows = qs["ev_slo_report"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["p50"] <= r["p95"] <= r["p99"]
        from pypers_spark.operators.events_extra import SLO_P95_MAX

        assert r["slo_breach"] == (r["p95"] > SLO_P95_MAX)


def test_dsr_export_covers_subject_tables(spark, sf_dir, qs, tables):
    from pypers_spark.operators.incremental import DSR_MOD

    rows = {r["table_name"]: r for r in qs["op_dsr_export"](spark, sf_dir).collect()}
    assert set(rows) == {"customer", "events", "orders"}
    n_cust = tables["customer"].filter(F.col("c_custkey") % DSR_MOD == 3).count()
    assert rows["customer"]["n_rows"] == n_cust == rows["customer"]["n_subjects"]
    assert rows["events"]["earliest"] <= rows["events"]["latest"]


def test_error_budget_monotone_burn(spark, sf_dir, qs):
    rows = sorted(qs["ev_error_budget"](spark, sf_dir).collect(), key=lambda r: r["day"])
    assert rows
    burns = [r["budget_burned"] for r in rows]
    assert burns == sorted(burns)  # cumulative burn is monotone
    assert all(0 <= r["day_error_rate"] <= 1 for r in rows)


def test_benford_chi2_terms_consistent(spark, sf_dir, qs):
    """Digits 1-9 all present; shares sum to 1; chi2 terms nonnegative;
    the synthetic corpus deviates from Benford (that's the detection)."""
    rows = sorted(qs["op_benford_check"](spark, sf_dir).collect(), key=lambda r: r["d"])
    assert [r["d"] for r in rows] == list(range(1, 10))
    assert abs(sum(r["observed"] for r in rows) - 1.0) < 1e-3
    assert all(r["chi2_term"] >= 0 for r in rows)
    assert sum(r["chi2_term"] for r in rows) > 0.05  # loudly non-Benford


def test_table_checksum_detects_mutation(spark, sf_dir, qs, tables):
    """The checksum must CHANGE when a row changes: recompute orders'
    checksum with one value perturbed and compare."""
    from pypers_spark.functions.hashing import md5_int64

    rows = {r["table_name"]: r for r in qs["op_table_checksum"](spark, sf_dir).collect()}
    assert rows["orders"]["n_rows"] == tables["orders"].count()
    key = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    mutated = tables["orders"].agg(
        F.sum(md5_int64(key) % F.lit(1 << 40)).alias("checksum")
    ).collect()[0]["checksum"]
    assert mutated != rows["orders"]["checksum"]


def test_split_leakage_detects_cross_split_dups(spark, sf_dir, qs):
    rows = qs["txt_split_leakage"](spark, sf_dir).collect()
    assert any(r["leaked"] for r in rows), "corpus fixture must leak"
    assert any(not r["leaked"] for r in rows)
    for r in rows:
        assert r["leaked"] == ("+" in r["splits"])
        assert r["n_docs"] >= r["n_groups"]


def test_concurrency_bounded_by_population(spark, sf_dir, qs, tables):
    rows = qs["ev_concurrency"](spark, sf_dir).collect()
    assert rows
    n_users = tables["events"].select("user_id").distinct().count()
    for r in rows:
        assert 1 <= r["n_active_users"] <= n_users
        assert r["n_active_sessions"] >= r["n_active_users"]  # sessions ≥ users active
