"""Plan-shape assertions (SURVEY.md §5): the scale-discipline gate.

Checks the *physical plans* of the headline operators: filters reach
the parquet scans, column pruning holds, dimension joins broadcast,
top-N uses TakeOrderedAndProject, and no Python row-UDF appears in any
relational/dedup/text hot path (Arrow-batched Pandas UDFs in ANN /
multimodal are the only sanctioned Python).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


def plan_of(spark, sf_dir, name: str) -> str:
    df = entry_mod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def full_explain(spark, sf_dir, name: str) -> str:
    df = entry_mod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().toString()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    explained = full_explain(spark, sf_dir, "q6_forecast_revenue")
    # Explain truncates long filter lists — match the stable prefix.
    assert "PushedFilters: [IsNotNull(l_shipdate)" in explained
    assert "GreaterThanOrEqual(l_shipda" in explained


def test_q6_column_pruning(spark, sf_dir):
    explained = full_explain(spark, sf_dir, "q6_forecast_revenue")
    read_schema = explained.split("ReadSchema:")[-1]
    # Only the 4 needed columns of lineitem's 16 are read.
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_q5_dims_broadcast_even_when_optimizer_would_not(spark, sf_dir):
    """With auto-broadcast off (the 100 TB regime, where nothing is
    auto-small), the explicit hints must still broadcast the dims while
    the fact-fact join shuffles."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "q5_local_supplier")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastHashJoin") >= 3  # hinted dims
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan  # fact join


def test_q3_top_n_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan


def test_sort_limit_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "op_sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_no_python_row_udf_in_hot_paths(spark, sf_dir):
    """Relational, dedup, event, and text operators must stay JVM-side."""
    hot = [
        name
        for name in entry_mod.queries()
        if name.split("_")[0] in ("q1", "q3", "q5", "q6", "q10", "q18", "op", "ev", "dd", "txt")
    ]
    offenders = []
    for name in hot:
        plan = plan_of(spark, sf_dir, name)
        if "BatchEvalPython" in plan:  # row-at-a-time Python UDF node
            offenders.append(name)
    assert not offenders, f"Python row-UDFs in hot paths: {offenders}"


def test_no_exact_percentile_aggregate_anywhere(spark, sf_dir):
    """r6 verdict #1: Spark's exact `percentile` aggregate buffers an
    O(distinct-values) value→count map in ONE task at the final merge —
    an OOM at 100 TB on high-cardinality columns. Every percentile
    consumer must ride the shuffle-bounded order-statistic plan
    (functions/percentile.py); no executed plan may contain the exact
    Percentile aggregate (approx_percentile stays sanctioned)."""
    import re

    offenders = []
    for name in entry_mod.queries():
        if name.startswith("st_"):  # streaming drains execute, not plan-print
            continue
        plan = plan_of(spark, sf_dir, name)
        if re.search(r"(?<!approx_)percentile\(", plan):
            offenders.append(name)
    assert not offenders, f"exact percentile aggregate in plans: {offenders}"


def test_whole_stage_codegen_and_partial_agg(spark, sf_dir):
    import re

    df = entry_mod.queries()["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # codegen spans appear in the finalized adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen spans.
    assert re.search(r"\*\(\d+\)", plan), plan[:500]
    # Map-side combine: the aggregation must run partial → final.
    assert "partial_sum" in plan


def test_minhash_broadcasts_candidates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dd_minhash_lsh")
    assert "BroadcastHashJoin" in plan


def test_exact_dedup_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dd_exact")
    # hash-agg dedup: partial agg + one exchange + final agg (plus the
    # deliberate corpus repartition), never a join or nested loop.
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_asof_join_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ev_asof_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key pre-partitions the data so
    the join needs NO exchange — the §6 co-located-join strategy."""
    from pypers_spark.sources import load_tables

    tables = load_tables(spark, sf_dir)
    n_buckets = 8
    (
        tables["lineitem"].select("l_orderkey", "l_quantity").write
        .bucketBy(n_buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
    )
    (
        tables["orders"].select("o_orderkey", "o_totalprice").write
        .bucketBy(n_buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            spark.table("li_bucketed").l_orderkey == spark.table("ord_bucketed").o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle


def test_profile_table_single_scan(spark, sf_dir):
    """op_profile_table computes every column metric from ONE scan of
    orders (Expand feeds the multi-distinct aggregate; no per-column
    rescans)."""
    plan = plan_of(spark, sf_dir, "op_profile_table")
    import re

    scans = re.findall(r"FileScan parquet", plan)
    assert len(scans) == 1, f"expected 1 scan, plan has {len(scans)}"


def test_kmeans_broadcasts_centroids(spark, sf_dir):
    """The k-row centroid side of ann_kmeans_assign must broadcast —
    a shuffled cross join of n x k would be a 100 TB disaster."""
    plan = plan_of(spark, sf_dir, "ann_kmeans_assign")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_winnowing_single_window_sort(spark, sf_dir):
    """Winnowing's min + full-window count share one frame: exactly one
    Window node (one sort), not two."""
    plan = plan_of(spark, sf_dir, "txt_winnowing")
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 1


def test_dup_spans_no_join(spark, sf_dir):
    """The >= 2-docs gram test is a window, not a self-join: the plan
    must contain no join node at all."""
    plan = plan_of(spark, sf_dir, "dd_dup_spans")
    assert "Join" not in plan


def test_semantic_dedup_broadcasts_centroids_no_cartesian(spark, sf_dir):
    """dd_semantic_dedup: the K-row centroid table and the 1-row count
    broadcast; no cartesian product anywhere (the crossJoins are
    broadcast-nested-loop by construction)."""
    plan = plan_of(spark, sf_dir, "dd_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_bigram_score_no_cartesian_partial_agg(spark, sf_dir):
    """txt_bigram_score: model tables join back equi-keyed (no
    cartesian) and the count aggregations are partial-aggregated."""
    plan = plan_of(spark, sf_dir, "txt_bigram_score")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_ivf_nprobe_broadcasts_cells(spark, sf_dir):
    """ann_ivf_nprobe: the probed-cells list and the query vector are
    broadcast; the corpus never shuffles for the join."""
    plan = plan_of(spark, sf_dir, "ann_ivf_nprobe")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_attribution_no_cartesian(spark, sf_dir):
    """ev_attribution_linear: the purchases x views interval join is
    keyed on user_id — never a cartesian."""
    plan = plan_of(spark, sf_dir, "ev_attribution_linear")
    assert "CartesianProduct" not in plan


def test_bloom_admit_broadcasts_filter_table(spark, sf_dir):
    """Both Bloom probe semi-joins broadcast (the ≤4096-row position
    table); the exact verify join never shuffles the batch before the
    bloom pass has shrunk it."""
    plan = plan_of(spark, sf_dir, "dd_bloom_admit")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_clf_score_no_joins_at_all(spark, sf_dir):
    """The hashed-feature classifier is pure map-side hash arithmetic +
    one aggregation — a plan with any join would mean the weight lookup
    regressed to a table."""
    plan = plan_of(spark, sf_dir, "txt_clf_score")
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "HashAggregate" in plan


def test_zorder_is_one_aggregation(spark, sf_dir):
    """Morton coding is pure bit arithmetic in the scan projection; the
    only shuffle is the bucket rollup (plus the output sort)."""
    plan = plan_of(spark, sf_dir, "op_zorder")
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert j not in plan
    import re

    assert len(re.findall(r"\bExchange (?:hash|range)", plan)) <= 2


def test_knn_graph_window_shares_block_join(spark, sf_dir):
    """The per-vector rank window and the block self-join are both keyed
    within the label block — no cartesian, no Python."""
    plan = plan_of(spark, sf_dir, "ann_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_pq_refine_broadcasts_lookup_and_shortlist(spark, sf_dir):
    """ADC's K x M table broadcasts; the rerank fetch joins the
    40-row shortlist without shuffling the corpus twice."""
    plan = plan_of(spark, sf_dir, "ann_pq_refine")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_sketches_broadcast_and_stay_jvm(spark, sf_dir):
    """Sketch readouts: tiny sketch tables broadcast back, no Python,
    no cartesian joins (the qs×bins probes are broadcast NLJs over
    ≤128-row sides — bounded, sanctioned)."""
    for name in ("sk_cms_heavy", "sk_hll_distinct", "sk_kmv_distinct"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Broadcast" in plan, name  # sketch/exact sides broadcast


def test_kmv_take_ordered(spark, sf_dir):
    """min-k must plan as TakeOrderedAndProject (map-side partial
    top-k), not a global sort."""
    plan = plan_of(spark, sf_dir, "sk_kmv_distinct")
    assert "TakeOrderedAndProject" in plan


def test_incremental_join_broadcasts_customer(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "op_incremental_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_single_join(spark, sf_dir):
    """The CDC diff is ONE full-outer join (SortMergeJoin FullOuter),
    no nested loops."""
    plan = plan_of(spark, sf_dir, "op_snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pipe_incremental_is_one_plan(spark, sf_dir):
    """The composed ingest pipeline must collapse to a single Catalyst
    plan whose scans are the documents parquet only (stage boundaries
    add no materialization)."""
    df = entry_mod.queries()["pipe_incremental"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # exactly the base + batch scans of one parquet file, nothing else
    import re

    scans = re.findall(r"FileScan parquet", plan)
    assert 1 <= len(scans) <= 2, plan[:800]


def test_fuzzy_names_block_join_no_cartesian(spark, sf_dir):
    """The edit-distance verify must ride an equi-join on the block key
    — never a cartesian across the registry."""
    plan = plan_of(spark, sf_dir, "dd_fuzzy_names")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_psi_drift_broadcasts_bounds(spark, sf_dir):
    """Split point and reference bounds are broadcast to the fact scan;
    no shuffle of events for the tagging pass."""
    plan = plan_of(spark, sf_dir, "ev_psi_drift")
    assert "Broadcast" in plan
    assert "BatchEvalPython" not in plan


def test_hll_grouped_partial_agg(spark, sf_dir):
    """Register max() must partial-aggregate map-side (the mergeable-
    sketch contract)."""
    df = entry_mod.queries()["sk_hll_grouped"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan


def test_tfidf_top_no_window(spark, sf_dir):
    """txt_tfidf_top's per-doc argmax is a min_by aggregation (map-side
    partial), not a row_number window: no Window node, and the final
    aggregate partial-aggregates."""
    plan = plan_of(spark, sf_dir, "txt_tfidf_top")
    assert "Window" not in plan
    assert "partial_min_by" in plan or "partial_" in plan


def test_q21_no_window(spark, sf_dir):
    """q21's per-order supplier counts are an aggregation (map-side
    partial, order-cardinality rows cross the exchange), not a window
    over the pair table."""
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "Window" not in plan


def test_sketch_trio_shares_gram_counts(spark, sf_dir):
    """sk_cms_heavy / sk_hll_distinct / sk_kmv_distinct all read the ONE
    persisted per-gram count table instead of re-running the tokenize +
    explode chain (InMemoryRelation in every plan), and the CMS cell
    table sums occ_cnt with partial aggregation."""
    for key in ("sk_cms_heavy", "sk_hll_distinct", "sk_kmv_distinct"):
        plan = full_explain(spark, sf_dir, key)
        assert "InMemoryRelation" in plan, key


def test_containment_broadcasts_gram_sets(spark, sf_dir):
    """dd_containment_idx: the doc-cardinality gram-set sides broadcast
    so the candidate-pair aggregation streams once (never built as a
    broadcast itself)."""
    plan = plan_of(spark, sf_dir, "dd_containment_idx")
    assert plan.count("BroadcastHashJoin") >= 2


def test_curation_metrics_no_window_pruned_scan(spark, sf_dir):
    """pipe_curation's repetition metrics: no token window remains (the
    pair list is built in-array and both metric families ride one tagged
    explode + aggregation), and the metrics branch reads a
    (doc_id, text)-pruned scan — not the full-width dedup chain."""
    plan = plan_of(spark, sf_dir, "pipe_curation")
    assert "Window" not in plan


def test_minhash_incremental_single_band_chain(spark, sf_dir):
    """dd_minhash_incremental: the base+batch band table is ONE unioned
    minhash chain probed by bucket aggregate-and-expand — no band
    self-join, no bucket-width window."""
    plan = plan_of(spark, sf_dir, "dd_minhash_incremental")
    assert "Window" not in plan
    assert plan.count("SortMergeJoin") <= 1  # only the final readout join


def test_lsh_minhash_table_checkpointed(spark, sf_dir):
    """The LSH family's n-hash minhash table is a checkpoint artifact:
    band packing reads it back instead of re-running the affine
    min-reductions per consumer."""
    explained = full_explain(spark, sf_dir, "dd_minhash_lsh_prod")
    assert "dedup.minhash_" in explained


# Registry keys allowed a range exchange outside a limit, each with the
# reason its result multiset needs a global sort. Empty: results are
# unordered unless a key is top-N, and top-N sorts sit under a limit.
RANGE_EXCHANGE_ALLOWED: dict[str, str] = {}

_LIMITS = ("GlobalLimit", "CollectLimit", "TakeOrderedAndProject")


def _range_exchanges_outside_limit(plan: str) -> list[str]:
    """Lines of a physical plan tree holding a rangepartitioning exchange
    with no limit node among their ancestors."""
    import re

    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.match(r"^[\s:+\-|]*", line)
        return m.end() if m else 0

    bad = []
    for i, line in enumerate(lines):
        if "rangepartitioning" not in line:
            continue
        d, under_limit = depth(line), False
        for prev in reversed(lines[:i]):
            if depth(prev) < d:
                d = depth(prev)
                if any(name in prev for name in _LIMITS):
                    under_limit = True
                    break
        if not under_limit:
            bad.append(line[depth(line):])
    return bad


def test_range_exchange_helper_sees_limits():
    plan = "\n".join([
        "GlobalLimit 10",
        "+- Sort [k ASC], true",
        "   +- Exchange rangepartitioning(k ASC, 32)",
        "      +- Scan",
    ])
    assert _range_exchanges_outside_limit(plan) == []
    bare = "Sort [k ASC], true\n+- Exchange rangepartitioning(k ASC, 32)\n   +- Scan"
    assert _range_exchanges_outside_limit(bare) == ["Exchange rangepartitioning(k ASC, 32)"]


@pytest.mark.parametrize("key", sorted(entry_mod.queries()))
def test_no_range_exchange_outside_limit(spark, sf_dir, key):
    """Ordering is a readout concern: a global sort (range-sampling job
    plus range exchange) stays only where it changes the result
    multiset, under a limit, or for an allow-listed key."""
    if key in RANGE_EXCHANGE_ALLOWED:
        pytest.skip(RANGE_EXCHANGE_ALLOWED[key])
    assert _range_exchanges_outside_limit(plan_of(spark, sf_dir, key)) == [], key


def test_cell_expansion_spread(spark, sf_dir):
    """dd_semantic_dedup / ann_knn_graph_cells: the within-cell pair
    expansion reads a hash(cell) exchange, never the raw cached
    assignment table — AQE coalesces the tiny cache by BYTES and would
    otherwise serialize the C(k,2) cosine work onto one core."""
    for key in ("dd_semantic_dedup", "ann_knn_graph_cells"):
        plan = plan_of(spark, sf_dir, key)
        assert "hashpartitioning(cell" in plan, key


def test_phash_hamming_single_word(spark, sf_dir):
    """mm_phash_pairs (r12): the Hamming verify is one xor+bit_count on
    pre-parsed 64-bit values — no per-nibble substring/conv chain may
    reappear (it ran per EXPANDED band pair below the distinct)."""
    import re

    plan = plan_of(spark, sf_dir, "mm_phash_pairs")
    assert "bit_count" in plan
    # nibble form: conv(substring(<col>, i, 1), 16, 10)
    assert re.search(r"substring\([^()]*, \d+, 1\), 16, 10", plan) is None


def test_no_heavy_subtree_inside_lambda_bodies(spark, sf_dir):
    """pipe_curation (r12): project collapsing must not re-inline the
    tokenize chain into a per-element lambda body (it re-tokenized the
    doc twice per token pair — O(tokens²)). The audit helper flags any
    regex/split/hash call inside a lambdafunction body."""
    from tools.lambda_inline_audit import audit_plan

    df = entry_mod.queries()["pipe_curation"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert audit_plan(plan) == []
