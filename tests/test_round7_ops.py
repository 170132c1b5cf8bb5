"""Round-7 hardening: scale-safe exact percentiles + executor-loss
resilience evidence (r6 verdict items #1 and #4)."""

from __future__ import annotations

import subprocess
import sys

from pyspark.sql import functions as F


def test_exact_percentiles_bitwise_vs_spark_aggregate(spark, sf_dir):
    """The shuffle-bounded plan must be BIT-identical to F.percentile
    (same position formula + short-circuits), grouped and global,
    double and integer columns — not merely equal after rounding."""
    from pypers_spark.functions.percentile import exact_percentiles
    from pypers_spark.sources import load_tables

    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    qs = (0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    ref = li.groupBy("l_returnflag").agg(
        *[F.percentile(F.col("l_extendedprice"), F.lit(q)).alias(f"q{i}") for i, q in enumerate(qs)]
    )
    got = exact_percentiles(
        li, "l_extendedprice", [(q, f"q{i}") for i, q in enumerate(qs)],
        group_cols=["l_returnflag"],
    )
    ref_rows = {r["l_returnflag"]: tuple(r)[1:] for r in ref.collect()}
    got_rows = {r["l_returnflag"]: tuple(r)[1:] for r in got.collect()}
    assert ref_rows == got_rows
    # integer-typed column, global (n=1-per-value heavy) — still bitwise
    ev_ref = t["events"].agg(F.percentile(F.col("user_id"), F.lit(0.37)).alias("p")).collect()[0]["p"]
    ev_got = exact_percentiles(t["events"], "user_id", [(0.37, "p")]).collect()[0]["p"]
    assert ev_ref == ev_got


def test_exact_percentiles_partial_aggregation_in_plan(spark, sf_dir):
    """The scale property itself: the counting pass must partial-agg
    map-side (Spark's exact percentile aggregate can't — its partial
    state IS the full value map), and no exact percentile aggregate may
    appear anywhere in the plan."""
    import re

    from pypers_spark.functions.percentile import exact_percentiles
    from pypers_spark.sources import load_tables

    t = load_tables(spark, sf_dir)
    df = exact_percentiles(
        t["events"], "value", [(0.5, "p50")], group_cols=["event_type"]
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert not re.search(r"(?<!approx_)percentile\(", plan)


def _docs_df(spark, rows):
    """documents-shaped frame: (doc_id, text, lang, source, n_chars)."""
    return spark.createDataFrame(
        [(i, txt, "en", src, n) for (i, txt, src, n) in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_cdc_chunks_survive_a_shifting_edit(spark):
    """The design property that motivates dd_chunk_cdc: a one-token
    insertion at the top of a document shifts EVERY fixed-stride chunk
    (dd_chunk_exact loses all downstream chunk identity) but only the
    chunk it lands in under content-defined boundaries — later chunks
    re-synchronize, so the CDC dup-yield on a drifted near-dup pair is
    dramatically higher than the fixed-stride yield on the same pair."""
    from pypers_spark.operators.training import dd_chunk_cdc, dd_chunk_exact

    base = " ".join(f"tok{i * 7919 % 4096:x}" for i in range(200))
    shifted = "zzz " + base
    t = {
        "documents": _docs_df(
            spark,
            [(1, base, "s", len(base)), (2, shifted, "s", len(shifted))],
        )
    }
    cdc = dd_chunk_cdc(t).collect()[0]
    fixed = dd_chunk_exact(t).collect()[0]
    # corpus() adds a token-identical case-perturbed copy of each doc,
    # so BOTH chunkers see every chunk at least twice; only CDC also
    # matches doc1's chunks against doc2's.
    # Fixed stride: the only dup hits are the case-perturbed copies —
    # every one of doc2's chunks is new identity (dup fraction exactly
    # 1/2, i.e. zero chunks recovered across the edited pair).
    assert fixed["n_unique"] * 2 == fixed["n_chunks"]
    # CDC re-synchronizes: doc2 contributes ONLY its edited first chunk
    # as new identity — uniques collapse to one doc's worth + 1, and
    # the dup fraction rises strictly above the case-dup floor of 1/2.
    per_doc_cdc = cdc["n_chunks"] // 4  # 2 docs × case-dup
    assert cdc["n_unique"] <= per_doc_cdc + 2
    assert cdc["n_removable"] * 2 > cdc["n_chunks"]
    assert cdc["n_removable"] == cdc["n_chunks"] - cdc["n_unique"]


def test_pps_sample_slot_counts_proportional_to_size(spark):
    """op_pps_sample's systematic probes: exactly PPS_K selections per
    source, and a document holding ~90% of the weight line wins ~90%
    of the slots (18/20) — probability proportional to size, exactly,
    with integer arithmetic."""
    from pypers_spark.operators.curation_extra import PPS_K, op_pps_sample

    rows = [(i, "x", "s", 1) for i in range(10)] + [(99, "x", "s", 90)]
    out = sorted(
        op_pps_sample({"documents": _docs_df(spark, rows)}).collect(), key=lambda r: r["slot"]
    )
    assert len(out) == PPS_K
    assert [r["slot"] for r in out] == list(range(PPS_K))
    big = [r for r in out if r["doc_id"] == 99]
    # stride = 100/20 = 5; doc 99 covers [10, 100) → probes 2..19
    assert len(big) == 18


def test_anomaly_seasonal_guards_and_planted_outlier(spark):
    """ev_anomaly_seasonal: an n=1 cell yields NULL sd and zero
    anomalies (the explicit guard, not engine divide-by-zero luck); a
    populated cell flags exactly the planted extreme value."""
    from pypers_spark.operators.events_extra import ev_anomaly_seasonal

    rows = [("a", f"2024-01-01 03:00:{i:02d}", 10.0 + (i % 5) * 0.1)
            for i in range(40)]
    rows.append(("a", "2024-01-01 03:00:59", 500.0))  # planted outlier
    rows.append(("b", "2024-01-01 07:00:00", 1.0))  # n=1 cell
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["event_type"], r["hr"]): r
           for r in ev_anomaly_seasonal({"events": df}).collect()}
    a = out[("a", 3)]
    assert a["n"] == 41 and a["n_anom"] == 1
    b = out[("b", 7)]
    assert b["sd"] is None and b["n_anom"] == 0 and b["anom_rate"] == 0.0


def test_phash_pairs_band_blocking_and_hamming(spark):
    """mm_phash_pairs: identical images collide on every band and pair
    at hamming 0; unrelated images (different text, different
    gradients) never reach the verify. doc_ids chosen congruent mod
    the PPM dimension moduli so both docs render at identical w×h."""
    from pypers_spark.multimodal import PPM_H_MOD, PPM_W_MOD
    from pypers_spark.operators.text import mm_phash_pairs

    stride = PPM_W_MOD * PPM_H_MOD  # same dims for doc_id and doc_id+stride
    text_a = "the quick brown fox jumps over the lazy dog " * 6
    text_b = "zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii " * 6
    docs = _docs_df(
        spark,
        [
            (1, text_a, "s", len(text_a)),
            (1 + stride, text_a, "s", len(text_a)),  # identical image
            (1 + 2 * stride, text_b, "s", len(text_b)),  # unrelated
        ],
    )
    out = mm_phash_pairs({"documents": docs}).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got[(1, 1 + stride)] == 0
    assert all(1 + 2 * stride not in pair for pair in got)


def test_histogram_equidepth_balance(tables):
    """op_histogram_equidepth: exactly HEQ_B buckets, counts summing to
    the table and balanced within 20% of each other (the property that
    distinguishes equi-depth from op_histogram's fixed width, which
    smears a skewed money column into hot bins)."""
    from pypers_spark.operators.relational_extra import (
        HEQ_B,
        op_histogram_equidepth,
    )

    rows = sorted(op_histogram_equidepth(tables).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(HEQ_B))
    counts = [r["n"] for r in rows]
    assert sum(counts) == tables["orders"].count()
    assert max(counts) <= 1.2 * min(counts)
    los = [r["lo"] for r in rows]
    assert los == sorted(los)


def test_k_core_peel_monotone_and_converged(tables):
    """gr_k_core: the peel census is monotone non-increasing, and the
    fixture's pair graph converges within the unrolled rounds (the
    last two rounds agree) — so the readout captures a real fixed
    point, not a truncated peel."""
    from pypers_spark.operators.graph import KCORE_ROUNDS, gr_k_core

    rows = sorted(gr_k_core(tables).collect(), key=lambda r: r["round"])
    assert len(rows) == KCORE_ROUNDS
    nodes = [r["n_nodes"] for r in rows]
    edges = [r["n_edges"] for r in rows]
    assert nodes == sorted(nodes, reverse=True)
    assert edges == sorted(edges, reverse=True)
    assert (nodes[-1], edges[-1]) == (nodes[-2], edges[-2])


def test_scd2_lookup_partitions_every_event(tables):
    """op_scd2_lookup: the SCD2 validity intervals tile each user's
    timeline with no gap or overlap, so the as-of join attributes
    EVERY event exactly once — totals across tiers equal the fact
    table's row count."""
    from pypers_spark.operators.analytics import op_scd2_lookup

    rows = op_scd2_lookup(tables).collect()
    assert sum(r["n_events"] for r in rows) == tables["events"].count()
    assert all(0 <= r["n_on_current"] <= r["n_events"] for r in rows)


def test_graph_search_beam_is_ranked_and_improves_on_entries(tables, spark):
    """ann_graph_search: per query exactly GS_TOPK results ranked by
    non-increasing cosine, and the expanded beam is never WORSE than
    the entry-point readout alone (hop expansion can only add
    candidates — the monotone-improvement property of beam search)."""
    from pypers_spark.functions.vectors import cosine_similarity
    from pypers_spark.operators.similarity import (
        GS_QMOD,
        GS_QRES,
        GS_TOPK,
        ann_graph_search,
        ann_knn_graph_cells,
    )
    from pypers_spark.functions.rounding import rnd

    out = sorted(ann_graph_search(tables).collect(), key=lambda r: (r["q_id"], r["rank"]))
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["rank"] for r in rs] == list(range(1, GS_TOPK + 1))
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
    # entry-only baseline: best cosine among the per-cell entry nodes
    knn = ann_knn_graph_cells(tables).select("vec_id", "cell")
    entries = knn.groupBy("cell").agg(F.min("vec_id").alias("node_id"))
    emb = tables["embeddings"].select("vec_id", "embedding")
    qv = emb.filter(F.col("vec_id") % GS_QMOD == GS_QRES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    base = (
        qv.crossJoin(entries)
        .join(emb, F.col("node_id") == emb["vec_id"])
        .select(
            "q_id",
            rnd(cosine_similarity(F.col("qe"), F.col("embedding")), 4).alias("c"),
        )
        .groupBy("q_id")
        .agg(F.max("c").alias("best_entry"))
        .collect()
    )
    best_entry = {r["q_id"]: r["best_entry"] for r in base}
    for q, rs in by_q.items():
        assert rs[0]["cos_sim"] >= best_entry[q]


def test_moments_match_numpy(tables):
    """sk_moments: the sketch-derived mean/variance/skewness/kurtosis
    agree with a direct numpy computation over the raw values — the
    moment algebra is validated against independent math, not just the
    mirrored oracle."""
    import numpy as np

    from pypers_spark.operators.sketches import sk_moments

    out = {r["event_type"]: r for r in sk_moments(tables).collect()}
    rows = tables["events"].select("event_type", "value").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in by_type.items():
        # quantize like dsum_wide does (1e-6 round-half-up) so the
        # reference replays the sketch's exactness contract
        x = np.floor(np.array(vals) * 1e6 + 0.5)
        got = out[et]
        assert got["n"] == len(vals)
        n = len(vals)
        s = [float((x ** k).sum()) / 1e6 ** k for k in (1, 2, 3, 4)]
        mean = s[0] / n
        var = s[1] / n - mean * mean
        assert abs(got["mean"] - mean) < 1e-4
        assert abs(got["var_pop"] - var) < 1e-2 * max(1.0, var)
        if var > 0:
            m3 = s[2] / n - 3 * mean * (s[1] / n) + 2 * mean**3
            m4 = (
                s[3] / n - 4 * mean * (s[2] / n) + 6 * mean**2 * (s[1] / n)
                - 3 * mean**4
            )
            assert abs(got["skewness"] - m3 / var**1.5) < 1e-2
            assert abs(got["kurtosis"] - (m4 / var**2 - 3)) < 1e-2


def test_srm_check_consistency_and_coverage(tables):
    """ev_srm_check: arm counts cover every event exactly once, the
    chi2 column equals (n_a-n_b)^2/n recomputed from the emitted
    counts, and the flag is exactly chi2 > the 95% critical value."""
    from pypers_spark.operators.events_extra import SRM_CHI2_95, ev_srm_check

    rows = ev_srm_check(tables).collect()
    per_type = {
        r["event_type"]: r["count"]
        for r in tables["events"].groupBy("event_type").count().collect()
    }
    for r in rows:
        n = r["n_a"] + r["n_b"]
        assert n == per_type[r["event_type"]]
        chi2 = (r["n_a"] - r["n_b"]) ** 2 / n
        assert abs(r["chi2"] - chi2) < 1e-6
        assert r["srm_flag"] == (chi2 > SRM_CHI2_95)


def test_executor_loss_recovers_via_reliable_checkpoint():
    """r6 verdict #4: turn the 'executor-loss-tolerant' claim into
    evidence. Runs in a SUBPROCESS (an in-process builder would reuse
    the suite's local[4] context): local-cluster[2,2,2048] with the
    reliable-checkpoint knob set, one executor JVM SIGKILLed mid
    pointer-doubling, convergence to exactly-correct labels required —
    AND the kill itself is required, so a too-fast loop can't
    vacuously pass."""
    proc = subprocess.run(
        [sys.executable, "-m", "pypers_spark", "--executor-loss-smoke"],
        capture_output=True,
        text=True,
        timeout=420,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-2000:])
    assert "executor-loss-smoke: PASS" in proc.stdout
    assert "SIGKILL executor pid" in proc.stderr
