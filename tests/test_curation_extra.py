"""Semantic property tests for the curation_extra operators —
invariants beyond the value-oracle comparison (hand-computed cases and
structural properties)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from pypers_spark.operators.curation_extra import (
    KMEANS_K,
    SPAN_N,
    STRATUM_TARGET,
    WINNOW_K,
    WINNOW_W,
    ZIPF_TOP,
)


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_winnowing_detects_shared_substring(spark):
    """Two docs sharing a substring of length >= k + w - 1 share a
    fingerprint (the winnowing guarantee); disjoint docs don't."""
    from pypers_spark.operators.curation_extra import txt_winnowing
    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.functions.text import char_ngrams

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {shared} beta", "en", "s1"),
            (2, f"gamma {shared} delta", "en", "s1"),
            (3, "zzzz qqqq completely different body xxxx", "en", "s1"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    grams = docs.select(
        "doc_id", F.posexplode(char_ngrams(F.col("text"), WINNOW_K)).alias("pos", "g")
    ).select("doc_id", "pos", md5_int64(F.col("g")).alias("h"))
    from pyspark.sql import Window

    w_min = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    w_all = Window.partitionBy("doc_id")
    fps = (
        grams.withColumn("wmin", F.min("h").over(w_min))
        .withColumn("n", F.count("*").over(w_all))
        .filter(F.col("pos") <= F.col("n") - WINNOW_W)
        .select("doc_id", "wmin")
        .distinct()
        .collect()
    )
    by_doc = {d: {r["wmin"] for r in fps if r["doc_id"] == d} for d in (1, 2, 3)}
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # and the registered aggregate form counts every doc with >= w grams
    out = txt_winnowing({"documents": docs}).collect()
    assert {r["doc_id"] for r in out} == {1, 2, 3}


def test_dup_spans_finds_exact_shared_run(spark):
    """A 5-token run shared by two docs yields one span of 3 dup grams
    covering token positions 0..4 in each doc; unique text yields none."""
    from pypers_spark.operators.curation_extra import dd_dup_spans

    run = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"{run} tail unique alpha"),
            (2, f"{run} other ending words"),
            (3, "completely different text with no overlap at all"),
        ],
        "doc_id bigint, text string",
    )
    spans = dd_dup_spans({"documents": docs}).collect()
    by_doc = {r["doc_id"]: r for r in spans}
    assert set(by_doc) == {1, 2}
    for d in (1, 2):
        r = by_doc[d]
        assert (r["start_tok"], r["end_tok"]) == (0, 4)
        assert r["n_dup_grams"] == 5 - SPAN_N + 1


def test_char_diversity_bounds(spark, sf_dir, qs):
    """Simpson index lies in [0, 1); a single-char doc scores 0."""
    from pypers_spark.operators.curation_extra import txt_char_diversity

    rows = qs["txt_char_diversity"](spark, sf_dir).collect()
    assert rows and all(0.0 <= r["simpson"] < 1.0 for r in rows)
    one = spark.createDataFrame([(1, "aaaa")], "doc_id bigint, text string")
    out = txt_char_diversity({"documents": one}).collect()
    assert out[0]["simpson"] == 0.0


def test_zipf_head_rank_and_monotone_freq(spark, sf_dir, qs):
    rows = sorted(qs["txt_zipf_head"](spark, sf_dir).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, ZIPF_TOP + 1))
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert rows[0]["zipf_product"] == 1.0  # f1 * 1 / f1


def test_dsir_favors_target_language(spark, sf_dir, qs):
    """Documents in the target language should dominate the top of the
    importance ranking (their token buckets are what define the target)."""
    docs = entry_mod.queries()  # silence lint; use qs
    top = qs["txt_dsir_weights"](spark, sf_dir).collect()
    assert top
    from pypers_spark.sources import load_tables

    langs = {
        r["doc_id"]: r["lang"]
        for r in load_tables(spark, sf_dir)["documents"].select("doc_id", "lang").collect()
    }
    en_share_top = sum(1 for r in top if langs[r["doc_id"]] == "en") / len(top)
    all_docs = list(langs.values())
    en_share_all = all_docs.count("en") / len(all_docs)
    assert en_share_top >= en_share_all


def test_stratified_sample_exact_size_per_stratum(spark, sf_dir, qs):
    rows = qs["op_stratified_sample"](spark, sf_dir).collect()
    import collections

    per = collections.Counter(r["source"] for r in rows)
    from pypers_spark.sources import load_tables

    totals = {
        r["source"]: r["n"]
        for r in load_tables(spark, sf_dir)["documents"]
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for s, n in per.items():
        assert n == min(STRATUM_TARGET, totals[s])
    assert all(1 <= r["draw"] <= STRATUM_TARGET for r in rows)


def test_corr_exact_in_range_and_sign_consistent(spark, sf_dir, qs):
    """corr in [-1, 1] and shares its sign with the regression slope
    (both have the same covariance numerator). The synthetic generator
    draws price independently of quantity, so no sign is asserted."""
    rows = qs["op_corr_exact"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["corr_qty_price"] <= 1.0
        assert (r["corr_qty_price"] >= 0) == (r["slope_price_per_qty"] >= 0)


def test_kmeans_assign_covers_all_vectors(spark, sf_dir, qs):
    from pypers_spark.sources import load_tables

    rows = qs["ann_kmeans_assign"](spark, sf_dir).collect()
    n_total = load_tables(spark, sf_dir)["embeddings"].count()
    assert sum(r["n_assigned"] for r in rows) == n_total
    assert len(rows) <= KMEANS_K
    assert all(r["avg_d2"] >= 0 for r in rows)


def test_mad_outliers_no_less_robust_than_zscore(spark, sf_dir, qs):
    """MAD gate flags a sane fraction (< 30%) and mad <= spread."""
    rows = qs["ev_mad_outliers"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_outliers"] < 0.3 * r["n_total"]
        assert r["mad"] >= 0


def test_mixture_weights_rebalance(spark, sf_dir, qs):
    """Below-target languages get weight > 1, above-target < 1, capped."""
    rows = qs["op_mixture_weights"](spark, sf_dir).collect()
    assert rows
    total = sum(r["n_tokens"] for r in rows)
    target = total / len(rows)
    for r in rows:
        if r["n_tokens"] < target:
            assert r["weight"] > 1.0
        if r["n_tokens"] > target:
            assert r["weight"] < 1.0
        assert r["weight"] <= 5.0


def test_pii_scrub_counts_and_redacts(spark):
    from pypers_spark.functions.text import pii_count, scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call 555-123-4567"),
            (2, "server at 192.168.0.1 and 10.0.0.255 responded"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            pii_count(F.col("text"), "email").alias("n_email"),
            pii_count(F.col("text"), "phone").alias("n_phone"),
            pii_count(F.col("text"), "ipv4").alias("n_ip"),
            scrub_pii(F.col("text")).alias("scrubbed"),
        ).collect()
    }
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ip"]) == (1, 1, 0)
    assert "[EMAIL]" in out[1]["scrubbed"] and "[PHONE]" in out[1]["scrubbed"]
    assert "jane.doe" not in out[1]["scrubbed"]
    assert out[2]["n_ip"] == 2 and out[2]["scrubbed"].count("[IPV4]") == 2
    assert out[3]["scrubbed"] == "clean text with no identifiers at all"
