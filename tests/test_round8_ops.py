"""Round-8 hardening + coverage wave: duplicate-dense phash pair
mining (r7 verdict item #1), the one-pass RFM percentile plan (item
#2), and the pipe_lakehouse write-path pipeline (item #5)."""

from __future__ import annotations

from pyspark.sql import functions as F


# --- mm_phash_pairs hardening -------------------------------------------------


def _dup_dense(tables):
    """A duplicate-dense corpus: every document appears twice (shifted
    id, identical text → identical derived image → identical dHash) —
    the real-corpus logo/byte-copy profile the r7 verdict flagged."""
    docs = tables["documents"]
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    t2 = dict(tables)
    t2["documents"] = doubled
    return t2


def test_phash_pairs_collapse_and_cap_semantics(spark, sf_dir, tables):
    """The hardened miner must (a) emit every within-group Hamming-0
    pair without running it through banding, and (b) emit cross-hash
    pairs only through cap-respecting band buckets. Checked against a
    brute-force recomputation from the persisted hash table, on a
    corpus where every hash is duplicated."""
    from itertools import combinations

    from pypers_spark.operators.text import (
        PHP_BANDS,
        PHP_HAM_T,
        PHP_MAX_BUCKET_WIDTH,
        _phash_table,
        mm_phash_pairs,
    )

    t2 = _dup_dense(tables)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm_phash_pairs(t2).collect()
    }
    ph = {r["media_id"]: r["phash"] for r in _phash_table(t2).collect()}

    # brute-force reference over the collapsed representative space
    reps = sorted(set(ph.values()))
    buckets: dict[tuple[int, str], list[str]] = {}
    for h in reps:
        for b in range(PHP_BANDS):
            buckets.setdefault((b, h[b * 4 : (b + 1) * 4]), []).append(h)
    cand = set()
    for hs in buckets.values():
        if 2 <= len(hs) <= PHP_MAX_BUCKET_WIDTH:
            cand.update(combinations(sorted(hs), 2))
    want = {}
    for a, b in combinations(sorted(ph), 2):
        ha, hb = ph[a], ph[b]
        if ha == hb:
            want[(a, b)] = 0
        elif (min(ha, hb), max(ha, hb)) in cand:
            d = bin(int(ha, 16) ^ int(hb, 16)).count("1")
            if d <= PHP_HAM_T:
                want[(a, b)] = d
    assert got == want
    assert any(h == 0 for h in got.values())  # fixture has exact dups
    assert any(h > 0 for h in got.values())  # ... and near-dups


def test_phash_candidate_stage_runs_on_distinct_hashes(spark, sf_dir, tables):
    """Scale property: duplicate-dense input must NOT widen the band
    buckets — k copies of one image contribute ONE representative to
    candidate generation. Pinned via the bucket-stats profile on a
    corpus where every hash is duplicated."""
    from pypers_spark.operators.text import _phash_table, mm_phash_bucket_stats

    t2 = _dup_dense(tables)
    stats = {r["band"]: r for r in mm_phash_bucket_stats(t2).collect()}
    ph = _phash_table(t2)
    ph_rows = ph.count()
    n_distinct = ph.select("phash").distinct().count()
    assert ph_rows > n_distinct  # fixture is duplicate-dense
    for band, row in stats.items():
        # bucket widths are counted over representatives: the per-band
        # total bucketed width can never exceed the distinct-hash count
        assert row["n_buckets"] <= n_distinct
        assert row["n_collapsed"] == ph_rows - n_distinct


# --- one-pass RFM percentiles -------------------------------------------------


def test_rfm_single_percentile_pass_plan(spark, sf_dir, tables):
    """The nine RFM cutoffs must come from ONE unpivoted percentile
    plan: exactly one groupBy(metric, value) aggregate — i.e. the
    executed plan contains the metric-key exchange once, not three
    separate percentile subtrees over per_user."""
    from pypers_spark.operators.events_extra import ev_rfm_segments

    df = ev_rfm_segments(tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the unpivot's explode feeds the single cuts plan
    assert plan.lower().count("generate explode") <= 1


# --- pipe_lakehouse -----------------------------------------------------------


def test_lakehouse_diff_join_is_exchange_free(spark, sf_dir, tables):
    """The snapshot-diff stage must read both bucketed versions with
    ZERO Exchange on either side of the full-outer join (the
    tests/test_bucketed.py contract, now inside the composed
    pipeline): after the pipeline lands the tables, the co-located
    diff join's plan has no shuffle above the two bucketed scans."""
    from pypers_spark.operators.lakehouse import (
        LH_BASE_TABLE,
        LH_SNAP_TABLE,
        pipe_lakehouse,
    )

    report = pipe_lakehouse(tables)
    row = report.collect()[0]
    # sanity on the report semantics
    assert row["diff_added"] > 0 and row["diff_removed"] > 0
    assert row["diff_changed"] > 0 and row["diff_unchanged"] > 0
    assert row["zm_files"] > 0 and row["cp_output_files"] <= row["cp_input_files"]

    lt, st = spark.table(LH_BASE_TABLE), spark.table(LH_SNAP_TABLE)
    joined = lt.join(st, lt["k"] == st["k"], "full_outer")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert "SortMergeJoin" in plan


def test_lakehouse_write_roundtrip_lossless(spark, sf_dir, tables):
    """The landed snapshot table must hold exactly the logical snapshot
    (row count and value checksum) — the property the oracle's
    derive-from-orders shortcut relies on."""
    from pypers_spark.operators.lakehouse import LH_SNAP_TABLE, pipe_lakehouse
    from pypers_spark.operators.incremental import DEL_MOD, INS_MOD

    pipe_lakehouse(tables)
    o = tables["orders"]
    n_expected = (
        o.filter(F.col("o_orderkey") % DEL_MOD != 0).count()
        + o.filter(F.col("o_orderkey") % INS_MOD == 0).count()
    )
    landed = spark.table(LH_SNAP_TABLE)
    assert landed.count() == n_expected
    assert landed.filter(F.col("price").isNull()).count() == 0


# --- round-8 coverage wave ----------------------------------------------------


def test_time_to_convert_funnel_invariants(spark, sf_dir, tables):
    """Converted ≤ signed up; quartiles non-decreasing; every latency
    non-negative (first purchase AT OR AFTER the first signup)."""
    from pypers_spark.operators.events_extra import ev_time_to_convert

    row = ev_time_to_convert(tables).collect()[0]
    assert 0 < row["n_converted"] <= row["n_signed_up"]
    assert 0 <= row["p25_s"] <= row["p50_s"] <= row["p75_s"] <= row["p90_s"]
    assert abs(
        row["conversion_rate"] - row["n_converted"] / row["n_signed_up"]
    ) < 1e-6


def test_calibration_bins_partition_events(spark, sf_dir, tables):
    """The ten bins partition the event stream exactly, and each bin's
    mean score sits inside its own bin bounds."""
    from pypers_spark.operators.events_extra import CAL_BINS, ev_calibration_bins

    rows = sorted(ev_calibration_bins(tables).collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(CAL_BINS))
    assert sum(r["n"] for r in rows) == tables["events"].count()
    for r in rows:
        assert r["bin"] / CAL_BINS <= r["mean_score"] < (r["bin"] + 1) / CAL_BINS
        assert 0.0 <= r["pos_rate"] <= 1.0


def test_dbscan_core_counts_match_bruteforce(spark, sf_dir, tables):
    """Grid-blocked neighbor counting must equal the all-pairs count:
    the 3×3 probe neighborhood fully covers the ε radius (cell 0.5° ≈
    55 km > ε = 15 km), so blocking loses no neighbor."""
    import math

    from pypers_spark.operators.geo import (
        DBSCAN_EPS_KM,
        DBSCAN_MIN_PTS,
        DBSCAN_NN_CAP,
        _points,
        gs_dbscan_core,
    )

    pts = [(r["pid"], r["lat"], r["lon"]) for r in _points(tables).collect()]

    def hav(a, b):
        rad = math.pi / 180.0
        dlat, dlon = (b[1] - a[1]) * rad / 2, (b[2] - a[2]) * rad / 2
        x = (
            math.sin(dlat) ** 2
            + math.cos(a[1] * rad) * math.cos(b[1] * rad) * math.sin(dlon) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(x))

    counts = {p[0]: 0 for p in pts}
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            if round(hav(pts[i], pts[j]), 6) <= DBSCAN_EPS_KM:
                counts[pts[i][0]] += 1
                counts[pts[j][0]] += 1
    want = {}
    for c in counts.values():
        b = min(c, DBSCAN_NN_CAP)
        n, _ = want.get(b, (0, 0))
        want[b] = (n + 1, int(c >= DBSCAN_MIN_PTS))
    got = {
        r["nn_bucket"]: (r["n_points"], r["is_core"])
        for r in gs_dbscan_core(tables).collect()
    }
    assert got == want


def test_bloom_fpr_report_is_consistent(spark, sf_dir, tables):
    """Occupancy and FPR invariants: bits_set ≤ min(m, k·n); measured
    FPR within a loose band of the (1−e^{-kn/m})^k design point (the
    libm-free gate can't pin it exactly — this test can)."""
    import math

    from pypers_spark.operators.sketches import BF_BITS, BF_K, sk_bloom_fpr

    r = sk_bloom_fpr(tables).collect()[0]
    assert r["bits_set"] <= min(BF_BITS, BF_K * r["n_keys"])
    assert r["n_probes"] == r["n_keys"]
    expected = (1.0 - math.exp(-BF_K * r["n_keys"] / BF_BITS)) ** BF_K
    assert 0.3 * expected <= r["fpr"] <= 3.0 * expected + 0.01
    assert abs(r["load_factor"] - r["bits_set"] / BF_BITS) < 1e-6


def test_boilerplate_scrub_conservation(spark, sf_dir, tables):
    """Token conservation per source (before = after + removed-para
    tokens) and the gate is non-vacuous on a corpus with planted
    boilerplate (a shared paragraph injected into ≥ BP_DF docs)."""
    from pypers_spark.operators.text_extra import (
        BP_DF,
        BP_PARA_W,
        txt_boilerplate_scrub,
    )

    bp = " ".join(["cookie"] * BP_PARA_W)
    docs = tables["documents"].withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit(bp + " "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    t2 = dict(tables)
    t2["documents"] = docs
    rows = txt_boilerplate_scrub(t2).collect()
    assert sum(r["n_removed"] for r in rows) > 0
    for r in rows:
        assert r["tokens_after"] <= r["tokens_before"]
        assert r["n_removed"] <= r["n_paras"]
        if r["n_removed"] == 0:
            assert r["tokens_after"] == r["tokens_before"]


def test_audio_energy_matches_pure_python(spark, sf_dir, tables):
    """The Arrow PCM stats must equal a from-scratch Python decode of
    the same payloads (independent of numpy vectorization and of the
    oracle's text-derivation shortcut)."""
    from pypers_spark.multimodal import (
        SILENCE_ABS_8,
        SILENCE_ABS_16,
        wav_media_table,
    )
    from pypers_spark.operators.text import mm_audio_energy

    got = {r["media_id"]: r for r in mm_audio_energy(tables).collect()}
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in wav_media_table(tables["documents"]).collect()
    }
    assert set(got) == set(payloads)
    import struct

    checked = 0
    for mid, payload in list(payloads.items())[:50]:
        pos, bits, data = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if cid == b"fmt ":
                bits = struct.unpack("<HHIIHH", payload[pos + 8 : pos + 24])[5]
            elif cid == b"data":
                data = payload[pos + 8 : pos + 8 + size]
            pos += 8 + size + (size & 1)
        if bits == 8:
            amps = [b - 128 for b in data]
            st = SILENCE_ABS_8
        else:
            amps = [
                struct.unpack("<h", data[2 * i : 2 * i + 2])[0]
                for i in range(len(data) // 2)
            ]
            st = SILENCE_ABS_16
        r = got[mid]
        assert r["n_samples"] == len(amps)
        assert r["sum_abs"] == sum(abs(a) for a in amps)
        assert r["sum_sq"] == sum(a * a for a in amps)
        assert r["peak_abs"] == max(abs(a) for a in amps)
        assert r["n_silent"] == sum(1 for a in amps if abs(a) <= st)
        checked += 1
    assert checked == 50


def test_sq8_codes_and_ranking_properties(spark, sf_dir, tables):
    """SQ8's approximate ranking must put genuinely-near vectors first:
    the top-10 by reconstructed distance shares most members with the
    exact L2 top-30 (the PQ-recall check at the 4x code budget), and
    approx distances are non-negative and sorted."""
    from pypers_spark.operators.similarity import QUERY_VEC_ID, ann_sq8

    rows = ann_sq8(tables).collect()
    d2s = [r["approx_d2"] for r in rows]
    assert d2s == sorted(d2s) and all(d >= 0 for d in d2s)
    emb = {r["vec_id"]: r["embedding"] for r in tables["embeddings"].collect()}
    q = emb[QUERY_VEC_ID]
    exact = sorted(
        (sum((a - b) ** 2 for a, b in zip(v, q)), vid)
        for vid, v in emb.items()
        if vid != QUERY_VEC_ID
    )
    exact_top30 = {vid for _, vid in exact[:30]}
    overlap = sum(1 for r in rows if r["vec_id"] in exact_top30)
    assert overlap >= 7  # SQ8 at 1 byte/dim is near-exact vs PQ's 2 bits

    
def test_changelog_compact_census(spark, sf_dir, tables):
    """Winning-op census must reproduce the generating arithmetic:
    deletes = keys % 11 == 0, updates win iff %7 and not %11, inserts
    win the rest; n_ops = keys + updates + deletes."""
    from pypers_spark.operators.incremental import (
        CLC_DEL_MOD,
        CLC_UPD_MOD,
        op_changelog_compact,
    )

    r = op_changelog_compact(tables).collect()[0]
    keys = [
        x["o_orderkey"] for x in tables["orders"].select("o_orderkey").collect()
    ]
    n_del = sum(1 for k in keys if k % CLC_DEL_MOD == 0)
    n_upd_all = sum(1 for k in keys if k % CLC_UPD_MOD == 0)
    n_upd_win = sum(
        1 for k in keys if k % CLC_UPD_MOD == 0 and k % CLC_DEL_MOD != 0
    )
    assert r["n_keys"] == len(keys)
    assert r["n_deleted"] == n_del
    assert r["won_by_update"] == n_upd_win
    assert r["won_by_insert"] == len(keys) - n_del - n_upd_win
    assert r["n_live"] == len(keys) - n_del
    assert r["n_ops"] == len(keys) + n_upd_all + n_del


def test_cuped_reduces_variance_and_preserves_means(spark, sf_dir, tables):
    """CUPED must (a) reduce variance when pre/post are correlated
    (var_reduction < 1), and (b) leave the POOLED adjusted mean equal
    to the pooled raw mean (the adjustment is mean-zero by
    construction)."""
    from pypers_spark.operators.events_extra import ev_cuped

    rows = ev_cuped(tables).collect()
    assert len(rows) == 2 and {r["variant"] for r in rows} == {0, 1}
    vr = rows[0]["var_reduction"]
    assert rows[1]["var_reduction"] == vr
    assert 0.0 < vr <= 1.0  # never increases variance (theta optimal)
    n = sum(r["n_users"] for r in rows)
    pooled_raw = sum(r["mean_y"] * r["n_users"] for r in rows) / n
    pooled_adj = sum(r["mean_y_adj"] * r["n_users"] for r in rows) / n
    assert abs(pooled_raw - pooled_adj) < 1e-4


def test_link_predict_scores_against_networkx_free_bruteforce(spark, sf_dir, tables):
    """Wedge-join Jaccard must equal a per-node adjacency-set brute
    force, and no predicted pair may already be an edge."""
    from pypers_spark.operators.similarity import COS_T03, _embedding_cos_pairs
    from pypers_spark.operators.graph import gr_link_predict

    edges = {
        (r["id_a"], r["id_b"])
        for r in _embedding_cos_pairs(tables, COS_T03).select("id_a", "id_b").collect()
    }
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = gr_link_predict(tables).collect()
    for r in rows:
        a, b = r["id_a"], r["id_b"]
        assert (a, b) not in edges and (b, a) not in edges
        inter = len(adj[a] & adj[b])
        union = len(adj[a] | adj[b])
        assert r["n_common"] == inter
        assert abs(r["jaccard"] - round(inter / union, 6)) < 1e-9


def test_column_mask_is_k_anonymous(spark, sf_dir, tables):
    """Every NON-suppressed (segment, band) cell in the export must
    hold >= MASK_K rows; suppressed rows carry NULL bands; pseudonyms
    never collide for distinct names (md5-prefix at this cardinality)."""
    from collections import Counter

    from pypers_spark.operators.relational_extra import MASK_K, op_column_mask

    rows = op_column_mask(tables).collect()
    cells = Counter((r["segment"], r["band"]) for r in rows if r["band"] is not None)
    assert cells and all(n >= MASK_K for n in cells.values())
    for r in rows:
        assert (r["band"] is None) == bool(r["suppressed"])
    n_names = tables["customer"].select("c_name").distinct().count()
    assert len({(r["name_mask"]) for r in rows}) == n_names


# --- round-8 second wave: MIPS/MaxSim, grid kNN, attribution, LOCF, islands ---


def test_mips_matches_bruteforce_inner_product(spark, sf_dir, tables):
    """The augmented-cosine ranking must equal brute-force inner-product
    ranking (the reduction is order-preserving by construction)."""
    import numpy as np

    from pypers_spark.operators.similarity import QUERY_VEC_ID, TOP_K, ann_mips

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in tables["embeddings"].collect()
    }
    q = vecs[QUERY_VEC_ID]
    ips = sorted(
        ((float(v @ q), vid) for vid, v in vecs.items() if vid != QUERY_VEC_ID),
        key=lambda p: (-round(p[0], 4), p[1]),
    )
    rows = ann_mips(tables).collect()
    assert len(rows) == TOP_K
    assert [r["vec_id"] for r in rows] == [vid for _, vid in ips[:TOP_K]]
    # augmented cosine must be monotone in the inner product
    aug = [r["aug_cos"] for r in rows]
    assert aug == sorted(aug, reverse=True)


def test_maxsim_is_per_label_max_cosine(spark, sf_dir, tables):
    """Every returned doc score must equal the max cosine of that
    label's vectors vs the query, with the lowest-id argmax."""
    import numpy as np

    from pypers_spark.operators.similarity import QUERY_VEC_ID, ann_maxsim

    rows_emb = tables["embeddings"].collect()
    vecs = {r["vec_id"]: (r["label"], np.asarray(r["embedding"], dtype=np.float64)) for r in rows_emb}
    q = vecs[QUERY_VEC_ID][1]
    qn = float(np.sqrt(q @ q))
    best: dict = {}
    n_vecs: dict = {}
    for vid, (lab, v) in vecs.items():
        if vid == QUERY_VEC_ID:
            continue
        n = float(np.sqrt(v @ v)) * qn
        cos = float(v @ q) / n if n > 0 else 0.0
        n_vecs[lab] = n_vecs.get(lab, 0) + 1
        if lab not in best or (cos, -vid) > (best[lab][0], -best[lab][1]):
            best[lab] = (cos, vid)
    for r in ann_maxsim(tables).collect():
        cos, vid = best[r["label"]]
        assert r["best_vec_id"] == vid
        assert abs(r["maxsim"] - round(cos, 4)) < 1e-6
        assert r["n_vecs"] == n_vecs[r["label"]]


def test_knn_join_buckets_against_bruteforce(spark, sf_dir, tables):
    """The kNN-radius histogram must reproduce a per-point brute force
    restricted to the 3x3 cell neighborhood (the operator's contract)."""
    import math
    from collections import Counter

    from pypers_spark.operators.geo import (
        CELL_DEG,
        EARTH_R_KM,
        KNN_BUCKET_KM,
        KNN_K,
        _points,
        gs_knn_join,
    )

    pts = {r["pid"]: (r["lat"], r["lon"]) for r in _points(tables).collect()}
    cells: dict = {}
    for pid, (la, lo) in pts.items():
        cells.setdefault(
            (math.floor(la / CELL_DEG), math.floor(lo / CELL_DEG)), []
        ).append(pid)

    def hav(a, b):
        la1, lo1 = pts[a]
        la2, lo2 = pts[b]
        rad = math.pi / 180.0
        dlat, dlon = (la2 - la1) * rad / 2, (lo2 - lo1) * rad / 2
        s = (
            math.sin(dlat) ** 2
            + math.cos(la1 * rad) * math.cos(la2 * rad) * math.sin(dlon) ** 2
        )
        d = 2 * EARTH_R_KM * math.asin(math.sqrt(s))
        return math.floor(d * 1e6 + 0.5) / 1e6

    expected = Counter()
    for pid, (la, lo) in pts.items():
        cy, cx = math.floor(la / CELL_DEG), math.floor(lo / CELL_DEG)
        cand = [
            o
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            for o in cells.get((cy + dy, cx + dx), [])
            if o != pid
        ]
        if not cand:
            # zero-candidate points land in bucket -1 too (r9 contract:
            # the operator left-joins the point set back in)
            expected[-1] += 1
            continue
        dists = sorted((hav(pid, o), o) for o in cand)[:KNN_K]
        dk = dists[-1][0]
        b = -1 if len(dists) < KNN_K else math.floor(dk / KNN_BUCKET_KM)
        expected[b] += 1
    got = {r["knn_bucket"]: r["n_points"] for r in gs_knn_join(tables).collect()}
    assert got == dict(expected)


def test_attribution_position_conserves_purchase_value(spark, sf_dir, tables):
    """Summed credits across all position classes must equal the summed
    value of purchases that had >= 1 touch in the window (each purchase
    distributes exactly 100% of its value)."""
    from pyspark.sql import functions as F

    from pypers_spark.operators.events_extra import (
        ATTR_WINDOW_DAYS,
        ev_attribution_position,
    )

    ev = tables["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("p_ts"), "value"
    )
    v = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("t_ts")
    )
    touched = (
        p.join(v, "user_id")
        .filter(
            (F.col("t_ts") <= F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS"))
        )
        .select("pid", "value")
        .distinct()
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    rows = ev_attribution_position(tables).collect()
    total = sum(r["attributed_value"] for r in rows)
    assert abs(total - touched) < 0.05 * max(1.0, abs(touched)) or abs(total - touched) < 1.0
    classes = {(r["touch_type"], r["pos_class"]) for r in rows}
    assert classes <= {(t, c) for t in ("view", "click") for c in ("first", "mid", "last")}


def test_gap_fill_purchase_rows_always_filled(spark, sf_dir, tables):
    """A purchase event always has a filled value (its own), so
    n_filled == n_events for the purchase row; all counts bounded."""
    from pypers_spark.operators.relational_extra import op_gap_fill

    rows = {r["event_type"]: r for r in op_gap_fill(tables).collect()}
    assert rows["purchase"]["n_filled"] == rows["purchase"]["n_events"]
    for r in rows.values():
        assert 0 <= r["n_filled"] <= r["n_events"]


def test_sequence_islands_day_conservation(spark, sf_dir, tables):
    """Island lengths must partition the distinct (user, day) set:
    sum(island_len * n_islands) == total distinct active user-days."""
    from pyspark.sql import functions as F

    from pypers_spark.operators.relational_extra import op_sequence_islands

    total_days = (
        tables["events"].select("user_id", F.to_date("ts").alias("d")).distinct().count()
    )
    rows = op_sequence_islands(tables).collect()
    assert sum(r["island_len"] * r["n_islands"] for r in rows) == total_days
    assert all(r["total_days"] == r["island_len"] * r["n_islands"] for r in rows)


def test_adamic_adar_against_adjacency_bruteforce(spark, sf_dir, tables):
    """AA scores must equal the per-node adjacency-set brute force with
    the same 1e-6 term quantization, and predicted pairs are non-edges."""
    import math

    from pypers_spark.operators.graph import gr_adamic_adar
    from pypers_spark.operators.similarity import COS_T03, _embedding_cos_pairs

    edges = {
        (r["id_a"], r["id_b"])
        for r in _embedding_cos_pairs(tables, COS_T03).select("id_a", "id_b").collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for r in gr_adamic_adar(tables).collect():
        a, b = r["id_a"], r["id_b"]
        assert (a, b) not in edges and (b, a) not in edges
        common = adj[a] & adj[b]
        assert r["n_common"] == len(common)
        acc = sum(math.floor(1.0 / math.log(float(len(adj[m]))) * 1e6 + 0.5) for m in common)
        expect = math.floor((acc / 1e6) * 1e6 + 0.5) / 1e6
        assert abs(r["aa_score"] - expect) < 1e-9


def test_scene_cut_against_python_recomputation(spark, sf_dir, tables):
    """The cuts-per-media histogram must equal a per-doc Python
    recomputation of the frame slicing + integer luma pipeline."""
    from collections import Counter

    from pypers_spark.operators.text import SCENE_CUT_T, mm_scene_cut

    expected = Counter()
    for r in tables["documents"].select("doc_id", "text").collect():
        raw = r["text"].encode()
        if not raw:
            continue
        step = max(1, len(raw) // 4)
        lumas = []
        for i in range(min(4, len(raw))):
            fr = raw[i * step : i * step + 32]
            lumas.append((sum(fr) * 1000) // len(fr))
        cuts = sum(
            1 for a, b in zip(lumas, lumas[1:]) if abs(b - a) >= SCENE_CUT_T
        )
        expected[cuts] += 1
    got = {r["n_cuts"]: r["n_media"] for r in mm_scene_cut(tables).collect()}
    assert got == dict(expected)


def test_pipe_ann_matches_unpipelined_serving(spark, sf_dir, tables):
    """The pipelined serving report must equal the same plan composed
    directly from the registry's ann primitives (the pipeline adds
    orchestration, never semantics), and every query must appear in
    exactly one probed cell."""
    from pypers_spark.operators.similarity import BATCH_Q_MOD, BATCH_TOP_K, pipe_ann

    rows = pipe_ann(tables).collect()
    n_queries_total = sum(r["n_queries"] for r in rows)
    expected_q = tables["embeddings"].filter(F.col("vec_id") % BATCH_Q_MOD == 0).count()
    assert n_queries_total == expected_q  # rank-1 probe: each query exactly once
    for r in rows:
        assert r["n_results"] <= r["n_queries"] * BATCH_TOP_K
        assert 0 <= r["n_home_cell"] <= r["n_queries"]
        assert -1.0 <= r["avg_cos"] <= 1.0


def test_st_late_data_append_semantics(spark, sf_dir, tables):
    """Append-mode drain must emit exactly the closed windows (end <=
    the driver-settled watermark, which the 37m17s watermark-driver row
    keeps off hour alignment) populated only by recent-half rows: late
    stragglers dropped, open windows held in state and never emitted."""
    import datetime

    from pypers_spark.operators.streaming_batch import (
        LATE_DRIVER_OFFSET_S,
        LATE_SPLIT_DAYS,
        st_late_data,
    )

    ev = tables["events"]
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(days=LATE_SPLIT_DAYS)
    wm = (
        max_ts
        + datetime.timedelta(seconds=LATE_DRIVER_OFFSET_S)
        - datetime.timedelta(hours=1)
    )
    expected = {}
    for r in ev.select("ts", "event_type").collect():
        ts = r["ts"]
        win_start = ts.replace(minute=0, second=0, microsecond=0)
        if ts >= cutoff and win_start + datetime.timedelta(hours=1) <= wm:
            k = (win_start, r["event_type"])
            expected[k] = expected.get(k, 0) + 1
    got = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in st_late_data(tables).collect()
    }
    assert got == expected


def test_qte_matches_numpy_quantiles(spark, sf_dir, tables):
    """QTE deciles must equal numpy's linear-interpolation quantiles of
    the per-variant user metric (the same formula Spark's percentile
    uses), and qte must equal their difference."""
    import numpy as np

    from pypers_spark.functions.hashing import md5_int64
    from pypers_spark.operators.events_extra import QTE_QS, ev_qte

    per_user = (
        tables["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg((F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5))) / F.lit(1e6)).alias("m"))
        .withColumn(
            "variant",
            (md5_int64(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).cast("int"),
        )
        .collect()
    )
    by_v = {0: [], 1: []}
    for r in per_user:
        by_v[r["variant"]].append(r["m"])
    rows = sorted(ev_qte(tables).collect(), key=lambda r: r["decile"])
    assert len(rows) == len(QTE_QS)
    for row, (q, a) in zip(rows, QTE_QS):
        qc = float(np.quantile(np.array(by_v[0]), q, method="linear"))
        qt = float(np.quantile(np.array(by_v[1]), q, method="linear"))
        assert row["decile"] == a
        assert abs(row["q_control"] - round(qc, 4)) < 1e-6
        assert abs(row["q_treat"] - round(qt, 4)) < 1e-6
        assert abs(row["qte"] - (row["q_treat"] - row["q_control"])) < 1e-3


def test_audio_vad_against_python_rle(spark, sf_dir, tables):
    """VAD segmentation must equal a per-doc pure-Python run-length
    recomputation from the same WAV payload bytes."""
    from pypers_spark.multimodal import wav_media_table, wav_vad_stats
    from pypers_spark.operators.text import mm_audio_vad

    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in wav_media_table(tables["documents"]).collect()
    }
    got = {r["media_id"]: r.asDict() for r in mm_audio_vad(tables).collect()}
    assert set(got) == set(payloads)
    for mid, p in payloads.items():
        raw = p
        # independent scalar RLE (no numpy): decode amps, walk runs
        import struct

        pos, bits, data = 12, None, None
        while pos + 8 <= len(raw):
            cid = raw[pos:pos + 4]
            size = int.from_bytes(raw[pos + 4:pos + 8], "little")
            body = raw[pos + 8:pos + 8 + size]
            if cid == b"fmt " and len(body) >= 16:
                bits = struct.unpack("<HHIIHH", body[:16])[5]
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)
        if bits == 8:
            amps = [b - 128 for b in data]
            st = 16
        else:
            n = len(data) // 2
            amps = [
                int.from_bytes(data[2 * i:2 * i + 2], "little", signed=True)
                for i in range(n)
            ]
            st = 4096
        voiced = [abs(a) > st for a in amps]
        n_seg = longest = cur = n_voiced = 0
        prev = None
        for v in voiced:
            if v:
                n_voiced += 1
            if v and prev is not True:
                n_seg += 1
            if not v:
                cur = cur + 1 if prev is False else 1
                longest = max(longest, cur)
            prev = v
        g = got[mid]
        assert g["n_samples"] == len(amps)
        assert g["n_segments"] == n_seg, mid
        assert g["longest_silence"] == longest, mid
        assert g["n_voiced"] == n_voiced, mid


def test_hll_union_registers_match_and_estimate(spark, sf_dir, tables):
    """The max-merge of shard sketches must equal the global sketch
    exactly (zero register mismatches) and the union estimate must be
    within HLL's expected error band for m=256 (~6.5%, take 3 sigma)."""
    from pypers_spark.operators.sketches import sk_hll_union

    r = sk_hll_union(tables).collect()[0]
    assert r["n_register_mismatch"] == 0
    assert r["rel_err"] < 3 * 1.04 / (256 ** 0.5)


def test_st_outer_join_null_emission_boundary(spark, sf_dir, tables):
    """Null-padded rows must appear exactly for unmatched purchases
    below the global (min-policy) watermark, and every matched pair
    must emit regardless of watermark position."""
    import datetime

    from pypers_spark.operators.streaming_batch import st_outer_join

    ev = tables["events"]
    max_v = ev.filter(F.col("event_type") == "view").agg(F.max("ts")).collect()[0][0]
    max_p = ev.filter(F.col("event_type") == "purchase").agg(F.max("ts")).collect()[0][0]
    wm = min(max_v, max_p) - datetime.timedelta(hours=1)
    rows = st_outer_join(tables).collect()
    nulls = [r for r in rows if r["view_id"] is None]
    matched = [r for r in rows if r["view_id"] is not None]
    assert all(r["purchase_ts"] < wm for r in nulls)
    # batch recomputation of the inner part
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("ts").alias("pts"), "user_id"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"), F.col("ts").alias("vts"),
        F.col("user_id").alias("vuid"),
    )
    inner = p.join(
        v,
        (F.col("user_id") == F.col("vuid"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert len(matched) == inner


def test_cms_merge_cells_and_one_sided_bound(spark, sf_dir, tables):
    """Sum-merged shard cells must equal the global sketch exactly, and
    the CMS one-sided guarantee must hold on the merged sketch."""
    from pypers_spark.operators.sketches import sk_cms_merge

    r = sk_cms_merge(tables).collect()[0]
    assert r["n_cell_mismatch"] == 0
    assert r["one_sided_holds"] == 1
    assert r["topk_sum_overest"] >= 0
