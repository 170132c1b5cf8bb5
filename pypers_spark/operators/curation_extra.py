"""Round-2 curation/analytics extensions (SURVEY.md §2.B/§2.C/§2.D).

Training-data-pipeline operators beyond the first registry wave:
document fingerprinting by winnowing, duplicated-span detection (the
exact-substring-dedup shape of Lee et al., "Deduplicating Training Data
Makes Language Models Better"), DSIR-style hashed importance weighting
(Xie et al., linearized log-free variant), character-diversity (Simpson
index), Zipf head analysis, deterministic stratified sampling,
exact-moment correlation/regression, a k-means assignment step, robust
MAD outliers, and mixture-reweighting for corpus balancing.

Cross-engine float discipline as everywhere else in the library: hashes
go through md5→int64 (`functions/hashing.py`), float sums through
scaled-int64 `dsum`, rounding through `rnd` — every operator here is
bit-reproducible by its DuckDB oracle.

Scale notes (100 TB intent):
- Winnowing / dup-span explode positional grams: one explode + one
  window shuffle keyed on doc_id — the canonical inverted-index build;
  no pairwise work outside gram-equality groups.
- DSIR weights join a 128-row bucket table (broadcast) onto the token
  postings — the postings never shuffle twice.
- The k-means step cross-joins a k-row centroid table (broadcast) —
  O(n·k) map-side, no shuffle until the per-vector argmin aggregation.
- Stratified sampling is rank-within-stratum: one shuffle on the
  stratum key; AQE skew-split covers hot strata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.hashing import duck_md5_int64, md5_int64
from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd
from pypers_spark.functions.text import (
    duck_char_ngrams,
    duck_normalize_text,
    tokenize_ws,
)
from pypers_spark.functions.vectors import dot, duck_dot

QUERIES: dict = {}
ORACLES: dict = {}

_DUCK_TOKS = f"string_split({duck_normalize_text('text')}, ' ')"


def _norm_docs(docs: DataFrame) -> DataFrame:
    """documents + materialized normalized text below an exchange.

    Gram-building lambdas must reference ``nt`` as a COLUMN: a
    higher-order-function lambda re-evaluates captured expression
    subtrees per array ELEMENT, so inlining normalize_text (a regex
    chain) into ``transform`` makes gram construction O(n^2) per doc —
    measured 15.7 s vs 0.9 s for the winnowing explode at sf0.1. The
    repartition keeps Catalyst from collapsing the projection back into
    the lambda (dedup._signature_table, perf lesson 1).
    """
    from pypers_spark.functions.text import normalize_text

    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return docs.select(
        "doc_id", "source", "lang", normalize_text(F.col("text")).alias("nt")
    ).repartition(n, F.col("doc_id"))


# --- txt_winnowing -----------------------------------------------------------

WINNOW_K = 5  # char-gram length
WINNOW_W = 4  # winnowing window (grams)


def txt_winnowing(t: dict[str, DataFrame]) -> DataFrame:
    """Winnowing fingerprint cardinality per document (MOSS, Schleimer
    et al. 2003): hash k-char-grams, slide a w-gram window, keep the
    window minimum; the distinct minima are the document's fingerprints.

    Guarantees any shared substring of length >= k + w - 1 contributes a
    shared fingerprint — the standard local document fingerprint for
    plagiarism/overlap detection. One explode + one window shuffle on
    doc_id; no pairwise work.
    """
    norm = _norm_docs(t["documents"])
    gram_arr = F.when(
        F.length("nt") >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.length("nt") - (WINNOW_K - 1)),
            lambda i: F.col("nt").substr(i, F.lit(WINNOW_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # NOTE: do NOT add size(gram_arr) next to posexplode(gram_arr) in
    # one select — that combination abandons the fast generate path
    # (measured 25 s vs 0.5 s for the explode at sf0.1). "Full window"
    # is instead count(*)==W over the SAME frame as the min: one Window
    # node computes both, no extra sort, no array re-evaluation.
    # r11 NOTE: an all-in-array form (sliding array_min over slices,
    # bound via a one-element-array lambda) removes both shuffles but
    # measured 17.1 s vs this form's 1.8 s at sf0.1 — per-window
    # slice+min runs in the interpreted higher-order-function path,
    # ~10x the streamed Window operator. Kept the explode+window form.
    grams = norm.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    ).select("doc_id", "pos", md5_int64(F.col("gram")).alias("h"))
    w_min = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    full = grams.select(
        "doc_id",
        F.min("h").over(w_min).alias("wmin"),
        F.count("*").over(w_min).alias("wcnt"),
    ).filter(F.col("wcnt") == WINNOW_W)
    return (
        full.select("doc_id", "wmin")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_fingerprints"))
    )


ORACLE_WINNOWING = f"""
WITH g AS (
  SELECT doc_id, {duck_char_ngrams("text", WINNOW_K)} AS grams FROM documents
),
pos AS (
  SELECT doc_id, unnest(range(1, len(grams) + 1)) AS i, grams FROM g
),
h AS (
  SELECT doc_id, i - 1 AS pos, {duck_md5_int64("grams[i]")} AS h,
         len(grams) AS n
  FROM pos
),
wm AS (
  SELECT doc_id, pos, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS wmin
  FROM h
)
SELECT doc_id, count(*) AS n_fingerprints
FROM (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= n - {WINNOW_W})
GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["txt_winnowing"] = txt_winnowing
ORACLES["txt_winnowing"] = ORACLE_WINNOWING


# --- dd_dup_spans ------------------------------------------------------------

SPAN_N = 3  # word-gram length


def _word_ngrams_of(toks: F.Column, n: int) -> F.Column:
    """Word n-grams from a MATERIALIZED token-array column (the lambda
    must reference a column, not a tokenize expression — see _norm_docs)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _duck_word_ngrams(toks: str, n: int) -> str:
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 1} + 1), i -> {parts}) "
        f"ELSE []::VARCHAR[] END"
    )


def dd_dup_spans(t: dict[str, DataFrame]) -> DataFrame:
    """Duplicated-substring spans across the corpus (the exact-substring
    dedup shape of Lee et al.): a word {SPAN_N}-gram occurring in >= 2
    distinct documents marks its positions as duplicated; adjacent
    duplicated positions within a document merge into spans
    (gaps-and-islands: pos - row_number).

    Output: one row per span with token-index bounds and gram count —
    exactly what a span-removal rewrite pass consumes. Postings shuffle
    once on the gram hash (the "in >= 2 docs" test is a window
    min!=max over the hash partition — no self-join, no second scan of
    the gram build), once on doc_id (island windows).
    """
    # The token ARRAY itself materializes below the exchange — a
    # projection above it would be collapsed back into the gram lambda,
    # re-running split() per element (see _norm_docs).
    docs = t["documents"]
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with_toks = docs.select(
        "doc_id", tokenize_ws(F.col("text")).alias("toks")
    ).repartition(n_part, F.col("doc_id"))
    grams = with_toks.select(
        "doc_id", F.posexplode(_word_ngrams_of(F.col("toks"), SPAN_N)).alias("pos", "gram")
    ).select("doc_id", "pos", md5_int64(F.col("gram")).alias("gh"))
    wg = Window.partitionBy("gh")
    marked = (
        grams.withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(F.col("dmin") != F.col("dmax"))  # gram occurs in >= 2 docs
        .select("doc_id", "pos")
    )
    rn = Window.partitionBy("doc_id").orderBy("pos")
    islands = marked.withColumn("grp", F.col("pos") - F.row_number().over(rn))
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(SPAN_N - 1)).alias("end_tok"),
            F.count("*").alias("n_dup_grams"),
        )
        .select("doc_id", "start_tok", "end_tok", "n_dup_grams")
    )


ORACLE_DUP_SPANS = f"""
WITH g AS (
  SELECT doc_id, {_duck_word_ngrams(_DUCK_TOKS, SPAN_N)} AS grams FROM documents
),
pos AS (
  SELECT doc_id, unnest(range(1, len(grams) + 1)) AS i, grams FROM g
),
h AS (
  SELECT doc_id, i - 1 AS pos, {duck_md5_int64("grams[i]")} AS gh FROM pos
),
dup AS (
  SELECT gh FROM h GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
),
marked AS (
  SELECT h.doc_id, h.pos FROM h JOIN dup USING (gh)
),
islands AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
)
SELECT doc_id, min(pos) AS start_tok, max(pos) + {SPAN_N - 1} AS end_tok,
       count(*) AS n_dup_grams
FROM islands GROUP BY doc_id, grp ORDER BY doc_id, start_tok
"""

QUERIES["dd_dup_spans"] = dd_dup_spans
ORACLES["dd_dup_spans"] = ORACLE_DUP_SPANS


# --- txt_char_diversity ------------------------------------------------------


def txt_char_diversity(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document character diversity as the Simpson index
    1 - sum(p_c^2) over normalized characters — a log-free diversity
    measure (bit-identical ratio arithmetic, unlike Shannon entropy whose
    ln() is not guaranteed identical across engines).

    Aggregation form (explode + count), not array lambdas — filters
    cannot push below the aggregate and per-char work stays O(n). The
    char array comes from split(norm, '') — ONE function call per row,
    no per-element lambda (a substr-per-offset transform re-evaluates
    the normalize subtree per element: 17 s vs 2 s at sf0.1). Both
    engines split '' identically (empty text -> [''], filtered out).
    """
    from pypers_spark.functions.text import normalize_text

    docs = t["documents"]
    chars = docs.select(
        "doc_id", F.explode(F.split(normalize_text(F.col("text")), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return (
        per_char.groupBy("doc_id")
        .agg(F.sum("c").alias("n"), F.sum(F.col("c") * F.col("c")).alias("ssq"))
        .select(
            "doc_id",
            "n",
            rnd(
                F.lit(1.0)
                - F.col("ssq").cast("double") / (F.col("n") * F.col("n")).cast("double"),
                6,
            ).alias("simpson"),
        )
    )


ORACLE_CHAR_DIVERSITY = f"""
WITH chars AS (
  SELECT doc_id, ch FROM (
    SELECT doc_id, unnest(string_split({duck_normalize_text("text")}, '')) AS ch
    FROM documents
  ) WHERE ch <> ''
),
per_char AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
)
SELECT doc_id, sum(c)::BIGINT AS n,
       {duck_rnd("1.0 - (sum(c * c)::DOUBLE) / ((sum(c) * sum(c))::DOUBLE)", 6)}
         AS simpson
FROM per_char GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["txt_char_diversity"] = txt_char_diversity
ORACLES["txt_char_diversity"] = ORACLE_CHAR_DIVERSITY


# --- txt_zipf_head -----------------------------------------------------------

ZIPF_TOP = 20


def txt_zipf_head(t: dict[str, DataFrame]) -> DataFrame:
    """Zipf head analysis: the top-{ZIPF_TOP} corpus tokens with their
    rank-frequency product normalized by f(1) — under Zipf's law,
    freq * rank / f1 stays near 1.0 down the head.

    Top-N is TakeOrderedAndProject (no global sort materialization);
    the rank window then runs over {ZIPF_TOP} rows on one partition —
    constant-size work regardless of corpus scale.
    """
    docs = t["documents"]
    freq = (
        docs.select("doc_id", F.explode(tokenize_ws(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(ZIPF_TOP)
    )
    w = Window.orderBy(F.desc("freq"), "token")
    wall = Window.partitionBy()
    return freq.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "freq",
        rnd(
            (F.col("freq") * F.row_number().over(w)).cast("double")
            / F.max("freq").over(wall).cast("double"),
            6,
        ).alias("zipf_product"),
    )


ORACLE_ZIPF_HEAD = f"""
WITH freq AS (
  SELECT token, count(*) AS freq
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
  WHERE token <> ''
  GROUP BY token ORDER BY freq DESC, token LIMIT {ZIPF_TOP}
)
SELECT row_number() OVER (ORDER BY freq DESC, token) AS rank, token, freq,
       {duck_rnd("(freq * row_number() OVER (ORDER BY freq DESC, token))::DOUBLE"
                 " / (max(freq) OVER ())::DOUBLE", 6)} AS zipf_product
FROM freq ORDER BY rank
"""

QUERIES["txt_zipf_head"] = txt_zipf_head
ORACLES["txt_zipf_head"] = ORACLE_ZIPF_HEAD


# --- txt_dsir_weights --------------------------------------------------------

DSIR_BUCKETS = 128
DSIR_TARGET_LANG = "en"
DSIR_TOP = 50


def txt_dsir_weights(t: dict[str, DataFrame]) -> DataFrame:
    """DSIR-style hashed importance weights (Xie et al. 2023),
    linearized: tokens hash into {DSIR_BUCKETS} buckets; each bucket gets
    a smoothed target/raw frequency ratio (target = lang='{DSIR_TARGET_LANG}'
    docs); a document's score is the mean bucket ratio over its tokens.
    The classic formulation multiplies ratios (log-space sum); the mean
    keeps the arithmetic log-free and cross-engine exact while ranking
    documents identically for moderate ratio spreads.

    The 128-row bucket table broadcasts; the token postings are read
    once and shuffle once (per-doc aggregation).
    """
    from pypers_spark.functions.caching import tracked_persist

    docs = t["documents"]
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(tokenize_ws(F.col("text"))).alias("token"),
    ).filter(F.col("token") != "")
    # One persisted postings pass: raw counts, target counts, and the
    # grand totals all derive from a single per-bucket aggregation (a
    # naive four-branch plan re-explodes the corpus per branch — 2.1 s
    # vs 0.9 s at sf0.1).
    bucketed = tracked_persist(
        toks.select(
            "doc_id", "lang", (md5_int64(F.col("token")) % DSIR_BUCKETS).alias("b")
        ),
        "curation_extra.dsir_postings",
    )
    per_bucket = bucketed.groupBy("b").agg(
        F.count("*").alias("rc"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("tc"),
    )
    totals = per_bucket.agg(F.sum("rc").alias("R"), F.sum("tc").alias("T"))
    ratios = per_bucket.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            ((F.col("tc") + 1) * (F.col("R") + DSIR_BUCKETS)).cast("double")
            / ((F.col("rc") + 1) * (F.col("T") + DSIR_BUCKETS)).cast("double")
        ).alias("ratio"),
    )
    scored = (
        bucketed.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (dsum(F.col("ratio")) / F.count("*")).alias("score_raw"),
        )
        .select("doc_id", "n_tokens", rnd(F.col("score_raw"), 6).alias("dsir_score"))
    )
    return scored.orderBy(F.desc("dsir_score"), "doc_id").limit(DSIR_TOP)


ORACLE_DSIR = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS token FROM documents
),
bucketed AS (
  SELECT doc_id, lang, {duck_md5_int64("token")} % {DSIR_BUCKETS} AS b
  FROM toks WHERE token <> ''
),
raw AS (SELECT b, count(*) AS rc FROM bucketed GROUP BY b),
tgt AS (SELECT b, count(*) AS tc FROM bucketed
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
totals AS (
  SELECT count(*) AS R,
         count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS T
  FROM bucketed
),
ratios AS (
  SELECT raw.b,
         ((coalesce(tc, 0) + 1) * (R + {DSIR_BUCKETS}))::DOUBLE
           / ((rc + 1) * (T + {DSIR_BUCKETS}))::DOUBLE AS ratio
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN totals
),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         {duck_rnd(f"{duck_dsum('ratio')} / count(*)", 6)} AS dsir_score
  FROM bucketed JOIN ratios USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, dsir_score
FROM scored ORDER BY dsir_score DESC, doc_id LIMIT {DSIR_TOP}
"""

QUERIES["txt_dsir_weights"] = txt_dsir_weights
ORACLES["txt_dsir_weights"] = ORACLE_DSIR


# --- op_stratified_sample ----------------------------------------------------

STRATUM_TARGET = 10


def op_stratified_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic stratified sampling: per source (stratum), keep the
    {STRATUM_TARGET} documents with the smallest doc-id hash — a
    reproducible uniform-without-replacement sample per stratum (hash
    order is uncorrelated with any data attribute).

    One shuffle on the stratum key; rank-within-stratum instead of
    Bernoulli sampling so the sample is exact-size and engine-portable.
    """
    docs = t["documents"]
    w = Window.partitionBy("source").orderBy(md5_int64(F.col("doc_id")), "doc_id")
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("draw"))
        .filter(F.col("draw") <= STRATUM_TARGET)
    )


ORACLE_STRATIFIED = f"""
SELECT source, doc_id, draw FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY {duck_md5_int64("doc_id")}, doc_id) AS draw
  FROM documents
) WHERE draw <= {STRATUM_TARGET}
ORDER BY source, draw
"""

QUERIES["op_stratified_sample"] = op_stratified_sample
ORACLES["op_stratified_sample"] = ORACLE_STRATIFIED


# --- op_corr_exact -----------------------------------------------------------


def op_corr_exact(t: dict[str, DataFrame]) -> DataFrame:
    """Pearson correlation and regression slope of quantity vs
    extendedprice per return flag, from EXACT integer moment sums.

    Built-in corr()/covar accumulate doubles in partition order —
    nondeterministic across engines and runs. Here x, y quantize to
    integers (quantity is integral; price to whole dollars), the five
    moments accumulate as exact int64 sums (order-free), and the
    correlation forms in one deterministic double expression at the end.
    Overflow envelope: sum(y^2) < 2^63 up to ~10^8 rows per group
    (TPC-H sf ~100) — beyond that, widen to decimal.
    """
    li = t["lineitem"]
    x = F.floor(F.col("l_quantity") + F.lit(0.5))
    y = F.floor(F.col("l_extendedprice") + F.lit(0.5))
    agg = (
        li.select(F.col("l_returnflag"), x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n, sx, sy = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxy, sxx, syy = [F.col(c).cast("double") for c in ("sxy", "sxx", "syy")]
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return agg.select(
        "l_returnflag",
        "n",
        rnd(cov_n / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
        rnd(cov_n / var_x, 6).alias("slope_price_per_qty"),
    )


ORACLE_CORR_EXACT = f"""
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(floor(l_quantity + 0.5)::BIGINT) AS sx,
         sum(floor(l_extendedprice + 0.5)::BIGINT) AS sy,
         sum(floor(l_quantity + 0.5)::BIGINT
             * floor(l_extendedprice + 0.5)::BIGINT) AS sxy,
         sum(floor(l_quantity + 0.5)::BIGINT
             * floor(l_quantity + 0.5)::BIGINT) AS sxx,
         sum(floor(l_extendedprice + 0.5)::BIGINT
             * floor(l_extendedprice + 0.5)::BIGINT) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {duck_rnd("(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)"
                 " / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)"
                 " * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))", 6)}
         AS corr_qty_price,
       {duck_rnd("(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)"
                 " / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)", 6)}
         AS slope_price_per_qty
FROM m ORDER BY l_returnflag
"""

QUERIES["op_corr_exact"] = op_corr_exact
ORACLES["op_corr_exact"] = ORACLE_CORR_EXACT


# --- ann_kmeans_assign -------------------------------------------------------

KMEANS_K = 8


def ann_kmeans_assign(t: dict[str, DataFrame]) -> DataFrame:
    """One Lloyd assignment step: centroids are the first {KMEANS_K}
    vectors by id (deterministic seeding); every vector assigns to the
    nearest centroid by squared L2 distance (|a|^2 - 2ab + |b|^2, the
    same dot-product chain in both engines), ties to the lower id.

    The k-row centroid table broadcasts; assignment is map-side O(n*k);
    the only shuffles are the per-vector argmin (struct-min aggregation,
    partial-aggregated) and the final k-row rollup. This is the building
    block ann_ivf iterates.
    """
    emb = t["embeddings"]
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    a, b = F.col("embedding"), F.col("cvec")
    d2 = (dot(a, a) - 2 * dot(a, b) + dot(b, b)).alias("d2")
    pairs = emb.crossJoin(F.broadcast(cent)).select("vec_id", "cid", d2)
    assigned = (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid"), F.col("best.d2").alias("d2"))
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_assigned"),
            rnd(dsum(F.col("d2")) / F.count("*"), 4).alias("avg_d2"),
        )
    )


_D2 = (
    f"({duck_dot('e.embedding', 'e.embedding')} "
    f"- 2 * {duck_dot('e.embedding', 'c.cvec')} "
    f"+ {duck_dot('c.cvec', 'c.cvec')})"
)

ORACLE_KMEANS = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < {KMEANS_K}
),
pairs AS (
  SELECT e.vec_id, c.cid, {_D2} AS d2
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT cid, count(*) AS n_assigned,
       {duck_rnd(f"{duck_dsum('d2')} / count(*)", 4)} AS avg_d2
FROM assigned GROUP BY cid ORDER BY cid
"""

QUERIES["ann_kmeans_assign"] = ann_kmeans_assign
ORACLES["ann_kmeans_assign"] = ORACLE_KMEANS


# --- ev_mad_outliers ---------------------------------------------------------

MAD_SIGMA = 3.0


def ev_mad_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Robust outlier counts per event type via Median Absolute
    Deviation: |value - median| > {MAD_SIGMA} * MAD. Unlike the z-score
    variant (ev_zscore_outliers), a few extreme points cannot inflate
    the threshold — the standard robust gate for metric streams.

    Two exact-percentile aggregations (median, then MAD) over the same
    event_type partitioning — the second reuses the first's shuffle
    under AQE; the tiny per-type threshold table broadcasts back.

    Both percentiles are quantized to 1e-6 (rnd/duck_rnd) BEFORE any
    comparison: Spark F.percentile and DuckDB quantile_cont are
    independent float interpolators, and an unquantized threshold would
    make outlier membership hinge on last-ulp agreement between them —
    the same exact-primitive discipline as dsum/md5 everywhere else.
    """
    from pypers_spark.functions.percentile import exact_percentiles

    ev = t["events"]
    med = exact_percentiles(
        ev, "value", [(0.5, "_med")], group_cols=["event_type"]
    ).select("event_type", rnd(F.col("_med"), 6).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = exact_percentiles(
        dev, "adev", [(0.5, "_mad")], group_cols=["event_type"]
    ).select("event_type", rnd(F.col("_mad"), 6).alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("adev") > MAD_SIGMA * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
            rnd(F.first("med"), 4).alias("med"),
            rnd(F.first("mad"), 4).alias("mad"),
        )
    )


ORACLE_MAD = f"""
WITH med AS (
  SELECT event_type, {duck_rnd('quantile_cont(value, 0.5)', 6)} AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, {duck_rnd('quantile_cont(adev, 0.5)', 6)} AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*) AS n_total,
       count(*) FILTER (d.adev > {MAD_SIGMA} * m2.mad) AS n_outliers,
       {duck_rnd("any_value(d.med)", 4)} AS med,
       {duck_rnd("any_value(m2.mad)", 4)} AS mad
FROM dev d JOIN mad m2 USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
"""

QUERIES["ev_mad_outliers"] = ev_mad_outliers
ORACLES["ev_mad_outliers"] = ORACLE_MAD


# --- op_mixture_weights ------------------------------------------------------

MIX_CAP = 5.0


def op_mixture_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus mixture reweighting: per-language sampling weights that
    would equalize the token mixture (target share = 1/n_languages),
    capped at {MIX_CAP}x upsampling — the rebalancing computation behind
    training-mixture recipes.

    Token counts are exact integers from one explode+count; the totals
    row broadcasts. Output is n_languages rows regardless of scale.
    """
    docs = t["documents"]
    toks = docs.select("lang", F.explode(tokenize_ws(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    per_lang = toks.groupBy("lang").agg(F.count("*").alias("n_tokens"))
    docs_per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    totals = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count("*").alias("n_langs")
    )
    return (
        per_lang.join(docs_per_lang, "lang")
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            rnd(
                F.least(
                    F.lit(MIX_CAP),
                    F.col("total_tokens").cast("double")
                    / (F.col("n_langs") * F.col("n_tokens")).cast("double"),
                ),
                6,
            ).alias("weight"),
        )
    )


ORACLE_MIXTURE = f"""
WITH toks AS (
  SELECT lang, unnest({_DUCK_TOKS}) AS token FROM documents
),
per_lang AS (
  SELECT lang, count(*) AS n_tokens FROM toks WHERE token <> '' GROUP BY lang
),
docs_per_lang AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
totals AS (
  SELECT sum(n_tokens) AS total_tokens, count(*) AS n_langs FROM per_lang
)
SELECT lang, n_docs, n_tokens,
       {duck_rnd(f"least({MIX_CAP}, (total_tokens::DOUBLE) / ((n_langs * n_tokens)::DOUBLE))", 6)}
         AS weight
FROM per_lang JOIN docs_per_lang USING (lang) CROSS JOIN totals
ORDER BY lang
"""

QUERIES["op_mixture_weights"] = op_mixture_weights
ORACLES["op_mixture_weights"] = ORACLE_MIXTURE


# --- dd_contamination --------------------------------------------------------

CONTAM_HOLDOUT_MOD = 10  # every 10th doc (by id hash) is the "eval set"


def dd_contamination(t: dict[str, DataFrame]) -> DataFrame:
    """Benchmark-contamination check: for each held-out 'eval' document
    (deterministic 1-in-{CONTAM_HOLDOUT_MOD} by id hash), the fraction
    of its word {SPAN_N}-grams that appear anywhere in the training
    split — the standard decontamination pass before an eval release.

    The training side collapses to DISTINCT gram hashes (vocabulary ≪
    postings) before the join; eval postings left-join that set on the
    gram hash and aggregate per doc — one shuffle each side, no
    doc×doc work anywhere.
    """
    docs = t["documents"]
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with_toks = docs.select(
        "doc_id", tokenize_ws(F.col("text")).alias("toks")
    ).repartition(n_part, F.col("doc_id"))
    grams = with_toks.select(
        "doc_id", F.explode(_word_ngrams_of(F.col("toks"), SPAN_N)).alias("gram")
    ).select("doc_id", md5_int64(F.col("gram")).alias("gh"))
    is_eval = md5_int64(F.col("doc_id")) % CONTAM_HOLDOUT_MOD == 0
    eval_grams = grams.filter(is_eval)
    train_set = grams.filter(~is_eval).select("gh").distinct().withColumn(
        "hit", F.lit(1)
    )
    return (
        eval_grams.join(train_set, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            rnd(F.col("n_hit").cast("double") / F.col("n_grams"), 4).alias(
                "overlap_frac"
            ),
        )
    )


ORACLE_CONTAMINATION = f"""
WITH g AS (
  SELECT doc_id, {_duck_word_ngrams(_DUCK_TOKS, SPAN_N)} AS grams FROM documents
),
pos AS (
  SELECT doc_id, unnest(range(1, len(grams) + 1)) AS i, grams FROM g
),
h AS (
  SELECT doc_id, {duck_md5_int64("grams[i]")} AS gh FROM pos
),
eval_grams AS (
  SELECT doc_id, gh FROM h
  WHERE {duck_md5_int64("doc_id")} % {CONTAM_HOLDOUT_MOD} = 0
),
train_set AS (
  SELECT DISTINCT gh FROM h
  WHERE {duck_md5_int64("doc_id")} % {CONTAM_HOLDOUT_MOD} <> 0
)
SELECT e.doc_id, count(*) AS n_grams,
       count(t.gh) AS n_hit,
       {duck_rnd("count(t.gh)::DOUBLE / count(*)", 4)} AS overlap_frac
FROM eval_grams e LEFT JOIN train_set t ON e.gh = t.gh
GROUP BY e.doc_id ORDER BY e.doc_id
"""

QUERIES["dd_contamination"] = dd_contamination
ORACLES["dd_contamination"] = ORACLE_CONTAMINATION


# --- txt_bigram_score --------------------------------------------------------


def txt_bigram_score(t: dict[str, DataFrame]) -> DataFrame:
    """Log-free bigram predictability score per document — the
    LM-quality-filter shape (the CCNet / Gopher lineage) with the
    corpus itself as the model: for each in-document bigram (w1, w2),
    the conditional ratio count(w1, w2) / count(w1, ·) from the whole
    corpus; a document's score is the mean ratio. Boilerplate and
    well-formed prose score high; lexical noise scores near 1/vocab.
    Log-free (plain ratio mean, not mean log-prob) so both engines
    compute identical IEEE doubles — same trick as txt_tfidf_top.

    Scale: the postings explode ONCE and are persisted; bigram and
    left-unigram counts are vocabulary-sized aggregates of it (two
    hash-agg shuffles), joined back onto the postings — model tables ≪
    corpus, so at 100 TB AQE broadcasts them (or buckets the join); no
    doc×doc work anywhere. The left-context denominator counts bigram
    STARTS (tokens except document-final ones), making numerator and
    denominator draw from the same event space — ratios sum to 1 per
    left context over the vocabulary.
    """
    from pypers_spark.functions.caching import tracked_persist

    d = _norm_docs(t["documents"])
    tk = d.select("doc_id", F.split(F.col("nt"), " ").alias("tk")).filter(
        F.size("tk") >= 2
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.struct(
            F.element_at(F.col("tk"), i).alias("w1"),
            F.element_at(F.col("tk"), i + 1).alias("w2"),
        ),
    )
    big = tracked_persist(
        tk.select("doc_id", F.explode(pairs).alias("b")).select(
            "doc_id", "b.w1", "b.w2"
        ),
        "curation.bigram_postings",
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    # r11 (guide §2.3): the left-unigram denominator is the bigram
    # table marginalized over w2 — summing the vocabulary-sized bc
    # instead of re-aggregating the full posting stream saves a whole
    # pass over ``big`` (~16 of the query's 48 executor-task-seconds),
    # and pre-joining the two model tables means the posting stream is
    # joined (broadcast) ONCE instead of twice.
    uc = bc.groupBy("w1").agg(F.sum("cb").alias("cu"))
    ratio = F.col("cb").cast("double") / F.col("cu").cast("double")
    model = bc.join(uc, "w1").select("w1", "w2", ratio.alias("ratio"))
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            rnd(dsum(F.col("ratio")) / F.count(F.lit(1)), 6).alias(
                "bigram_score"
            ),
        )
    )


ORACLE_BIGRAM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
  WHERE len({_DUCK_TOKS}) >= 2
),
big AS (
  SELECT doc_id, u.w1 AS w1, u.w2 AS w2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk)),
                  i -> {{'w1': tk[i], 'w2': tk[i + 1]}})) AS u
    FROM toks
  )
),
bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
uc AS (SELECT w1, count(*) AS cu FROM big GROUP BY 1)
SELECT big.doc_id AS doc_id, count(*) AS n_bigrams,
       {duck_rnd(duck_dsum('CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)') + ' / count(*)', 6)} AS bigram_score
FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1)
GROUP BY big.doc_id ORDER BY doc_id
"""

QUERIES["txt_bigram_score"] = txt_bigram_score
ORACLES["txt_bigram_score"] = ORACLE_BIGRAM_SCORE


# --- txt_ngram_novelty -------------------------------------------------------


def txt_ngram_novelty(t: dict[str, DataFrame]) -> DataFrame:
    """First-occurrence novelty per document: the fraction of a doc's
    DISTINCT word {SPAN_N}-grams whose first corpus occurrence (min
    doc_id) is this document. The data-mixing signal behind
    dedup-aware sampling: near-1 novelty = fresh content, near-0 =
    the doc restates grams earlier docs already contributed.

    Shape: distinct grams per doc (hashed — int64 compares downstream),
    a corpus-wide min-doc_id hash-agg per gram (vocabulary-sized,
    partial-aggregated), joined back onto the doc postings and rolled
    up per doc. Two shuffles total, no doc×doc work; at 100 TB the
    gram→first-doc table is the persisted artifact an incremental
    ingest maintains with a merge.
    """
    docs = t["documents"]
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with_toks = docs.select(
        "doc_id", tokenize_ws(F.col("text")).alias("toks")
    ).repartition(n_part, F.col("doc_id"))
    grams = (
        with_toks.select(
            "doc_id",
            F.explode(F.array_distinct(_word_ngrams_of(F.col("toks"), SPAN_N))).alias(
                "gram"
            ),
        )
        .select("doc_id", md5_int64(F.col("gram")).alias("gh"))
    )
    first = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            rnd(F.col("n_novel").cast("double") / F.col("n_grams"), 4).alias(
                "novelty"
            ),
        )
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH g AS (
  SELECT doc_id, list_distinct({_duck_word_ngrams(_DUCK_TOKS, SPAN_N)}) AS grams
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(range(1, len(grams) + 1)) AS i, grams FROM g
),
h AS (
  SELECT doc_id, {duck_md5_int64("grams[i]")} AS gh FROM pos
),
first AS (
  SELECT gh, min(doc_id) AS first_doc FROM h GROUP BY 1
)
SELECT h.doc_id AS doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN first_doc = h.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       {duck_rnd("sum(CASE WHEN first_doc = h.doc_id THEN 1 ELSE 0 END)::DOUBLE / count(*)", 4)} AS novelty
FROM h JOIN first USING (gh)
GROUP BY h.doc_id ORDER BY doc_id
"""

QUERIES["txt_ngram_novelty"] = txt_ngram_novelty
ORACLES["txt_ngram_novelty"] = ORACLE_NGRAM_NOVELTY


# --- dd_span_scrub -----------------------------------------------------------


def dd_span_scrub(t: dict[str, DataFrame]) -> DataFrame:
    """The APPLIED exact-substring dedup (Lee et al.'s rewrite step):
    remove every token covered by a cross-document duplicated
    {SPAN_N}-gram span (dd_dup_spans finds them; this pass cuts them)
    and emit the scrubbed corpus accounting — tokens before/removed and
    the md5 of the surviving text, so the gate value-checks the actual
    rewrite, not just the span list.

    Plan: the posting window marks duplicated gram positions (same
    single gram-hash shuffle as dd_dup_spans), each mark fans out to its
    ≤{SPAN_N} covered token indices (bounded explode), and the rewrite
    is one anti-join of the token table against the covered set followed
    by an ordered re-assembly per document (array_sort over (idx, token)
    structs — deterministic under any shuffle order). No quadratic
    anything: cost is O(tokens · {SPAN_N}) regardless of corpus size.
    """
    docs = t["documents"]
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with_toks = docs.select(
        "doc_id", tokenize_ws(F.col("text")).alias("toks")
    ).repartition(n_part, F.col("doc_id"))
    from pypers_spark.functions.caching import tracked_persist

    with_toks = tracked_persist(with_toks, "curation.span_scrub_toks")
    grams = with_toks.select(
        "doc_id",
        F.posexplode(_word_ngrams_of(F.col("toks"), SPAN_N)).alias("pos", "gram"),
    ).select("doc_id", "pos", md5_int64(F.col("gram")).alias("gh"))
    wg = Window.partitionBy("gh")
    marked = (
        grams.withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(F.col("dmin") != F.col("dmax"))
        .select("doc_id", "pos")
    )
    # r11 (guide §2.3): aggregate the covered indices to ONE small
    # array per document and rebuild the scrubbed text IN-ARRAY.
    # Tokens never cross an exchange: the r10 form posexploded every
    # token, anti-joined on (doc_id, idx) and re-assembled with
    # array_sort(collect_list(...)) — three token-level shuffles that
    # this form replaces with one covered-index aggregation (rows
    # bounded by marked positions, not tokens). array_except is the
    # hash-based ordered complement, linear in tokens + covered.
    covered_arr = (
        marked.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_N - 1))
            ).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("cov"))
    )
    toks_col = F.col("toks")
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.size(toks_col) - 1),
        F.coalesce(F.col("cov"), F.array().cast("array<integer>")),
    )
    # Bind kept_idx as a lambda variable (one evaluation) — its three
    # consumers (count, removed-count, md5 rebuild) would otherwise
    # each re-run the array_except.
    res = F.element_at(
        F.transform(
            F.array(kept_idx),
            lambda ki: F.struct(
                F.size(ki).alias("k"),
                F.md5(
                    F.concat_ws(
                        " ",
                        F.transform(ki, lambda i: F.element_at(toks_col, i + 1)),
                    )
                ).alias("m"),
            ),
        ),
        1,
    )
    return (
        with_toks.join(covered_arr, "doc_id", "left")
        .select("doc_id", F.size(toks_col).alias("n_tok"), res.alias("res"))
        .select(
            "doc_id",
            "n_tok",
            F.col("res.k").cast("bigint").alias("n_tok_kept"),
            (F.col("n_tok") - F.col("res.k")).cast("bigint").alias(
                "n_tok_removed"
            ),
            F.col("res.m").alias("scrubbed_md5"),
        )
    )


ORACLE_SPAN_SCRUB = f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, {_duck_word_ngrams('toks', SPAN_N)} AS grams FROM tok
),
pos AS (
  SELECT doc_id, unnest(range(1, len(grams) + 1)) AS i, grams FROM g
),
h AS (
  SELECT doc_id, i - 1 AS pos, {duck_md5_int64("grams[i]")} AS gh FROM pos
),
dup AS (SELECT gh FROM h GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT h.doc_id, h.pos FROM h JOIN dup USING (gh)),
covered AS (
  SELECT DISTINCT doc_id, pos + d AS idx
  FROM marked, unnest(range({SPAN_N})) AS t(d)
),
tokens AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) - 1 AS idx, toks FROM tok
),
kept AS (
  SELECT t.doc_id, t.idx, t.toks[t.idx + 1] AS token
  FROM tokens t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_tok_kept,
         md5(string_agg(token, ' ' ORDER BY idx)) AS scrubbed_md5
  FROM kept GROUP BY doc_id
)
SELECT tok.doc_id AS doc_id, len(tok.toks) AS n_tok,
       coalesce(r.n_tok_kept, 0) AS n_tok_kept,
       len(tok.toks) - coalesce(r.n_tok_kept, 0) AS n_tok_removed,
       coalesce(r.scrubbed_md5, md5('')) AS scrubbed_md5
FROM tok LEFT JOIN rebuilt r ON tok.doc_id = r.doc_id
ORDER BY doc_id
"""

QUERIES["dd_span_scrub"] = dd_span_scrub
ORACLES["dd_span_scrub"] = ORACLE_SPAN_SCRUB


# --- ann_kmeans_update -------------------------------------------------------


def ann_kmeans_update(t: dict[str, DataFrame]) -> DataFrame:
    """The OTHER half of a Lloyd iteration: recompute each centroid as
    the exact mean of its assigned vectors and report how far it moved —
    ann_kmeans_assign is the E-step, this is the M-step; together they
    are the loop a production IVF/k-means codebook trainer iterates
    (compare ann_ivf seeding and dd_semantic_dedup's sqrt-K cells).

    The per-dimension mean is an exact int-quantized sum over a
    posexplode of the assigned vectors — one shuffle keyed on
    (cid, dim), {KMEANS_K}·64 output rows, order-independent and
    bit-identical in the oracle. Movement = squared L2 between old and
    new centroid, assembled by joining the 64 per-dim means back into
    an array (array_agg over a sorted struct — deterministic). At
    100 TB: the explode is map-side, the (cid, dim) aggregation is the
    only data-sized shuffle, and the k×64 result broadcasts into the
    next assign step.
    """
    emb = t["embeddings"]
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    a, b = F.col("embedding"), F.col("cvec")
    d2 = (dot(a, a) - 2 * dot(a, b) + dot(b, b)).alias("d2")
    pairs = emb.crossJoin(F.broadcast(cent)).select("vec_id", "embedding", "cid", d2)
    assigned = (
        pairs.groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cid")).alias("best"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", F.col("best.cid").alias("cid"), "embedding")
    )
    per_dim = (
        assigned.select("cid", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(
            (F.sum(F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)))
             / (F.count("*") * 1e6)).alias("mu")
        )
    )
    new_cent = per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
        ).alias("nvec"),
        F.count("*").alias("n_dims"),
    )
    moved = new_cent.join(cent, "cid").select(
        "cid",
        "n_dims",
        rnd(
            F.aggregate(
                F.zip_with(
                    F.col("nvec"),
                    F.col("cvec"),
                    lambda x, y: (x - y.cast("double")) * (x - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("moved_d2"),
    )
    counts = assigned.groupBy("cid").agg(F.count("*").alias("n_assigned"))
    return (
        moved.join(counts, "cid")
        .select("cid", "n_assigned", "n_dims", "moved_d2")
    )


ORACLE_KMEANS_UPDATE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {KMEANS_K}
),
pairs AS (
  SELECT e.vec_id, e.embedding, c.cid, {_D2} AS d2
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, cid, embedding FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM pairs
  ) WHERE rn = 1
),
per_dim AS (
  SELECT cid, dim - 1 AS dim,
         sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           / (count(*) * 1000000.0) AS mu
  FROM (
    SELECT cid, unnest(range(1, len(embedding) + 1)) AS dim, embedding
    FROM assigned
  ) t_pos, LATERAL (SELECT embedding[dim] AS x) lx
  GROUP BY cid, dim
),
new_cent AS (
  SELECT cid, list(mu ORDER BY dim) AS nvec, count(*) AS n_dims FROM per_dim GROUP BY cid
),
counts AS (SELECT cid, count(*) AS n_assigned FROM assigned GROUP BY cid)
SELECT n.cid AS cid, counts.n_assigned, CAST(n.n_dims AS BIGINT) AS n_dims,
       {duck_rnd("list_sum(list_transform(range(1, len(n.nvec) + 1), i -> (n.nvec[i] - CAST(c.cvec[i] AS DOUBLE)) * (n.nvec[i] - CAST(c.cvec[i] AS DOUBLE))))", 6)} AS moved_d2
FROM new_cent n JOIN c ON n.cid = c.cid JOIN counts ON counts.cid = n.cid
ORDER BY cid
"""

QUERIES["ann_kmeans_update"] = ann_kmeans_update
ORACLES["ann_kmeans_update"] = ORACLE_KMEANS_UPDATE


# --- op_pps_sample -----------------------------------------------------------

PPS_K = 20  # sample slots per source stratum


def op_pps_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Systematic probability-proportional-to-size sampling per source:
    {PPS_K} slots per stratum, each doc's selection odds proportional
    to its n_chars — the weighted sampler a mixture builder runs when
    "pick K documents per source, favoring the big ones" must be
    reproducible across engines and reruns.

    EXACT-INTEGER discipline: docs are laid on a per-source cumulative
    weight line (window sum ordered by doc_id), slot j probes position
    ((2j+1)·total) div (2K) — the textbook systematic-PPS midpoints —
    and the doc whose [lo, hi) interval covers the probe is selected.
    No ln/pow priority keys (Efraimidis-Spirtsos A-Res needs
    last-ulp-identical libm across engines — a parity trap); integer
    div/compare is bit-exact everywhere. A doc wider than one stride
    is selected by MULTIPLE slots — standard PPS-with-replacement
    semantics, deterministic here.

    Scale shape: the weight-line window partitions by source (fully
    distributed); the probe side is |sources|·{PPS_K} rows, broadcast;
    the fact table never shuffles beyond the per-source window. At
    100 TB the same plan runs per date-partition and the slot table
    stays broadcast-sized.
    """
    d = t["documents"].select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("source").orderBy("doc_id")
    lined = d.select(
        "doc_id",
        "source",
        "w",
        (F.sum("w").over(w_cum) - F.col("w")).alias("lo"),
        F.sum("w").over(w_cum).alias("hi"),
    )
    slots = (
        d.groupBy("source")
        .agg(F.sum("w").alias("total"))
        .select(
            F.col("source").alias("s_source"),
            F.explode(F.sequence(F.lit(0), F.lit(PPS_K - 1))).alias("slot"),
            "total",
        )
        .select(
            "s_source",
            "slot",
            F.expr(f"((2 * slot + 1) * total) div {2 * PPS_K}").alias("p"),
        )
    )
    return (
        lined.join(
            F.broadcast(slots),
            (lined["source"] == slots["s_source"])
            & (slots["p"] >= lined["lo"])
            & (slots["p"] < lined["hi"]),
        )
        .select("source", "slot", "doc_id", "w")
    )


ORACLE_PPS_SAMPLE = f"""
WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w FROM documents),
lined AS (
  SELECT doc_id, source, w,
         sum(w) OVER (PARTITION BY source ORDER BY doc_id) - w AS lo,
         sum(w) OVER (PARTITION BY source ORDER BY doc_id) AS hi
  FROM d
),
totals AS (SELECT source, sum(w) AS total FROM d GROUP BY 1),
slots AS (
  SELECT source AS s_source, CAST(i AS INT) AS slot,
         ((2 * i + 1) * total) // {2 * PPS_K} AS p
  FROM totals, unnest(range({PPS_K})) AS t(i)
)
SELECT l.source AS source, s.slot, l.doc_id, l.w
FROM lined l JOIN slots s
  ON l.source = s.s_source AND s.p >= l.lo AND s.p < l.hi
ORDER BY source, slot
"""

QUERIES["op_pps_sample"] = op_pps_sample
ORACLES["op_pps_sample"] = ORACLE_PPS_SAMPLE
