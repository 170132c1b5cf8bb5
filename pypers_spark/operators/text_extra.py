"""Corpus-level text analytics over ``documents`` (SURVEY.md §2.D).

Inverted-index-shaped statistics for training-data curation: document
frequency, TF-IDF term extraction, and lexical-diversity scoring.

Scale notes (100 TB intent):
- The exploded token table is the classic inverted-index build: one
  explode (no Python), partial-aggregated counts keyed on the token —
  the same shuffle an index builder would do. At 100 TB the df table is
  Zipf-skewed; AQE skew-split handles the head tokens, and the df side
  of the TF-IDF join is orders of magnitude smaller than the postings,
  so it broadcasts.
- All scores are ratio-of-integer-counts doubles (ln-free TF-IDF
  variant) — bit-identical across engines, no transcendental functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd
from pypers_spark.functions.text import duck_normalize_text, tokenize_ws

DF_TOP_K = 50

_DUCK_TOKS = f"string_split({duck_normalize_text('text')}, ' ')"


def txt_df_topk(t: dict[str, DataFrame]) -> DataFrame:
    """Top-50 tokens by document frequency (corpus stopword discovery)."""
    docs = t["documents"]
    per_doc = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize_ws(F.col("text")))).alias("token")
    ).filter(F.col("token") != "")
    return (
        per_doc.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(DF_TOP_K)
    )


ORACLE_DF_TOPK = f"""
SELECT token, count(*) AS df
FROM (
  SELECT DISTINCT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY df DESC, token
LIMIT {DF_TOP_K}
"""


def txt_tfidf_top(t: dict[str, DataFrame]) -> DataFrame:
    """Each document's most characteristic term by ln-free TF-IDF
    (score = tf · N / df), ties broken lexicographically.

    Postings (doc, token, tf) shuffle on the token once to build df,
    then join df back — the df side broadcasts at any scale (vocabulary
    ≪ postings). Top term per doc is a struct-max aggregation keyed on
    doc_id, not a row_number materialization.
    """
    docs = t["documents"]
    toks = docs.select(
        "doc_id", F.explode(tokenize_ws(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score", F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
        )
    )
    # min_by over an ordering struct, not a row_number window (r11,
    # guide §2.3): the aggregate does map-side partial aggregation —
    # one candidate row per doc per input partition crosses the
    # exchange, no per-doc sort. (-score, token) ascending is exactly
    # the window's (score DESC, token ASC) rank-1 row; score > 0
    # always (tf·N/df), so the negation is safe.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("token", "tf", "df", "score"),
                F.struct((-F.col("score")).alias("o1"), F.col("token").alias("o2")),
            ).alias("r")
        )
        .select(
            "doc_id",
            "r.token",
            "r.tf",
            "r.df",
            rnd(F.col("r.score"), 4).alias("score"),
        )
    )


ORACLE_TFIDF_TOP = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
),
dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.token AS token, tf, df,
         CAST(tf AS DOUBLE) * n_docs / df AS score
  FROM tf JOIN dft ON tf.token = dft.token, n
)
SELECT doc_id, token, tf, df, {duck_rnd('score', 4)} AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
  FROM scored
)
WHERE rn = 1
ORDER BY doc_id
"""


def txt_lexical_diversity(t: dict[str, DataFrame]) -> DataFrame:
    """Type-token ratio per document, rolled up per source.

    Pure column expressions (array_distinct over the token array — no
    shuffle for the per-doc part); the rollup is one tiny aggregation.
    Averages use exact decimal sums so they are order-independent.
    """
    docs = t["documents"]
    toks = tokenize_ws(F.col("text"))
    per_doc = docs.select(
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    ).withColumn(
        "ttr",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_types").cast("double") / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            rnd(dsum(F.col("ttr")) / F.count(F.lit(1)), 4).alias("avg_ttr"),
            rnd(F.min("ttr"), 4).alias("min_ttr"),
            rnd(F.max("ttr"), 4).alias("max_ttr"),
        )
    )


ORACLE_LEXICAL_DIVERSITY = f"""
WITH per_doc AS (
  SELECT source,
         CASE WHEN len({_DUCK_TOKS}) > 0
              THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE) / len({_DUCK_TOKS})
              ELSE 0.0 END AS ttr
  FROM documents
)
SELECT source, count(*) AS n_docs,
       {duck_rnd(duck_dsum('ttr') + ' / count(*)', 4)} AS avg_ttr,
       {duck_rnd('min(ttr)', 4)} AS min_ttr,
       {duck_rnd('max(ttr)', 4)} AS max_ttr
FROM per_doc
GROUP BY source
ORDER BY source
"""


def txt_repetition_filter(t: dict[str, DataFrame]) -> DataFrame:
    """Gopher-style repetition/quality gates per document.

    Metrics: token count, mean word length, duplicate-2-gram fraction,
    top-token fraction — plus the combined keep/drop verdict. All pure
    array expressions over a tokenized column materialized below an
    exchange (the lambda-over-materialized-column rule from §8); an
    embarrassingly parallel scan at any scale.
    """
    d = t["documents"]
    # Aggregation form, not array lambdas: metrics computed by explode +
    # aggregate survive downstream filters (predicates cannot push below
    # an aggregate and re-substitute the tokenize subtree — the §8
    # round-2 lesson) and the top-token count is O(n) per doc instead
    # of the array-lambda O(n²).
    toks = d.select(
        "doc_id", F.posexplode(tokenize_ws(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pair_stats = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("pair"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct(F.col("pair")).alias("n_distinct_pairs"),
        )
    )
    tok_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"), F.sum(F.length("tok")).alias("chars"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").alias("n_tokens"),
            F.sum("chars").alias("n_tok_chars"),
        )
    )
    m = tok_stats.join(pair_stats, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tok_chars").cast("double") / F.col("n_tokens")).alias("mean_wl"),
        F.when(
            F.coalesce(F.col("n_pairs"), F.lit(0)) > 0,
            F.lit(1.0) - F.col("n_distinct_pairs") / F.col("n_pairs"),
        ).otherwise(F.lit(0.0)).alias("dup2"),
        (F.col("top_cnt") / F.col("n_tokens")).alias("top_frac"),
    )
    keep = (
        F.col("n_tokens").between(5, 10000)
        & F.col("mean_wl").between(2.0, 12.0)
        & (F.col("dup2") < 0.3)
        & (F.col("top_frac") < 0.3)
    )
    return m.select(
        "doc_id",
        "n_tokens",
        rnd(F.col("mean_wl"), 4).alias("mean_word_len"),
        rnd(F.col("dup2"), 4).alias("dup_2gram_frac"),
        rnd(F.col("top_frac"), 4).alias("top_token_frac"),
        keep.alias("keep"),
    )


_DUCK_G2 = (
    f"CASE WHEN len({_DUCK_TOKS}) >= 2 THEN "
    f"list_transform(range(1, len({_DUCK_TOKS})), i -> {_DUCK_TOKS}[i] || ' ' || {_DUCK_TOKS}[i + 1]) "
    f"ELSE []::VARCHAR[] END"
)

ORACLE_REPETITION = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
         list_sum(list_transform({_DUCK_TOKS}, x -> length(x))) * 1.0
           / len({_DUCK_TOKS}) AS mean_wl,
         CASE WHEN len({_DUCK_G2}) > 0
              THEN 1.0 - len(list_distinct({_DUCK_G2})) * 1.0 / len({_DUCK_G2})
              ELSE 0.0 END AS dup2,
         list_max(list_transform(list_distinct({_DUCK_TOKS}),
                  x -> len(list_filter({_DUCK_TOKS}, y -> y = x)))) * 1.0
           / len({_DUCK_TOKS}) AS top_frac
  FROM documents
)
SELECT doc_id, n_tokens,
       {duck_rnd('mean_wl', 4)} AS mean_word_len,
       {duck_rnd('dup2', 4)} AS dup_2gram_frac,
       {duck_rnd('top_frac', 4)} AS top_token_frac,
       (n_tokens BETWEEN 5 AND 10000 AND mean_wl BETWEEN 2.0 AND 12.0
        AND dup2 < 0.3 AND top_frac < 0.3) AS keep
FROM m
ORDER BY doc_id
"""


BPE_TOP_K = 50


def txt_bpe_pair_freq(t: dict[str, DataFrame]) -> DataFrame:
    """Most frequent adjacent BPE-ish token pairs — ONE iteration of the
    BPE-training inner loop (count pairs → pick merges) over the
    corpus.

    Pair extraction is a pure array expression over the regex token
    array; counting is one partial-aggregated shuffle keyed on the
    pair. At 100 TB this is exactly the map-side-combined count a
    distributed BPE trainer repeats per merge round.
    """
    from pypers_spark.functions.text import tokenize_bpeish

    d = t["documents"]
    n_part = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = d.select(tokenize_bpeish(F.col("text")).alias("tk")).repartition(n_part)
    n = F.size("tk")
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                "␟", F.element_at(F.col("tk"), i), F.element_at(F.col("tk"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(BPE_TOP_K)
        .select(
            F.split_part(F.col("pair"), F.lit("␟"), F.lit(1)).alias("left_tok"),
            F.split_part(F.col("pair"), F.lit("␟"), F.lit(2)).alias("right_tok"),
            "n_occurrences",
        )
    )


ORACLE_BPE_PAIR = """
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]') AS tk
  FROM documents
),
pairs AS (
  SELECT unnest(
    CASE WHEN len(tk) >= 2
         THEN list_transform(range(1, len(tk)), i -> tk[i] || chr(9247) || tk[i + 1])
         ELSE []::VARCHAR[] END
  ) AS pair
  FROM toks
),
counted AS (
  SELECT pair, count(*) AS n_occurrences FROM pairs GROUP BY pair
  ORDER BY n_occurrences DESC, pair
  LIMIT 50
)
SELECT split_part(pair, chr(9247), 1) AS left_tok,
       split_part(pair, chr(9247), 2) AS right_tok,
       n_occurrences
FROM counted
"""


QUERIES = {
    "txt_df_topk": txt_df_topk,
    "txt_tfidf_top": txt_tfidf_top,
    "txt_lexical_diversity": txt_lexical_diversity,
    "txt_repetition_filter": txt_repetition_filter,
    "txt_bpe_pair_freq": txt_bpe_pair_freq,
}

ORACLES = {
    "txt_df_topk": ORACLE_DF_TOPK,
    "txt_tfidf_top": ORACLE_TFIDF_TOP,
    "txt_lexical_diversity": ORACLE_LEXICAL_DIVERSITY,
    "txt_repetition_filter": ORACLE_REPETITION,
    "txt_bpe_pair_freq": ORACLE_BPE_PAIR,
}


# --- txt_readability ---------------------------------------------------------


def txt_readability(t: dict[str, DataFrame]) -> DataFrame:
    """Syllable-free readability per document: average sentence length
    (words) and average word length (chars), blended into a
    Flesch-style difficulty score ``0.4 * asl + 5.0 * awl`` (the
    Gunning-Fog/ARI family without syllable counting, which no two
    engines agree on). The standard cheap quality gate after Gopher's
    repetition filters: wildly long sentences or words mark extraction
    noise, tables, and code.

    Pure column expressions — sentence counting is a regexp_count on
    terminal punctuation, word stats come off the token array; no
    shuffle for the per-doc part, one sort for presentation.
    """
    docs = t["documents"]
    toks = tokenize_ws(F.col("text"))
    n_words = F.size(toks)
    # sentences = terminal-punctuation runs; min 1 so ratios stay finite
    n_sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    )
    n_chars_in_words = F.aggregate(
        F.transform(toks, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = docs.select(
        "doc_id",
        n_words.alias("nw"),
        n_sents.alias("ns"),
        n_chars_in_words.alias("nc"),
    ).filter(F.col("nw") > 0)
    asl = F.col("nw").cast("double") / F.col("ns")
    awl = F.col("nc").cast("double") / F.col("nw")
    return base.select(
        "doc_id",
        F.col("nw").cast("bigint").alias("n_words"),
        F.col("ns").cast("bigint").alias("n_sentences"),
        rnd(asl, 4).alias("avg_sentence_len"),
        rnd(awl, 4).alias("avg_word_len"),
        rnd(0.4 * asl + 5.0 * awl, 4).alias("difficulty"),
    )


ORACLE_READABILITY = f"""
WITH base AS (
  SELECT doc_id,
         len({_DUCK_TOKS}) AS nw,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
         list_sum(list_transform({_DUCK_TOKS}, w -> length(w))) AS nc
  FROM documents
  WHERE len({_DUCK_TOKS}) > 0
)
SELECT doc_id,
       CAST(nw AS BIGINT) AS n_words,
       CAST(ns AS BIGINT) AS n_sentences,
       {duck_rnd('nw::DOUBLE / ns', 4)} AS avg_sentence_len,
       {duck_rnd('nc::DOUBLE / nw', 4)} AS avg_word_len,
       {duck_rnd('0.4 * (nw::DOUBLE / ns) + 5.0 * (nc::DOUBLE / nw)', 4)} AS difficulty
FROM base ORDER BY doc_id
"""

QUERIES["txt_readability"] = txt_readability
ORACLES["txt_readability"] = ORACLE_READABILITY


# --- txt_pii_scrub -------------------------------------------------------------


def txt_pii_scrub(t: dict[str, DataFrame]) -> DataFrame:
    """PII redaction, value-gated: plant one deterministic email, phone
    number, and IPv4 per document (derived from ``doc_id``, so both
    engines construct the identical string), run the shared
    ``scrub_pii`` regex pass, and emit the per-kind match counts plus
    the md5 of the scrubbed text.

    The synthetic corpus is digit- and @-free, so without injection the
    scrub path would gate vacuously (the round-3 lesson from
    dd_embedding_cos: a 0-hit green row certifies nothing). Injection
    guarantees ≥1 match per kind per row, and the md5 proves the
    replacement BYTES match, not just the counts.

    All column expressions (regexp_count / regexp_replace — RE2-safe
    patterns, no lookaround), whole-stage codegen, one scan, no shuffle
    except the output sort. At 100 TB this is the shape you want: a
    map-only pass that runs at parquet-scan speed.
    """
    from pypers_spark.functions.hashing import md5_hex
    from pypers_spark.functions.text import pii_count, scrub_pii

    d = t["documents"]
    did = F.col("doc_id")
    email = F.concat(F.lit("user"), did.cast("string"), F.lit("@example.com"))
    phone = F.concat(
        F.lit("555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit("10."),
        (did % 256).cast("string"),
        F.lit("."),
        (F.floor(did / 256) % 256).cast("string"),
        F.lit(".1"),
    )
    raw = F.concat(
        F.substring(F.col("text"), 1, 64),
        F.lit(" contact "), email,
        F.lit(" tel "), phone,
        F.lit(" ip "), ip,
    )
    return d.select(
        "doc_id",
        pii_count(raw, "email").alias("n_email"),
        pii_count(raw, "phone").alias("n_phone"),
        pii_count(raw, "ipv4").alias("n_ipv4"),
        md5_hex(scrub_pii(raw)).alias("scrubbed_md5"),
    )


def _oracle_pii_scrub() -> str:
    from pypers_spark.functions.text import _PII_ORDER, PII_PATTERNS

    raw = (
        "substring(text, 1, 64) || ' contact user' || doc_id::VARCHAR"
        " || '@example.com tel 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')"
        " || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
        " || ' ip 10.' || (doc_id % 256)::VARCHAR || '.'"
        " || ((doc_id // 256) % 256)::VARCHAR || '.1'"
    )
    scrubbed = "raw"
    for kind in _PII_ORDER:
        scrubbed = (
            f"regexp_replace({scrubbed}, '{PII_PATTERNS[kind]}',"
            f" '[{kind.upper()}]', 'g')"
        )
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(raw, '{PII_PATTERNS[k]}')) AS INT) AS n_{k}"
        for k in ("email", "phone", "ipv4")
    )
    return f"""
WITH base AS (SELECT doc_id, {raw} AS raw FROM documents)
SELECT doc_id,
       {counts},
       md5({scrubbed}) AS scrubbed_md5
FROM base ORDER BY doc_id
"""


QUERIES["txt_pii_scrub"] = txt_pii_scrub
ORACLES["txt_pii_scrub"] = _oracle_pii_scrub()


# --- txt_rake ----------------------------------------------------------------

RAKE_TOP_K = 10


def txt_rake(t: dict[str, DataFrame]) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), log-free: candidate
    phrases are maximal stopword-free token runs; word score =
    degree/frequency (degree = summed length of phrases containing the
    word — co-occurrence weight); phrase score = Σ member word scores;
    top-{RAKE_TOP_K} distinct phrases corpus-wide.

    Plan (r11, guide §2.3/§2.4): phrase extraction happens IN-ARRAY per
    document — separator positions (stopwords / empty tokens) are a
    filter over the token index sequence, and each maximal
    separator-free run becomes one phrase via an index slice — so
    tokens never cross an exchange (the r10 form posexploded every
    token through a doc_id row_number window and re-assembled runs with
    array_sort(collect_list(...))). Word scores are one hash-agg over
    the exploded phrase members; the phrase score re-join is
    member-keyed with the word-score table broadcast (its cardinality
    is the vocabulary, not the corpus). The final phrase score sums
    word-score doubles through the 1e-6 int quantization so shuffle
    order can't move it — the same dsum discipline as every revenue
    aggregate.
    """
    from pypers_spark.functions.text import STOPWORDS_EN

    docs = t["documents"]
    # Token array bound BELOW the exchange (the _signature_table
    # lesson) so the lambdas reference a materialized column.
    toks = docs.select("doc_id", tokenize_ws(F.col("text")).alias("tk"))
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = toks.repartition(n_part, F.col("doc_id"))
    tk = F.col("tk")
    seps = F.filter(
        F.sequence(F.lit(1), F.size(tk)),
        lambda i: (F.element_at(tk, i) == "")
        | F.element_at(tk, i).isin(*STOPWORDS_EN),
    )
    # Runs between consecutive separators (0 and n+1 as sentinels): the
    # run (s, e) covers tokens s+1 .. e-1 and is a phrase when
    # non-empty. ``seps`` is bound as a lambda variable so the per-token
    # separator scan evaluates once (the txt_winnowing binding trick).
    phrase_structs = F.element_at(
        F.transform(
            F.array(seps),
            lambda sp: F.filter(
                F.zip_with(
                    F.concat(F.array(F.lit(0)), sp),
                    F.concat(sp, F.array(F.size(tk) + 1)),
                    lambda s, e: F.when(
                        e - s >= 2,
                        F.struct(
                            F.concat_ws(
                                " ", F.slice(tk, s + 1, e - s - 1)
                            ).alias("phrase"),
                            (e - s - 1).cast("bigint").alias("n_words"),
                        ),
                    ),
                ),
                lambda p: p.isNotNull(),
            ),
        ),
        1,
    )
    phrases = toks.select(F.explode(phrase_structs).alias("p")).select(
        "p.phrase", "p.n_words"
    )
    members = phrases.select(
        "phrase", "n_words", F.explode(F.split(F.col("phrase"), " ")).alias("token")
    )
    scores = members.groupBy("token").agg(
        F.count("*").alias("freq"), F.sum("n_words").alias("deg")
    ).select(
        "token", (F.col("deg").cast("double") / F.col("freq")).alias("w_score")
    )
    dphrase = phrases.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"), F.first("n_words").alias("n_words")
    )
    pscore = (
        dphrase.select(
            "phrase", "n_occurrences", "n_words",
            F.explode(F.split(F.col("phrase"), " ")).alias("token"),
        )
        .join(F.broadcast(scores), "token")
        .groupBy("phrase", "n_occurrences", "n_words")
        .agg(
            (F.sum(F.floor(F.col("w_score") * 1e6 + F.lit(0.5))) / 1e6).alias("s")
        )
    )
    return (
        pscore.select(
            "phrase", "n_words", "n_occurrences", rnd(F.col("s"), 4).alias("rake_score")
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(RAKE_TOP_K)
    )


def _duck_rake_sql() -> str:
    from pypers_spark.functions.text import STOPWORDS_EN

    stop = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    return f"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS token
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)
),
nonstop AS (
  SELECT doc_id, pos, token FROM toks
  WHERE token <> '' AND token NOT IN ({stop})
),
runs AS (
  SELECT doc_id, pos, token,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM nonstop
),
phrases AS (
  SELECT doc_id, grp, string_agg(token, ' ' ORDER BY pos) AS phrase,
         count(*) AS n_words
  FROM runs GROUP BY doc_id, grp
),
members AS (
  SELECT phrase, n_words, unnest(string_split(phrase, ' ')) AS token FROM phrases
),
scores AS (
  SELECT token, CAST(sum(n_words) AS DOUBLE) / count(*) AS w_score
  FROM members GROUP BY token
),
dphrase AS (
  SELECT phrase, count(*) AS n_occurrences, any_value(n_words) AS n_words
  FROM phrases GROUP BY phrase
),
pmembers AS (
  SELECT phrase, n_occurrences, n_words,
         unnest(string_split(phrase, ' ')) AS token
  FROM dphrase
)
SELECT p.phrase,
       CAST(p.n_words AS BIGINT) AS n_words,
       p.n_occurrences,
       {duck_rnd('sum(CAST(floor(s.w_score * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0', 4)}
         AS rake_score
FROM pmembers p JOIN scores s ON p.token = s.token
GROUP BY p.phrase, p.n_words, p.n_occurrences
ORDER BY rake_score DESC, phrase
LIMIT {RAKE_TOP_K}
"""


QUERIES["txt_rake"] = txt_rake
ORACLES["txt_rake"] = _duck_rake_sql()


# --- txt_boilerplate_scrub (r8) -----------------------------------------------

BP_PARA_W = 12  # paragraph = 12-token non-overlapping window
BP_DF = 3       # boilerplate: paragraph appears in >= 3 DISTINCT docs


def txt_boilerplate_scrub(t: dict[str, DataFrame]) -> DataFrame:
    """Frequency-based boilerplate removal (the CCNet paragraph-hash
    dedup, on a corpus whose 'paragraphs' are {BP_PARA_W}-token
    non-overlapping windows): a paragraph occurring in ≥ {BP_DF}
    distinct documents is boilerplate (nav bars, cookie banners,
    license headers) and every occurrence is scrubbed — distinct from
    dd_chunk_exact, which only REPORTS duplicate chunk groups. Readout:
    per source, paragraphs/tokens before and after, docs touched, and
    the removal ratio — the retention accounting a curation run emits.

    Scale shape: paragraphs are a bounded in-row array transform (no
    token explode), and the whole readout is SCAN-ONCE: paragraph
    occurrences are pre-aggregated per (ph, doc_id) — map-side combine,
    one row per (paragraph, document) — then the document frequency is
    a count window over ph on that reduced set, replacing the
    hash-self-join shape (which computed the tokenize→md5 chain twice,
    once per join side) — O(paragraphs), never O(tokens²). At sf1 the
    fused plan is ~3x the old one's throughput; at 100 TB it halves the
    heavy string work and drops one shuffle of the full paragraph set.
    """
    docs = t["documents"]
    # Bind the token array to a real column BEFORE the paragraph
    # transform: referencing the raw split(text) expression inside the
    # transform lambda makes Catalyst re-evaluate the tokenize per
    # sequence element (O(paragraphs x tokens) per doc — measured ~4x
    # the whole scan at sf1); a projected column is computed once per
    # row and the lambda only slices it.
    tokd = docs.select(
        "doc_id", "source", tokenize_ws(F.col("text")).alias("toks")
    )
    tk = F.col("toks")
    n_paras = F.ceil(F.size(tk) / F.lit(BP_PARA_W)).cast("int")
    paras = tokd.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda i: F.array_join(
                    F.slice(tk, i * BP_PARA_W + 1, BP_PARA_W), " "
                ),
            )
        ).alias("para_idx", "para"),
    ).withColumn("n_tok", F.size(F.split(F.col("para"), " ")))
    hashed = paras.withColumn("ph", F.md5("para"))
    # One row per (paragraph, document): occurrence count and token sum.
    per_doc = hashed.groupBy("ph", "doc_id", "source").agg(
        F.count("*").alias("n_occ"),
        F.sum("n_tok").alias("n_tok"),
    )
    # Document frequency = rows per ph in the (ph, doc) set; ph is
    # high-cardinality, so the window partitions are tiny and skew-free.
    flagged = per_doc.withColumn(
        "is_bp",
        (F.count("*").over(Window.partitionBy("ph")) >= BP_DF).cast("int"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("n_occ").alias("n_paras"),
            F.sum(F.col("is_bp") * F.col("n_occ")).alias("n_removed"),
            F.sum("n_tok").cast("bigint").alias("tokens_before"),
            F.sum(F.when(F.col("is_bp") == 0, F.col("n_tok")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("tokens_after"),
            F.count_distinct(F.when(F.col("is_bp") == 1, F.col("doc_id"))).alias(
                "docs_touched"
            ),
            rnd(
                F.sum(F.col("is_bp") * F.col("n_occ")).cast("double")
                / F.sum("n_occ"),
                6,
            ).alias("removal_ratio"),
        )
    )


_BP_TOKS = f"string_split({duck_normalize_text('text')}, ' ')"

ORACLE_BOILERPLATE_SCRUB = f"""
WITH paras AS (
  SELECT doc_id, source,
         array_to_string(
           list_slice({_BP_TOKS}, CAST(i * {BP_PARA_W} + 1 AS INT),
                      CAST((i + 1) * {BP_PARA_W} AS INT)), ' ') AS para
  FROM documents,
       unnest(range(CAST(ceil(len({_BP_TOKS}) * 1.0 / {BP_PARA_W}) AS BIGINT)))
         AS t(i)
),
hashed AS (
  SELECT doc_id, source, md5(para) AS ph,
         len(string_split(para, ' ')) AS n_tok
  FROM paras
),
bp AS (
  SELECT ph FROM hashed GROUP BY ph HAVING count(DISTINCT doc_id) >= {BP_DF}
),
marked AS (
  SELECT h.*, CASE WHEN bp.ph IS NULL THEN 0 ELSE 1 END AS is_bp
  FROM hashed h LEFT JOIN bp ON h.ph = bp.ph
)
SELECT source,
       count(*) AS n_paras,
       CAST(sum(is_bp) AS BIGINT) AS n_removed,
       CAST(sum(n_tok) AS BIGINT) AS tokens_before,
       CAST(sum(CASE WHEN is_bp = 0 THEN n_tok ELSE 0 END) AS BIGINT)
         AS tokens_after,
       CAST(count(DISTINCT CASE WHEN is_bp = 1 THEN doc_id END) AS BIGINT)
         AS docs_touched,
       {duck_rnd('CAST(sum(is_bp) AS DOUBLE) / count(*)', 6)} AS removal_ratio
FROM marked
GROUP BY source
ORDER BY source
"""

QUERIES["txt_boilerplate_scrub"] = txt_boilerplate_scrub
ORACLES["txt_boilerplate_scrub"] = ORACLE_BOILERPLATE_SCRUB
