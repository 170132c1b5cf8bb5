"""Training-data preparation operators over ``documents`` (SURVEY.md §2.D).

The last mile between a curated corpus and a training run:

- ``txt_chunk``: fixed-window token chunking with overlap — the
  context-window prep pass that turns documents into model-sized
  pieces. Pure explode over a computed start sequence; no Python.
- ``txt_clf_score``: hashed-feature linear classifier scoring — the
  fastText/logistic quality-filter shape (CCNet, FineWeb-Edu). The
  weight table is reached by pure hash arithmetic here (a deterministic
  stand-in for trained weights); in production the same plan swaps in a
  broadcast weight join. Entirely map-side + one aggregation.
- ``txt_mix_apply``: APPLIED mixture resampling — op_mixture_weights
  computes the per-language weights; this operator executes them with
  the standard epochs-plus-fraction rule (weight 2.3 → every doc twice,
  plus a 30% deterministic-hash chance of a third copy) and reports the
  achieved token mixture.

Scale notes (100 TB intent):
- txt_chunk is a generate-only pass: one explode keyed by nothing (no
  shuffle at all until a downstream sink); output partitioning follows
  the input file splits.
- txt_clf_score's classifier runs inside whole-stage codegen: bucket =
  md5(token) mod 1024, weight = affine hash of the bucket — zero joins,
  one partial-aggregated groupBy(doc_id).
- txt_mix_apply's only shuffle is the per-language token rollup (a few
  dozen groups); the per-doc copy decision is map-side hash arithmetic,
  so the sampled corpus writes out in the same pass that decides it.

Reference: repype ships no operators (SURVEY §1); these cover the
LLM-training-data surface the north star mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.hashing import duck_md5_int64, md5_int64
from pypers_spark.functions.rounding import duck_rnd, rnd
from pypers_spark.functions.text import duck_normalize_text, tokenize_ws

QUERIES: dict = {}
ORACLES: dict = {}

_DUCK_TOKS = f"string_split({duck_normalize_text('text')}, ' ')"

# --- txt_chunk ---------------------------------------------------------------

CHUNK_SIZE = 32   # tokens per chunk (model context budget stand-in)
CHUNK_STRIDE = 24  # 25% overlap between consecutive chunks


def txt_chunk(t: dict[str, DataFrame]) -> DataFrame:
    """Fixed-window token chunking with overlap: every document becomes
    ceil(max(n-{CHUNK_SIZE},0)/{CHUNK_STRIDE})+1 chunks of ≤{CHUNK_SIZE}
    tokens starting every {CHUNK_STRIDE} tokens (last chunk ragged).

    Emits (doc_id, chunk_idx, n_chunk_tokens, chunk_md5) — the md5
    stands in for the chunk payload so the gate value-checks content,
    not just counts.
    """
    docs = t["documents"]
    toks = docs.select("doc_id", tokenize_ws(F.col("text")).alias("toks"))
    sized = toks.withColumn("n", F.size("toks")).withColumn(
        "n_chunks",
        (
            F.floor(
                (F.greatest(F.col("n") - CHUNK_SIZE, F.lit(0)) + (CHUNK_STRIDE - 1))
                / F.lit(CHUNK_STRIDE)
            )
            + 1
        ).cast("int"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return (
        sized.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
    )


ORACLE_TXT_CHUNK = f"""
WITH sized AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks,
         len({_DUCK_TOKS}) AS n,
         CAST(floor((greatest(len({_DUCK_TOKS}) - {CHUNK_SIZE}, 0)
                     + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) AS INT) + 1
           AS n_chunks
  FROM documents
),
chunks AS (
  SELECT doc_id,
         CAST(i AS INT) AS chunk_idx,
         list_slice(toks, i * {CHUNK_STRIDE} + 1,
                    i * {CHUNK_STRIDE} + {CHUNK_SIZE}) AS chunk
  FROM sized, unnest(range(n_chunks)) AS t(i)
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
"""

QUERIES["txt_chunk"] = txt_chunk
ORACLES["txt_chunk"] = ORACLE_TXT_CHUNK


# --- txt_clf_score -----------------------------------------------------------

CLF_BUCKETS = 1024  # hashed feature space (fastText-style bigram-free bag)


def _clf_weight(bucket: F.Column) -> F.Column:
    """Deterministic stand-in weight in [-1, 1] for a feature bucket."""
    return (
        (md5_int64(F.concat(F.lit("w:"), bucket.cast("string"))) % 2001 - 1000)
        / F.lit(1000.0)
    )


def txt_clf_score(t: dict[str, DataFrame]) -> DataFrame:
    """Model-based quality scoring: a linear classifier over hashed
    bag-of-words features (the fastText-shaped filter behind CCNet /
    FineWeb-Edu style corpus pruning).

    score(doc) = mean over tokens of w[md5(token) mod {CLF_BUCKETS}].
    The weights here are a deterministic hash stand-in so the gate can
    value-match both engines; a trained model drops in as a broadcast
    (bucket → weight) join against the identical exploded-token plan.
    Scoring is map-side hash arithmetic + one partial-aggregated
    groupBy — no joins, no Python.
    """
    docs = t["documents"]
    toks = docs.select(
        "doc_id", F.explode(tokenize_ws(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    w = _clf_weight(md5_int64(F.col("token")) % CLF_BUCKETS)
    return (
        toks.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            rnd(F.sum(F.floor(F.col("w") * 1e6 + F.lit(0.5))) / (F.count("*") * 1e6), 6)
            .alias("clf_score"),
        )
        .withColumn(
            "quality_label", (F.col("clf_score") >= 0).cast("int")
        )
    )


_DUCK_BUCKET = f"({duck_md5_int64('token')} % {CLF_BUCKETS})"
_DUCK_W = (
    "(("
    + duck_md5_int64(f"'w:' || CAST({_DUCK_BUCKET} AS VARCHAR)")
    + " % 2001 - 1000) / 1000.0)"
)

ORACLE_TXT_CLF = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
),
scored AS (
  SELECT doc_id, {_DUCK_W} AS w FROM toks WHERE token <> ''
)
SELECT doc_id, count(*) AS n_tokens,
       {duck_rnd('sum(CAST(floor(w * 1000000.0 + 0.5) AS BIGINT)) / (count(*) * 1000000.0)', 6)}
         AS clf_score,
       CAST({duck_rnd('sum(CAST(floor(w * 1000000.0 + 0.5) AS BIGINT)) / (count(*) * 1000000.0)', 6)} >= 0 AS INT)
         AS quality_label
FROM scored GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["txt_clf_score"] = txt_clf_score
ORACLES["txt_clf_score"] = ORACLE_TXT_CLF


# --- txt_mix_apply -----------------------------------------------------------

MIX_CAP = 5.0  # same upsampling cap as op_mixture_weights


def txt_mix_apply(t: dict[str, DataFrame]) -> DataFrame:
    """The APPLIED training mixture: execute per-language resampling
    weights with the epochs-plus-fraction rule and report the achieved
    token mixture per language.

    weight = min({MIX_CAP}, total_tokens / (n_langs · lang_tokens))
    (op_mixture_weights' uniform-share target). Each doc contributes
    floor(weight) full copies plus one more iff its deterministic hash
    u(doc_id) ∈ [0,1) falls under frac(weight) — the standard way train
    recipes express "2.3 epochs of lang X". The copy decision is
    map-side arithmetic; the only shuffles are the per-language rollups.
    """
    docs = t["documents"]
    d = docs.select(
        "doc_id", "lang", F.size(tokenize_ws(F.col("text"))).alias("n_tok")
    )
    per_lang = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("lang_tokens")
    )
    totals = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"), F.count("*").alias("n_langs")
    )
    weighted = per_lang.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "lang_tokens",
        F.least(
            F.lit(MIX_CAP),
            F.col("total_tokens").cast("double")
            / (F.col("n_langs") * F.col("lang_tokens")).cast("double"),
        ).alias("weight"),
    )
    u = (md5_int64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 1000000) / F.lit(1000000.0)
    copies = F.floor(F.col("weight")).cast("long") + F.when(
        u < F.col("weight") - F.floor(F.col("weight")), F.lit(1)
    ).otherwise(F.lit(0))
    sampled = d.join(F.broadcast(weighted.select("lang", "weight")), "lang").select(
        "lang", "n_tok", copies.alias("n_copies")
    )
    rolled = sampled.groupBy("lang").agg(
        F.sum("n_copies").alias("n_doc_copies"),
        F.sum(F.col("n_tok") * F.col("n_copies")).alias("sampled_tokens"),
    )
    grand = rolled.agg(F.sum("sampled_tokens").alias("grand_tokens"))
    return (
        weighted.join(rolled, "lang")
        .crossJoin(F.broadcast(grand))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            rnd(F.col("weight"), 6).alias("weight"),
            "n_doc_copies",
            "sampled_tokens",
            rnd(
                F.col("sampled_tokens").cast("double")
                / F.col("grand_tokens").cast("double"),
                6,
            ).alias("achieved_share"),
        )
    )


_DUCK_U = (
    "((" + duck_md5_int64("'mix:' || CAST(doc_id AS VARCHAR)") + ") % 1000000) / 1000000.0"
)

ORACLE_TXT_MIX_APPLY = f"""
WITH d AS (
  SELECT doc_id, lang, len({_DUCK_TOKS}) AS n_tok FROM documents
),
per_lang AS (
  SELECT lang, count(*) AS n_docs, sum(n_tok) AS lang_tokens
  FROM d GROUP BY lang
),
totals AS (
  SELECT sum(lang_tokens) AS total_tokens, count(*) AS n_langs FROM per_lang
),
weighted AS (
  SELECT lang, n_docs, lang_tokens,
         least({MIX_CAP}, (total_tokens::DOUBLE)
               / ((n_langs * lang_tokens)::DOUBLE)) AS weight
  FROM per_lang CROSS JOIN totals
),
sampled AS (
  SELECT d.lang, d.n_tok,
         CAST(floor(w.weight) AS BIGINT)
         + (CASE WHEN {_DUCK_U} < w.weight - floor(w.weight) THEN 1 ELSE 0 END)
           AS n_copies
  FROM d JOIN weighted w USING (lang)
),
rolled AS (
  SELECT lang, sum(n_copies) AS n_doc_copies,
         sum(n_tok * n_copies) AS sampled_tokens
  FROM sampled GROUP BY lang
),
grand AS (SELECT sum(sampled_tokens) AS grand_tokens FROM rolled)
SELECT w.lang, w.n_docs, CAST(w.lang_tokens AS BIGINT) AS lang_tokens,
       {duck_rnd('w.weight', 6)} AS weight,
       CAST(r.n_doc_copies AS BIGINT) AS n_doc_copies,
       CAST(r.sampled_tokens AS BIGINT) AS sampled_tokens,
       {duck_rnd('(r.sampled_tokens::DOUBLE) / (grand_tokens::DOUBLE)', 6)}
         AS achieved_share
FROM weighted w JOIN rolled r USING (lang) CROSS JOIN grand
ORDER BY w.lang
"""

QUERIES["txt_mix_apply"] = txt_mix_apply
ORACLES["txt_mix_apply"] = ORACLE_TXT_MIX_APPLY


# --- txt_split_holdout -------------------------------------------------------

SPLIT_PCTS = (90, 5, 5)  # train / val / test


def txt_split_holdout(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic train/val/test corpus split ({SPLIT_PCTS[0]}/
    {SPLIT_PCTS[1]}/{SPLIT_PCTS[2]}) by content-independent doc_id hash,
    reported per source × split — the holdout assignment every training
    pipeline fixes once and must be able to reproduce forever.

    Hash-mod assignment (not row_number striping) is the scale-correct
    rule: it needs no global ordering, is stable under corpus appends
    (an existing doc never changes split when new docs arrive), and
    shards uniformly. Keying on doc_id rather than content keeps
    near-duplicate leakage a SEPARATE concern — dd_contamination
    audits train/eval n-gram overlap on exactly this split's boundary.
    Map-side assignment + one rollup shuffle.
    """
    docs = t["documents"]
    h = md5_int64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < SPLIT_PCTS[0], F.lit("train"))
        .when(h < SPLIT_PCTS[0] + SPLIT_PCTS[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(
            "source", split.alias("split"), F.col("n_chars"),
            F.size(tokenize_ws(F.col("text"))).alias("n_tok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


_DUCK_SPLIT_H = (
    "(" + duck_md5_int64("'split:' || CAST(doc_id AS VARCHAR)") + " % 100)"
)

ORACLE_TXT_SPLIT = f"""
WITH assigned AS (
  SELECT source,
         CASE WHEN {_DUCK_SPLIT_H} < {SPLIT_PCTS[0]} THEN 'train'
              WHEN {_DUCK_SPLIT_H} < {SPLIT_PCTS[0] + SPLIT_PCTS[1]} THEN 'val'
              ELSE 'test' END AS split,
         n_chars, len({_DUCK_TOKS}) AS n_tok
  FROM documents
)
SELECT source, split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM assigned GROUP BY source, split ORDER BY source, split
"""

QUERIES["txt_split_holdout"] = txt_split_holdout
ORACLES["txt_split_holdout"] = ORACLE_TXT_SPLIT


# --- pipe_training -----------------------------------------------------------

from pypers_spark.stage import Stage  # noqa: E402


class IngestTrainDocs(Stage):
    """Lazy documents scan, spread for compute (same shape as curation)."""

    outputs = ("docs",)

    def process(self, pipeline, config, status=None, **inputs):
        from pypers_spark.session import current_session
        from pypers_spark.sources.io import read_parquet

        spark = current_session()
        df = read_parquet(spark, f'{config["sf_dir"]}/documents.parquet')
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return {"docs": df.repartition(n, F.col("doc_id"))}


class HoldoutSplit(Stage):
    """Keep the train split (txt_split_holdout's hash-mod rule)."""

    consumes = ("docs",)
    outputs = ("train",)

    def process(self, pipeline, config, status=None, docs=None, **inputs):
        h = (
            md5_int64(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
            % 100
        )
        return {"train": docs.filter(h < SPLIT_PCTS[0])}


class ClfQualityFilter(Stage):
    """Keep docs the hashed-feature classifier scores non-negative."""

    consumes = ("train",)
    outputs = ("kept",)

    def process(self, pipeline, config, status=None, train=None, **inputs):
        toks = train.select(
            "doc_id", F.explode(tokenize_ws(F.col("text"))).alias("token")
        ).filter(F.col("token") != "")
        w = _clf_weight(md5_int64(F.col("token")) % CLF_BUCKETS)
        scores = (
            toks.select("doc_id", w.alias("w"))
            .groupBy("doc_id")
            .agg(
                rnd(
                    F.sum(F.floor(F.col("w") * 1e6 + F.lit(0.5)))
                    / (F.count("*") * 1e6),
                    6,
                ).alias("clf_score")
            )
        )
        kept = train.join(scores, "doc_id").filter(F.col("clf_score") >= 0)
        return {"kept": kept}


class ChunkDocs(Stage):
    """Context-window chunking of the surviving docs (txt_chunk rule)."""

    consumes = ("kept",)
    outputs = ("chunks",)

    def process(self, pipeline, config, status=None, kept=None, **inputs):
        toks = kept.select(
            "doc_id", "source", tokenize_ws(F.col("text")).alias("toks")
        )
        sized = toks.withColumn("n", F.size("toks")).withColumn(
            "n_chunks",
            (
                F.floor(
                    (
                        F.greatest(F.col("n") - CHUNK_SIZE, F.lit(0))
                        + (CHUNK_STRIDE - 1)
                    )
                    / F.lit(CHUNK_STRIDE)
                )
                + 1
            ).cast("int"),
        )
        chunk = F.slice(
            F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
        )
        chunks = sized.select(
            "doc_id",
            "source",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        ).select(
            "doc_id", "source", F.size(chunk).alias("n_chunk_tokens")
        )
        return {"chunks": chunks}


class TrainSetStats(Stage):
    """Per-source rollup of the produced training chunks."""

    consumes = ("chunks",)
    outputs = ("stats",)

    def process(self, pipeline, config, status=None, chunks=None, **inputs):
        return {
            "stats": chunks.groupBy("source").agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.count("*").alias("n_chunks"),
                F.sum("n_chunk_tokens").alias("total_chunk_tokens"),
            )
        }


def pipe_training(t) -> DataFrame:
    """The training-prep pipeline as ONE oracled query, built through the
    real create_pipeline/Pipeline.process machinery (like pipe_curation
    for curation): ingest → holdout split (train 90%) → hashed-feature
    classifier filter → context-window chunking → per-source rollup.
    The whole thing composes into a single Catalyst plan; the only
    shuffles are the classifier's per-doc aggregation, its join back,
    and the final rollup — chunking is generate-only.
    """
    from pypers_spark.config import Config
    from pypers_spark.pipeline import create_pipeline

    pipeline = create_pipeline(
        [IngestTrainDocs(), HoldoutSplit(), ClfQualityFilter(), ChunkDocs(), TrainSetStats()]
    )
    config = Config({"ingest-train-docs": {"sf_dir": t._sf_dir}})
    data, _, _ = pipeline.process(input_id=1, config=config)
    return data["stats"]


def _duck_pipe_training_sql() -> str:
    return f"""
WITH train AS (
  SELECT * FROM documents WHERE {_DUCK_SPLIT_H} < {SPLIT_PCTS[0]}
),
toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM train
),
scores AS (
  SELECT doc_id,
         {duck_rnd('sum(CAST(floor(w * 1000000.0 + 0.5) AS BIGINT)) / (count(*) * 1000000.0)', 6)}
           AS clf_score
  FROM (SELECT doc_id, {_DUCK_W} AS w FROM toks WHERE token <> '')
  GROUP BY doc_id
),
kept AS (
  SELECT t.* FROM train t JOIN scores s ON t.doc_id = s.doc_id
  WHERE s.clf_score >= 0
),
sized AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks,
         len({_DUCK_TOKS}) AS n,
         CAST(floor((greatest(len({_DUCK_TOKS}) - {CHUNK_SIZE}, 0)
                     + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) AS INT) + 1
           AS n_chunks
  FROM kept
),
chunks AS (
  SELECT doc_id, source,
         len(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                        i * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS n_chunk_tokens
  FROM sized, unnest(range(n_chunks)) AS t(i)
)
SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS total_chunk_tokens
FROM chunks GROUP BY source ORDER BY source
"""


QUERIES["pipe_training"] = pipe_training
ORACLES["pipe_training"] = _duck_pipe_training_sql()


# --- txt_pack_sequences ------------------------------------------------------

PACK_CTX = 64  # training context length (tokens)
PACK_SHARDS = 8  # writer shards — packing happens per shard


def txt_pack_sequences(t: dict[str, DataFrame]) -> DataFrame:
    """Sequence-packing readout for pretraining (concat-and-split, the
    GPT-style packing): per writer shard, documents concatenate in
    doc_id order and split into {PACK_CTX}-token sequences. Reports
    sequences produced, tail waste, packing efficiency, and how many
    documents straddle a sequence boundary (the attention-masking /
    document-leakage accounting a packer emits).

    One token-count projection, one per-shard cumulative window over
    doc counts (shard-partitioned — never a global sort), one rollup.
    At 100 TB shards are the writer-task partitioning and the window
    runs inside each writer.
    """
    toks = t["documents"].select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokenize_ws(F.col("text"))).alias("n_tok"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.withColumn("cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    straddles = (
        F.floor((F.col("cum_before") + F.col("n_tok") - 1) / PACK_CTX)
        > F.floor(F.col("cum_before") / PACK_CTX)
    )
    return (
        placed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.ceil(F.sum("n_tok") / F.lit(float(PACK_CTX))).cast("bigint").alias(
                "n_sequences"
            ),
            F.count(F.when(straddles, 1)).alias("n_straddling"),
            rnd(
                F.sum("n_tok")
                / (
                    F.ceil(F.sum("n_tok") / F.lit(float(PACK_CTX)))
                    * F.lit(float(PACK_CTX))
                ),
                6,
            ).alias("packing_efficiency"),
        )
    )


ORACLE_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         len(string_split({duck_normalize_text('text')}, ' ')) AS n_tok
  FROM documents
),
placed AS (
  SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(ceil(sum(n_tok) / {float(PACK_CTX)}) AS BIGINT) AS n_sequences,
       count(CASE WHEN floor((cum_before + n_tok - 1) / {PACK_CTX})
                       > floor(cum_before / {PACK_CTX}) THEN 1 END)
         AS n_straddling,
       {duck_rnd(f'sum(n_tok) / (ceil(sum(n_tok) / {float(PACK_CTX)}) * {float(PACK_CTX)})', 6)}
         AS packing_efficiency
FROM placed
GROUP BY shard
ORDER BY shard
"""

QUERIES["txt_pack_sequences"] = txt_pack_sequences
ORACLES["txt_pack_sequences"] = ORACLE_PACK_SEQUENCES


# --- txt_curriculum_stages ---------------------------------------------------

CURR_STAGES = 4


def txt_curriculum_stages(t: dict[str, DataFrame]) -> DataFrame:
    """Curriculum-learning stage assignment: documents bucketed into
    {CURR_STAGES} quality quartiles (easy→hard training order) via
    BROADCAST exact percentile cutoffs + map-side threshold scoring —
    the ev_rfm_segments discipline at document level, never a global
    ntile sort. Readout: per stage, doc/char totals and the score
    band, i.e. the shard manifest a curriculum scheduler consumes.
    """
    from pypers_spark.functions.caching import tracked_persist

    docs = t["documents"]
    txt = F.col("text")
    # Persisted: the cuts plan and the scoring pass both read it, and
    # the tokenize_ws split is the expensive part of the row (the r7
    # bench tax was paying it twice).
    scored = tracked_persist(
        docs.select(
            "doc_id",
            "n_chars",
            (
                F.lit(0.5) * F.least(F.length(txt) / F.lit(500.0), F.lit(1.0))
                + F.lit(0.5)
                * (F.size(tokenize_ws(txt)) / F.greatest(F.length(txt), F.lit(1)))
                * F.lit(5.0)
            ).alias("score"),
        ),
        "training.curriculum_scored",
    )
    from pypers_spark.functions.percentile import exact_percentiles

    cuts = exact_percentiles(
        scored, "score", [(0.25, "_c1"), (0.5, "_c2"), (0.75, "_c3")]
    ).select(
        rnd(F.col("_c1"), 6).alias("c1"),
        rnd(F.col("_c2"), 6).alias("c2"),
        rnd(F.col("_c3"), 6).alias("c3"),
    )
    stage = (
        F.when(F.col("score") <= F.col("c1"), 0)
        .when(F.col("score") <= F.col("c2"), 1)
        .when(F.col("score") <= F.col("c3"), 2)
        .otherwise(3)
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(stage.alias("stage"), "n_chars", F.col("score"))
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            rnd(F.min("score"), 6).alias("min_score"),
            rnd(F.max("score"), 6).alias("max_score"),
        )
    )


_DUCK_CURR_SCORE = (
    f"0.5 * least(length(text) / 500.0, 1.0)"
    f" + 0.5 * (len(string_split({duck_normalize_text('text')}, ' '))"
    f" / CAST(greatest(length(text), 1) AS DOUBLE)) * 5.0"
)

ORACLE_CURRICULUM_STAGES = f"""
WITH scored AS (
  SELECT doc_id, n_chars, {_DUCK_CURR_SCORE} AS score FROM documents
),
cuts AS (
  SELECT {duck_rnd('quantile_cont(score, 0.25)', 6)} AS c1,
         {duck_rnd('quantile_cont(score, 0.5)', 6)} AS c2,
         {duck_rnd('quantile_cont(score, 0.75)', 6)} AS c3
  FROM scored
)
SELECT CASE WHEN score <= c1 THEN 0 WHEN score <= c2 THEN 1
            WHEN score <= c3 THEN 2 ELSE 3 END AS stage,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       {duck_rnd('min(score)', 6)} AS min_score,
       {duck_rnd('max(score)', 6)} AS max_score
FROM scored, cuts
GROUP BY 1
ORDER BY stage
"""

QUERIES["txt_curriculum_stages"] = txt_curriculum_stages
ORACLES["txt_curriculum_stages"] = ORACLE_CURRICULUM_STAGES


# --- dd_chunk_exact ----------------------------------------------------------

CHD_CTX = 32  # chunk width (tokens) for chunk-level dedup
CHD_STRIDE = 32  # non-overlapping


def dd_chunk_exact(t: dict[str, DataFrame]) -> DataFrame:
    """CHUNK-level exact dedup: after context-window chunking, identical
    {CHD_CTX}-token chunks are deduplicated corpus-wide — the pass a
    training pipeline runs AFTER packing prep, catching boilerplate
    that document-level dedup misses (shared headers/footers across
    distinct documents). One md5 per chunk, one hash aggregation on
    the fingerprint; the report is per source: chunks produced, unique
    chunks, duplicated chunks, rows removable — the observability row
    for the chunk-dedup sweep.
    """
    from pypers_spark.operators.dedup import corpus

    toks = corpus(t).select(
        "doc_id", "source", tokenize_ws(F.col("text")).alias("toks")
    )
    sized = toks.withColumn("n", F.size("toks")).filter(F.col("n") >= 1)
    n_chunks = (F.floor((F.col("n") - 1) / CHD_STRIDE) + 1).cast("int")
    chunks = sized.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("ci"),
        "toks",
    ).select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("ci") * CHD_STRIDE + 1, CHD_CTX)
            )
        ).alias("fp"),
    )
    return _chunk_dup_readout(chunks)


def _chunk_dup_readout(chunks: DataFrame) -> DataFrame:
    """Per-source chunk-dedup report off ONE pass over the (fp, source)
    chunk stream (r11, guide §2.3): pre-aggregate to (fp, source)
    counts — map-side partial aggregation collapses local duplicates
    before the exchange — then a count window over fp supplies the
    corpus-wide copy count. The r10 form computed the tokenize→md5
    chunk chain TWICE (once for the chunk rows, once for the broadcast
    fp_counts side of a self-join)."""
    from pyspark.sql import Window

    cnt = chunks.groupBy("fp", "source").agg(F.count("*").alias("cnt"))
    n_copies = F.sum("cnt").over(Window.partitionBy("fp"))
    return (
        cnt.withColumn("n_copies", n_copies)
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_chunks"),
            F.count("*").alias("n_unique"),
            F.sum(
                F.when(F.col("n_copies") > 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_in_dup_groups"),
        )
        .select(
            "source",
            "n_chunks",
            "n_unique",
            "n_in_dup_groups",
            (F.col("n_chunks") - F.col("n_unique")).alias("n_removable"),
        )
    )


from pypers_spark.operators.dedup import DUCK_CORPUS as _DUCK_DD_CORPUS  # noqa: E402

ORACLE_CHUNK_EXACT = f"""
WITH {_DUCK_DD_CORPUS},
toks AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM corpus
),
sized AS (SELECT *, len(toks) AS n FROM toks WHERE len(toks) >= 1),
chunks AS (
  SELECT doc_id, source,
         md5(array_to_string(
           list_slice(toks, ci * {CHD_STRIDE} + 1,
                      ci * {CHD_STRIDE} + {CHD_CTX}), ' ')) AS fp
  FROM sized,
       unnest(range(CAST(floor((n - 1) / {CHD_STRIDE}) AS BIGINT) + 1)) AS t(ci)
),
fp_counts AS (SELECT fp, count(*) AS n_copies FROM chunks GROUP BY 1)
SELECT source,
       count(*) AS n_chunks,
       count(DISTINCT c.fp) AS n_unique,
       count(CASE WHEN n_copies > 1 THEN 1 END) AS n_in_dup_groups,
       count(*) - count(DISTINCT c.fp) AS n_removable
FROM chunks c JOIN fp_counts USING (fp)
GROUP BY source
ORDER BY source
"""

QUERIES["dd_chunk_exact"] = dd_chunk_exact
ORACLES["dd_chunk_exact"] = ORACLE_CHUNK_EXACT


# --- txt_split_leakage -------------------------------------------------------


def txt_split_leakage(t: dict[str, DataFrame]) -> DataFrame:
    """Train/test LEAKAGE audit: exact-duplicate groups (normalized-text
    fingerprint, over the dedup corpus fixture so duplicates exist)
    whose members land in DIFFERENT holdout splits — the contamination
    that silently inflates eval scores when dedup runs after splitting.
    Per split-combination signature ("train", "train+val", …): group
    and document counts; any multi-split signature is leakage the
    pipeline must fix by splitting on the FINGERPRINT, not the doc id.

    One fingerprint aggregation with a sorted-set split signature —
    collect_set order is nondeterministic under a shuffle, array_sort
    makes it exact (the op_string_agg discipline).
    """
    from pypers_spark.operators.dedup import corpus

    h = (
        md5_int64(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100
    )
    split = (
        F.when(h < SPLIT_PCTS[0], F.lit("train"))
        .when(h < SPLIT_PCTS[0] + SPLIT_PCTS[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    from pypers_spark.functions.text import normalize_text

    tagged = corpus(t).select(
        F.md5(normalize_text(F.col("text"))).alias("fp"), split.alias("split")
    )
    groups = tagged.groupBy("fp").agg(
        F.array_join(F.array_sort(F.collect_set("split")), "+").alias("splits"),
        F.count("*").alias("n_docs"),
    )
    return (
        groups.groupBy("splits")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n_docs").alias("n_docs"),
        )
        .withColumn("leaked", F.col("splits").contains("+"))
    )


ORACLE_SPLIT_LEAKAGE = f"""
WITH {{_DC}},
tagged AS (
  SELECT md5({duck_normalize_text('text')}) AS fp,
         CASE WHEN {_DUCK_SPLIT_H} < {SPLIT_PCTS[0]} THEN 'train'
              WHEN {_DUCK_SPLIT_H} < {SPLIT_PCTS[0] + SPLIT_PCTS[1]} THEN 'val'
              ELSE 'test' END AS split
  FROM corpus
),
groups AS (
  SELECT fp,
         array_to_string(list_sort(list_distinct(list(split))), '+') AS splits,
         count(*) AS n_docs
  FROM tagged GROUP BY fp
)
SELECT splits, count(*) AS n_groups, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       contains(splits, '+') AS leaked
FROM groups
GROUP BY splits
ORDER BY splits
"""


def _finalize_split_leakage_oracle() -> str:
    from pypers_spark.operators.dedup import DUCK_CORPUS

    return ORACLE_SPLIT_LEAKAGE.replace("{_DC}", DUCK_CORPUS)


QUERIES["txt_split_leakage"] = txt_split_leakage
ORACLES["txt_split_leakage"] = _finalize_split_leakage_oracle()


# --- dd_chunk_cdc ------------------------------------------------------------

CDC_MOD = 16  # expected chunk length (tokens): boundary odds 1/16 per token


def dd_chunk_cdc(t: dict[str, DataFrame]) -> DataFrame:
    """Content-defined chunking dedup: chunk boundaries fall where the
    TOKEN HASH satisfies ``h % {CDC_MOD} == 0`` (gear/Rabin-CDC
    discipline at token granularity), so an insertion near the top of a
    document shifts only the chunks it touches — every later boundary
    re-synchronizes on content. Fixed-stride chunking (dd_chunk_exact)
    loses all downstream chunk identity after one inserted token; CDC
    is what production dedup runs when near-identical documents drift
    by small edits (the round-6 GIF/LZW of the dedup family: the
    boundary function IS the operator). Production CDC adds min/max
    chunk bounds; the pure-modulus form keeps the Spark plan and the
    DuckDB oracle byte-identical.

    Plan shape (r11, guide §2.3/§2.4): the whole chunking happens
    IN-ARRAY per document — boundary positions are a filter over the
    token index sequence (one md5 per token, whole-stage codegen),
    chunk fingerprints are md5s over index slices between consecutive
    boundaries — so tokens never leave their document row. Only chunk
    FINGERPRINTS reach an exchange. The r10 form posexploded every
    token through a doc_id window (cumulative boundary count) and
    re-assembled chunks with array_sort(collect_list(...)) — two full
    token-level shuffles that this form does not pay. Same readout as
    dd_chunk_exact so the two chunkers' dup-yield is directly
    comparable per source.
    """
    from pypers_spark.operators.dedup import corpus

    # Token array bound BELOW the exchange (the _signature_table
    # lesson): the boundary lambda references ``tk`` as a materialized
    # column, never an inline tokenize expression.
    toks = corpus(t, repartition=False).select(
        "doc_id", "source", tokenize_ws(F.col("text")).alias("tk")
    )
    n_part = int(toks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = toks.repartition(n_part, F.col("doc_id"))
    tk = F.col("tk")
    # 1-based positions whose token hash marks a chunk boundary (the
    # chunk breaks AFTER the boundary token — the r10 window counted a
    # token's flag only into LATER positions' cumulative ids).
    bpos = F.filter(
        F.sequence(F.lit(1), F.size(tk)),
        lambda i: md5_int64(F.concat(F.lit("cdc:"), F.element_at(tk, i)))
        % CDC_MOD
        == 0,
    )
    # Bind ``bpos`` as a lambda variable (one-element-array transform —
    # the txt_winnowing binding trick) so the per-token md5 filter is
    # evaluated ONCE, not once per consumer expression.
    # Trailing boundary at the last token: start = n+1 > end = n — an
    # empty chunk the windowed form never produced; the when() guard
    # drops it (filter on the zipped null).
    fps = F.element_at(
        F.transform(
            F.array(bpos),
            lambda bp: F.filter(
                F.zip_with(
                    F.concat(F.array(F.lit(1)), F.transform(bp, lambda p: p + 1)),
                    F.concat(bp, F.array(F.size(tk))),
                    lambda s, e: F.when(
                        e >= s, F.md5(F.concat_ws(" ", F.slice(tk, s, e - s + 1)))
                    ),
                ),
                lambda fp: fp.isNotNull(),
            ),
        ),
        1,
    )
    chunks = toks.select(
        "doc_id", "source", F.explode(fps).alias("fp")
    )
    return _chunk_dup_readout(chunks)


def _finalize_chunk_cdc_oracle() -> str:
    from pypers_spark.operators.dedup import DUCK_CORPUS

    return f"""
WITH {DUCK_CORPUS},
tk_src AS (SELECT doc_id, source, {_DUCK_TOKS} AS tk FROM corpus),
toks AS (
  SELECT doc_id, source, tk[CAST(i AS INT)] AS tok, i - 1 AS pos
  FROM tk_src, unnest(range(1, len(tk) + 1)) AS t(i)
),
flagged AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN {duck_md5_int64("'cdc:' || tok")} % {CDC_MOD} = 0
              THEN 1 ELSE 0 END AS b
  FROM toks
),
chunked AS (
  SELECT doc_id, source, pos, tok,
         coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
  FROM flagged
),
chunks AS (
  SELECT doc_id, source, cid,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
  FROM chunked GROUP BY doc_id, source, cid
),
fp_counts AS (SELECT fp, count(*) AS n_copies FROM chunks GROUP BY 1)
SELECT source,
       count(*) AS n_chunks,
       count(DISTINCT c.fp) AS n_unique,
       count(CASE WHEN n_copies > 1 THEN 1 END) AS n_in_dup_groups,
       count(*) - count(DISTINCT c.fp) AS n_removable
FROM chunks c JOIN fp_counts USING (fp)
GROUP BY source
ORDER BY source
"""


QUERIES["dd_chunk_cdc"] = dd_chunk_cdc
ORACLES["dd_chunk_cdc"] = _finalize_chunk_cdc_oracle()
