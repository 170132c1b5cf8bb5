"""Text-analysis operators over ``documents`` (SURVEY.md §2.D).

Language ID, quality scoring, token counting, fingerprinting — all pure
column expressions (whole-stage codegen, no Python in the hot path),
each with a bit-exact DuckDB oracle. At 100 TB these are embarrassingly
parallel scans: no shuffle except the final aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypers_spark.functions.rounding import dsum, duck_dsum, duck_rnd, rnd
from pypers_spark.multimodal import (
    GIF_H_BASE,
    GIF_H_MOD,
    GIF_N_COLORS,
    GIF_W_BASE,
    GIF_W_MOD,
    PNG_H_BASE,
    PNG_H_MOD,
    PNG_N_COLORS,
    PNG_W_BASE,
    PNG_W_MOD,
    PPM_H_BASE,
    PPM_H_MOD,
    PPM_W_BASE,
    PPM_W_MOD,
    WAV_DATA_BASE,
    WAV_DATA_MOD,
    WAV_RATE_BASE,
    WAV_RATE_MOD,
)
from pypers_spark.functions.text import (
    BPEISH_PATTERN,
    LANG_MARKERS,
    duck_lang_score,
    duck_normalize_text,
    duck_punct_ratio,
    duck_stopword_ratio,
    duck_upper_ratio,
    lang_score,
    normalize_text,
    punct_ratio,
    stopword_ratio,
    tokenize_bpeish,
    tokenize_ws,
    upper_ratio,
)


def _spread(d):
    """Repartition per-doc compute across the cluster: a single-file
    documents scan yields 1-2 splits, which would serialize the regex/
    tokenization work onto 1-2 cores (AQE coalesces this exchange away
    when the scan is already wide)."""
    n = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return d.repartition(n, F.col("doc_id"))


def txt_token_count(t: dict[str, DataFrame]) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    d = _spread(t["documents"])
    return d.select(
        "doc_id",
        F.size(tokenize_ws(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
        F.size(tokenize_bpeish(F.col("text"))).cast("bigint").alias("n_bpeish_tokens"),
        F.length(F.col("text")).cast("bigint").alias("n_chars_actual"),
    )


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
       len(string_split({duck_normalize_text('text')}, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{BPEISH_PATTERN}')) AS n_bpeish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents ORDER BY doc_id
"""


def txt_quality(t: dict[str, DataFrame]) -> DataFrame:
    """Quality score: blend of length, punctuation, stopword, case ratios.

    Each ratio is computed ONCE in a named intermediate projection and
    the blend references the named columns — without this the quality
    expression re-evaluates every regex/tokenize subtree a second time
    per row (measured ~30% slower).
    """
    d = _spread(t["documents"])
    txt = F.col("text")
    base = d.select(
        "doc_id",
        punct_ratio(txt).alias("p"),
        stopword_ratio(txt).alias("s"),
        upper_ratio(txt).alias("u"),
        F.least(F.length(txt) / F.lit(500.0), F.lit(1.0)).alias("l"),
    )
    quality = (
        0.4 * F.col("l") + 0.3 * F.col("s")
        + 0.2 * (1 - F.col("p")) + 0.1 * (1 - F.col("u"))
    )
    return base.select(
        "doc_id",
        rnd(F.col("p"), 4).alias("punct_ratio"),
        rnd(F.col("s"), 4).alias("stopword_ratio"),
        rnd(F.col("u"), 4).alias("upper_ratio"),
        rnd(quality, 4).alias("quality"),
    )


ORACLE_QUALITY = f"""
SELECT doc_id,
       {duck_rnd(duck_punct_ratio('text'), 4)} AS punct_ratio,
       {duck_rnd(duck_stopword_ratio('text'), 4)} AS stopword_ratio,
       {duck_rnd(duck_upper_ratio('text'), 4)} AS upper_ratio,
       {duck_rnd("0.4 * least(length(text) / 500.0, 1.0) + 0.3 * (" + duck_stopword_ratio('text') + ") + 0.2 * (1 - (" + duck_punct_ratio('text') + ")) + 0.1 * (1 - (" + duck_upper_ratio('text') + "))", 4)} AS quality
FROM documents ORDER BY doc_id
"""


def txt_langid(t: dict[str, DataFrame]) -> DataFrame:
    """Marker-word language ID; confusion counts vs the labeled lang.

    Deterministic argmax with fixed priority order on ties; 'und' when
    no marker matches.
    """
    d = _spread(t["documents"])
    txt = F.col("text")
    scores = {code: lang_score(txt, markers) for code, markers in LANG_MARKERS.items()}
    codes = list(LANG_MARKERS)  # fixed priority order: en, de, fr, es
    best = F.greatest(*[scores[c] for c in codes])
    pred = F.lit("und")
    for c in reversed(codes):
        pred = F.when((best > 0) & (scores[c] == best), F.lit(c)).otherwise(pred)
    return (
        d.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def _duck_langid_sql() -> str:
    codes = list(LANG_MARKERS)
    score_exprs = {c: duck_lang_score("text", LANG_MARKERS[c]) for c in codes}
    scored = ", ".join(f"{score_exprs[c]} AS s_{c}" for c in codes)
    best = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    # same tie-break: first code in priority order wins
    pred = "CASE"
    for c in codes:
        pred += f" WHEN {best} > 0 AND s_{c} = {best} THEN '{c}'"
    pred += " ELSE 'und' END"
    return f"""
WITH scored AS (SELECT doc_id, lang, {scored} FROM documents)
SELECT lang, {pred} AS pred_lang, count(*) AS n_docs
FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang
"""


def txt_fingerprint(t: dict[str, DataFrame]) -> DataFrame:
    """Document fingerprints: full-text md5, sorted-bag md5, prefix md5."""
    d = _spread(t["documents"])
    norm = normalize_text(F.col("text"))
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(norm, " "))))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_full"),
        F.md5(bag).alias("fp_bag"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix"),
    )


ORACLE_FINGERPRINT = f"""
SELECT doc_id,
       md5({duck_normalize_text('text')}) AS fp_full,
       md5(array_to_string(list_sort(list_distinct(
           string_split({duck_normalize_text('text')}, ' '))), ' ')) AS fp_bag,
       md5(substr({duck_normalize_text('text')}, 1, 64)) AS fp_prefix
FROM documents ORDER BY doc_id
"""


def mm_binary_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal plumbing (oracled half): opaque binary payload column +
    typed metadata. Payload = utf-8 bytes of text (the container has no
    codec libs); the decode/feature UDF path lives in
    streaming/multimodal.py with the same schema."""
    d = t["documents"]
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
        F.col("source").alias("media_source"),
        F.lit("text/plain").alias("mime_type"),
    )


ORACLE_MM_BINARY = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       source AS media_source,
       'text/plain' AS mime_type
FROM documents ORDER BY doc_id
"""


def mm_features_hist(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal feature extraction (oracled): the Arrow-batched
    ``mapInPandas`` byte-histogram features, exploded to (media_id, dim,
    value) rows.

    This is the one Pandas-UDF path with a value-level oracle: the stub
    featurizer is a deterministic byte histogram, which DuckDB
    reproduces via per-character code points (the corpus is ASCII, so
    bytes == code points). Proves the Arrow batch plumbing end-to-end —
    schema, batching, float64 math — not just row counts.
    """
    from pypers_spark.multimodal import extract_features, media_table

    # ASCII guard: the oracle histograms CODE POINTS while the
    # featurizer histograms UTF-8 payload BYTES — identical only when
    # octet_length == length, so both engines gate on it.
    ascii_docs = t["documents"].filter(
        F.octet_length("text") == F.length("text")
    )
    feats = extract_features(media_table(ascii_docs))
    return (
        feats.select("media_id", F.posexplode("features").alias("dim", "v"))
        .select(
            "media_id",
            F.col("dim").cast("bigint").alias("dim"),
            rnd(F.col("v"), 4).alias("v"),
        )
    )


ORACLE_MM_FEATURES = f"""
WITH ascii_docs AS (
  SELECT * FROM documents
  WHERE octet_length(encode(text)) = length(text)
),
pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS p FROM ascii_docs
),
h AS (
  SELECT doc_id, unicode(substr(text, p, 1)) % 16 AS r, count(*) AS c
  FROM pos GROUP BY 1, 2
),
dims AS (
  SELECT doc_id, length(text) AS n, unnest(range(0, 16)) AS dim FROM ascii_docs
)
SELECT dims.doc_id AS media_id, dim,
       {duck_rnd('coalesce(c, 0) * 1.0 / n', 4)} AS v
FROM dims LEFT JOIN h ON h.doc_id = dims.doc_id AND h.r = dims.dim
ORDER BY media_id, dim
"""


def mm_decode_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal decode over REAL image bytes: the corpus is turned
    into binary P6 PPM payloads IN-PLAN (header + pixel bytes cycled
    from the ASCII text — :func:`pypers_spark.multimodal.
    ppm_media_table`), and the Arrow-batched ``mapInPandas`` decode
    runs the real netpbm header parser
    (:func:`pypers_spark.multimodal.ppm_decoder` — magic, comments,
    whitespace, maxval), not the md5 stub.

    The oracle re-derives width/height from the same doc_id arithmetic
    and md5s the reconstructed payload string — so a parse bug (off-by-
    one in the header scan, wrong pixel count) breaks the value match.
    The ``set_decoder`` injection contract still holds (a registered
    codec wins — pinned by tests/test_multimodal_sources.py); the
    FALLBACK is the real PPM parser rather than the md5 stub.
    """
    from pypers_spark.multimodal import (
        decode_media,
        ppm_decoder,
        ppm_media_table,
        registered_decoder,
    )

    decoded = decode_media(
        ppm_media_table(t["documents"]),
        decoder=registered_decoder() or ppm_decoder,
    )
    return decoded.select(
        "media_id", "width", "height", "n_channels", "content_sha"
    )


# Rebuilds the exact P6 payload with string arithmetic: header
# 'P6\n{w} {h}\n255\n' + text cycled to w*h*3 bytes. chr(10) because
# DuckDB string literals keep backslashes. The octet_length guard
# mirrors ppm_media_table's byte-safety filter: the string arithmetic
# here counts CODE POINTS while the codec counts BYTES, so both engines
# restrict the fixture to docs where the two coincide (all-ASCII).
# Dimension moduli interpolate the PPM_* constants from multimodal.py —
# single source of truth, like ORACLE_MM_AUDIO's WAV_* constants.
_DUCK_PPM = f"""
m AS (
  SELECT doc_id, {PPM_W_BASE} + doc_id % {PPM_W_MOD} AS w,
         {PPM_H_BASE} + doc_id % {PPM_H_MOD} AS h, text
  FROM documents
  WHERE length(text) >= 1 AND octet_length(encode(text)) = length(text)
),
ppm AS (
  SELECT doc_id, w, h,
         substr(repeat(text, CAST(ceil((w*h*3) * 1.0 / length(text)) AS INT)),
                1, w*h*3) AS pix,
         'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10) AS hdr
  FROM m
)
"""

def mm_gif_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal decode of a COMPRESSED format: deterministic GIF87a
    payloads are built per document (real variable-width LZW
    compression — :func:`pypers_spark.multimodal.gif_media_table`),
    then decoded through the same ``set_decoder`` injection point as
    mm_decode_meta, with the real GIF parser + LZW DEcompressor
    (:func:`pypers_spark.multimodal.gif_decoder`) as the fallback.

    content_sha digests the DECODED palette indices, which the oracle
    recomputes from the doc_id pixel rule without any LZW code — the
    value match therefore proves the compressed stream round-tripped
    bit-exactly (sub-block framing, code-width growth, dictionary
    state), not merely that bytes moved through the plan.
    """
    from pypers_spark.multimodal import (
        decode_media,
        gif_decoder,
        gif_media_table,
        registered_decoder,
    )

    decoded = decode_media(
        gif_media_table(t["documents"]),
        decoder=registered_decoder() or gif_decoder,
    )
    return decoded.select(
        "media_id", "width", "height", "n_channels", "content_sha"
    )


# The oracle rebuilds the EXPECTED DECODE OUTPUT (not the payload):
# dimensions from the GIF_* doc_id arithmetic, pixel digest as md5 over
# the '0'-'3' digit string of (doc_id + i) % GIF_N_COLORS — the exact
# rule gif_media_table compresses and gif_decoder must recover.
ORACLE_MM_GIF = f"""
WITH m AS (
  SELECT doc_id, {GIF_W_BASE} + doc_id % {GIF_W_MOD} AS w,
         {GIF_H_BASE} + doc_id % {GIF_H_MOD} AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h,
         string_agg(CAST((doc_id + i) % {GIF_N_COLORS} AS VARCHAR), ''
                    ORDER BY i) AS s
  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM m)
  GROUP BY doc_id, w, h
)
SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
       3::INT AS n_channels, md5(s) AS content_sha
FROM px ORDER BY media_id
"""


ORACLE_MM_DECODE = f"""
WITH {_DUCK_PPM}
SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
       3::INT AS n_channels, md5(hdr || pix) AS content_sha
FROM ppm ORDER BY media_id
"""


def mm_png_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal decode of the SECOND compressed format: deterministic
    paletted PNGs are built per document (real zlib DEFLATE plus
    per-row adaptive scanline filters —
    :func:`pypers_spark.multimodal.png_media_table`), then decoded
    through the same ``set_decoder`` injection point as mm_decode_meta,
    with the real PNG reader (chunk walk + CRC32 verification + inflate
    + filter reconstruction, :func:`pypers_spark.multimodal.png_decoder`)
    as the fallback.

    Each row's filter type is (doc_id + row) % 5, so every fixture
    image exercises ALL FIVE PNG filters (None/Sub/Up/Average/Paeth);
    content_sha digests the RECONSTRUCTED palette indices, which the
    oracle recomputes from the doc_id pixel rule with no zlib and no
    filter code — the value match proves the DEFLATE stream inflated
    and the prediction chain (left/up/up-left state across rows)
    reconstructed bit-exactly.
    """
    from pypers_spark.multimodal import (
        decode_media,
        png_decoder,
        png_media_table,
        registered_decoder,
    )

    decoded = decode_media(
        png_media_table(t["documents"]),
        decoder=registered_decoder() or png_decoder,
    )
    return decoded.select(
        "media_id", "width", "height", "n_channels", "content_sha"
    )


# Oracle rebuilds the EXPECTED DECODE OUTPUT from the PNG_* doc_id
# arithmetic: dimensions, and the pixel digest as md5 over the digit
# string of (7*doc_id + 3*i) % PNG_N_COLORS — the exact raw rows that
# png_media_table filters+deflates and png_decoder must recover.
ORACLE_MM_PNG = f"""
WITH m AS (
  SELECT doc_id, {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
         {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h,
         string_agg(CAST((7 * doc_id + 3 * i) % {PNG_N_COLORS} AS VARCHAR), ''
                    ORDER BY i) AS s
  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM m)
  GROUP BY doc_id, w, h
)
SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
       3::INT AS n_channels, md5(s) AS content_sha
FROM px ORDER BY media_id
"""


def mm_resize_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal resize over REAL pixels: decode the in-plan P6 PPM
    payloads, 2x2 box-filter downsample (floor-mean per channel, floor
    output dims — :func:`pypers_spark.multimodal.box_resize_ppm`),
    re-encode P6, and report the round-tripped output dims plus the
    md5 of the RESIZED payload.

    The oracle reconstructs every output byte with per-pixel integer
    arithmetic ((b00+b01+b10+b11)//4 via substr/unicode), reassembles
    the resized payload with string_agg, and md5s it — the distributed
    numpy box filter is value-proven byte-for-byte, not just by shape.
    """
    from pypers_spark.multimodal import ppm_media_table, resize_media_boxfilter

    resized = resize_media_boxfilter(ppm_media_table(t["documents"]), factor=2)
    out = resized.select(
        "media_id",
        "width",
        "height",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )
    return out


# Output index k (0-based, row-major rows x cols x 3 channels):
# i = k // (ow*3), j = (k % (ow*3)) // 3, c = k % 3; each output byte
# floor-averages the 4 source bytes of its 2x2 block. Source substr
# position for (r, q, c) is (r*w + q)*3 + c + 1 (1-based).
ORACLE_MM_RESIZE = f"""
WITH {_DUCK_PPM},
dims AS (
  SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh, pix FROM ppm
),
k AS (
  SELECT doc_id, w, ow, oh, pix, unnest(range(0, ow*oh*3)) AS k FROM dims
),
v AS (
  SELECT doc_id, ow, oh, k,
    (  unicode(substr(pix, ((2*(k//(ow*3)))*w   + 2*((k%(ow*3))//3))*3   + (k%3) + 1, 1))
     + unicode(substr(pix, ((2*(k//(ow*3)))*w   + 2*((k%(ow*3))//3) + 1)*3 + (k%3) + 1, 1))
     + unicode(substr(pix, ((2*(k//(ow*3)) + 1)*w + 2*((k%(ow*3))//3))*3   + (k%3) + 1, 1))
     + unicode(substr(pix, ((2*(k//(ow*3)) + 1)*w + 2*((k%(ow*3))//3) + 1)*3 + (k%3) + 1, 1))
    ) // 4 AS b
  FROM k
),
outp AS (
  SELECT doc_id, ow, oh,
         'P6' || chr(10) || ow || ' ' || oh || chr(10) || '255' || chr(10)
           || string_agg(chr(b), '' ORDER BY k) AS payload
  FROM v GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id, ow::INT AS width, oh::INT AS height,
       length(payload)::BIGINT AS n_bytes, md5(payload) AS payload_md5
FROM outp ORDER BY media_id
"""


def mm_frame_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal frame sampling (oracled): the ``mapInPandas``
    row-explosion path — each payload fans out into up to 4
    evenly-spaced 32-byte 'frames' (the stub stands in for a video
    frame decoder; slicing bytes is the deterministic fake).

    The oracle reproduces the slices with substr arithmetic (the corpus
    is ASCII, so byte offsets == char offsets) and md5s each frame —
    value-level proof that the distributed fan-out produces exactly the
    right per-frame payloads, not just the right row count.
    """
    from pypers_spark.multimodal import media_table, sample_frames

    # ASCII guard (same predicate as wav_media_table): the oracle
    # slices `text` by code points and md5s the character slice, while
    # the Spark side slices UTF-8 payload BYTES — identical only for
    # all-ASCII documents, so gate both engines on octet_length==length.
    ascii_docs = t["documents"].filter(
        (F.length("text") >= 1)
        & (F.octet_length("text") == F.length("text"))
    )
    frames = sample_frames(media_table(ascii_docs))
    out = frames.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.octet_length("frame_payload").cast("bigint").alias("frame_len"),
        F.md5("frame_payload").alias("frame_md5"),
    )
    return out


ORACLE_MM_FRAMES = """
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(0, least(4, length(text)))) AS i,
         greatest(1, length(text) // 4) AS step
  FROM documents
  WHERE length(text) >= 1 AND octet_length(encode(text)) = length(text)
),
f AS (
  SELECT doc_id AS media_id, i AS frame_idx,
         substr(text, (i * step)::INT + 1, 32) AS frame
  FROM pos
)
SELECT media_id, frame_idx, length(frame)::BIGINT AS frame_len,
       md5(frame) AS frame_md5
FROM f ORDER BY media_id, frame_idx
"""


def txt_source_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus rollup per source × lang: doc counts, char stats."""
    d = t["documents"]
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            rnd(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4).alias("avg_chars"),
        )
    )


ORACLE_SOURCE_STATS = f"""
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       {duck_rnd('CAST(sum(n_chars) AS DOUBLE) / count(*)', 4)} AS avg_chars
FROM documents GROUP BY source, lang ORDER BY source, lang
"""


def mm_audio_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Audio-modality decode over REAL RIFF/WAVE bytes: the corpus is
    turned into binary WAV payloads IN-PLAN — little-endian chunk
    headers assembled JVM-side, every 4th payload carrying an odd-sized
    LIST chunk so the chunk walk and word alignment are exercised —
    and the Arrow-batched ``mapInPandas`` decode runs the real chunk
    walker (:func:`pypers_spark.multimodal.decode_wav`), then rolls up
    a per-format report: media counts, payload volume, frame totals,
    and exact (dsum-quantized) audio seconds.

    Every WAV parameter is doc_id arithmetic
    (:func:`pypers_spark.multimodal.wav_media_table`), so the oracle
    recomputes the expected metadata WITHOUT touching bytes — a bug in
    either the writer or the parser (header field order, endianness,
    chunk-size walk, block-align math) breaks the value match. Scale:
    payloads stream through executors as Arrow batches, the rollup is
    one partial-aggregated shuffle on a 12-group key.
    """
    from pypers_spark.multimodal import decode_audio, wav_media_table

    meta = decode_audio(wav_media_table(t["documents"]))
    block = F.col("n_channels") * (F.col("bits_per_sample") / 8).cast("long")
    duration = F.col("data_bytes").cast("double") / (
        F.col("sample_rate") * block
    ).cast("double")
    return (
        meta.groupBy("sample_rate", "n_channels", "bits_per_sample")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("data_bytes").alias("total_data_bytes"),
            F.sum("n_frames").alias("total_frames"),
            rnd(dsum(duration), 4).alias("total_seconds"),
        )
    )


ORACLE_MM_AUDIO = f"""
WITH m AS (
  SELECT 1 + doc_id % 2 AS n_channels,
         {WAV_RATE_BASE} * (1 + doc_id % {WAV_RATE_MOD}) AS sample_rate,
         8 + 8 * ((doc_id % 5) % 2) AS bits_per_sample,
         {WAV_DATA_BASE} + doc_id % {WAV_DATA_MOD} AS data_bytes
  FROM documents
  WHERE length(text) >= 1 AND octet_length(encode(text)) = length(text)
),
b AS (
  SELECT *, n_channels * (bits_per_sample // 8) AS block FROM m
)
SELECT CAST(sample_rate AS INT) AS sample_rate,
       CAST(n_channels AS INT) AS n_channels,
       CAST(bits_per_sample AS INT) AS bits_per_sample,
       count(*) AS n_media,
       CAST(sum(data_bytes) AS BIGINT) AS total_data_bytes,
       CAST(sum(data_bytes // block) AS BIGINT) AS total_frames,
       {duck_rnd(duck_dsum('CAST(data_bytes AS DOUBLE) / (sample_rate * block)'), 4)}
         AS total_seconds
FROM b
GROUP BY 1, 2, 3
ORDER BY sample_rate, n_channels, bits_per_sample
"""


QUERIES = {
    "txt_token_count": txt_token_count,
    "txt_quality": txt_quality,
    "txt_langid": txt_langid,
    "txt_fingerprint": txt_fingerprint,
    "txt_source_stats": txt_source_stats,
    "mm_audio_meta": mm_audio_meta,
    "mm_binary_meta": mm_binary_meta,
    "mm_decode_meta": mm_decode_meta,
    "mm_gif_meta": mm_gif_meta,
    "mm_png_meta": mm_png_meta,
    "mm_features_hist": mm_features_hist,
    "mm_frame_sample": mm_frame_sample,
    "mm_resize_meta": mm_resize_meta,
}

ORACLES = {
    "txt_token_count": ORACLE_TOKEN_COUNT,
    "txt_quality": ORACLE_QUALITY,
    "txt_langid": _duck_langid_sql(),
    "txt_fingerprint": ORACLE_FINGERPRINT,
    "txt_source_stats": ORACLE_SOURCE_STATS,
    "mm_audio_meta": ORACLE_MM_AUDIO,
    "mm_binary_meta": ORACLE_MM_BINARY,
    "mm_decode_meta": ORACLE_MM_DECODE,
    "mm_gif_meta": ORACLE_MM_GIF,
    "mm_png_meta": ORACLE_MM_PNG,
    "mm_features_hist": ORACLE_MM_FEATURES,
    "mm_frame_sample": ORACLE_MM_FRAMES,
    "mm_resize_meta": ORACLE_MM_RESIZE,
}


# --- txt_quality_prune -------------------------------------------------------


def txt_quality_prune(t: dict[str, DataFrame]) -> DataFrame:
    """The APPLIED quality filter: score every document (same blend as
    txt_quality), derive the corpus p25 quality as the cut, and report
    the per-source survival rollup — the job that actually prunes the
    bottom quartile before training, not just the scores.

    The threshold is an exact interpolated percentile over the scored
    corpus (deterministic, oracle-identical to DuckDB quantile_cont),
    computed once and broadcast-joined back (1-row table); the scored
    projection is a single pass shared by both branches.
    """
    d = _spread(t["documents"])
    txt = F.col("text")
    scored = d.select(
        "doc_id",
        "source",
        (
            0.4 * F.least(F.length(txt) / F.lit(500.0), F.lit(1.0))
            + 0.3 * stopword_ratio(txt)
            + 0.2 * (1 - punct_ratio(txt))
            + 0.1 * (1 - upper_ratio(txt))
        ).alias("q"),
    )
    from pypers_spark.functions.caching import tracked_persist

    scored = tracked_persist(scored, "text.quality_scores")
    from pypers_spark.functions.percentile import exact_percentiles

    cut = exact_percentiles(scored, "q", [(0.25, "q25")])
    return (
        scored.crossJoin(F.broadcast(cut))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("q") >= F.col("q25")).cast("bigint")).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            rnd(F.col("n_kept").cast("double") / F.col("n_docs"), 4).alias("kept_frac"),
        )
    )


ORACLE_QUALITY_PRUNE = f"""
WITH scored AS (
  SELECT doc_id, source,
         0.4 * least(length(text) / 500.0, 1.0)
         + 0.3 * ({duck_stopword_ratio('text')})
         + 0.2 * (1 - ({duck_punct_ratio('text')}))
         + 0.1 * (1 - ({duck_upper_ratio('text')})) AS q
  FROM documents
),
cut AS (SELECT quantile_cont(q, 0.25) AS q25 FROM scored)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN q >= q25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {duck_rnd('sum(CASE WHEN q >= q25 THEN 1 ELSE 0 END)::DOUBLE / count(*)', 4)} AS kept_frac
FROM scored, cut
GROUP BY source ORDER BY source
"""

QUERIES["txt_quality_prune"] = txt_quality_prune
ORACLES["txt_quality_prune"] = ORACLE_QUALITY_PRUNE


# --- mm_chunk_bytes ----------------------------------------------------------

BYTE_CHUNK = 64  # bytes per chunk (blob transport unit stand-in)


def mm_chunk_bytes(t: dict[str, DataFrame]) -> DataFrame:
    """Multimodal payload chunking: split each opaque BINARY payload
    into fixed {BYTE_CHUNK}-byte chunks (ragged tail) — the transport
    shape for shipping large media blobs through bounded Arrow batches
    / object-store multipart uploads, and the binary analogue of
    txt_chunk.

    Pure column expressions on the binary type (substring/md5 operate
    on bytes JVM-side — no Python, no decode): one generate per
    payload, no shuffle until the sink. The oracle chunks the same
    bytes via DuckDB string ops (corpus is ASCII, bytes == chars) and
    must match chunk count, sizes, AND per-chunk md5.
    """
    # ASCII guard: the oracle chunks by CODE POINTS while this side
    # chunks UTF-8 BYTES — gate both engines on octet_length == length.
    d = t["documents"].filter(F.octet_length("text") == F.length("text"))
    payload = F.encode(F.col("text"), "utf-8")
    sized = d.select("doc_id", payload.alias("b")).withColumn(
        "n_bytes", F.octet_length("b")
    ).withColumn(
        "n_chunks",
        F.greatest(
            F.ceil(F.col("n_bytes") / F.lit(BYTE_CHUNK)).cast("int"), F.lit(1)
        ),
    )
    chunk = F.substring(
        F.col("b"), F.col("chunk_idx") * BYTE_CHUNK + 1, BYTE_CHUNK
    )
    return (
        sized.select(
            "doc_id",
            "b",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.octet_length(chunk).alias("n_chunk_bytes"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


ORACLE_MM_CHUNK = f"""
WITH sized AS (
  SELECT doc_id, text, length(text) AS n_bytes,
         greatest(CAST(ceil(length(text) / {BYTE_CHUNK}.0) AS INT), 1) AS n_chunks
  FROM documents
  WHERE octet_length(encode(text)) = length(text)
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(length(substr(text, i * {BYTE_CHUNK} + 1, {BYTE_CHUNK})) AS INT)
         AS n_chunk_bytes,
       md5(substr(text, i * {BYTE_CHUNK} + 1, {BYTE_CHUNK})) AS chunk_md5
FROM sized, unnest(range(n_chunks)) AS t(i)
ORDER BY doc_id, chunk_idx
"""

QUERIES["mm_chunk_bytes"] = mm_chunk_bytes
ORACLES["mm_chunk_bytes"] = ORACLE_MM_CHUNK


def mm_image_phash(t: dict[str, DataFrame]) -> DataFrame:
    """Perceptual near-dup hashing over REAL decoded pixels: the
    in-plan P6 payloads stream through the Arrow ``mapInPandas``
    dHash (:func:`pypers_spark.multimodal.dhash_ppm` — 9×8
    nearest-neighbor grayscale grid, one bit per horizontal gradient,
    16 hex chars), then a window count sizes each hash group — the
    image-level analogue of dd_exact's fingerprint grouping.

    Every step is exact integer arithmetic, so the oracle recomputes
    the identical hash from the fixture's text-cycling byte derivation
    (unicode(substr(pix, ...))) without touching binary — a decode or
    sampling bug breaks the value match bit-for-bit.
    """
    from pyspark.sql import Window

    from pypers_spark.multimodal import phash_media, ppm_media_table

    ph = phash_media(ppm_media_table(t["documents"]))
    w = Window.partitionBy("phash")
    return (
        ph.withColumn("n_same", F.count("*").over(w).cast("bigint"))
        .select("media_id", "width", "height", "phash", "n_same")
    )


# Grid/grayscale arithmetic mirrors dhash_ppm: sx = x*w // 9,
# sy = y*h // 8, gray = (r+g+b) // 3 at pixel k = sy*w + sx (substr is
# 1-based, so byte c of pixel k sits at 3k + c + 1); bit x of row y is
# gray(x) < gray(x+1), packed MSB-first into one hex byte per row.
# Shared by ORACLE_MM_PHASH and ORACLE_MM_PHASH_PAIRS.
_DUCK_PHASH_CTES = f"""{_DUCK_PPM},
cells AS (
  SELECT doc_id, w, h, y, x,
    (  unicode(substr(pix, 3*(((y*h)//8)*w + ((x*w)//9)) + 1, 1))
     + unicode(substr(pix, 3*(((y*h)//8)*w + ((x*w)//9)) + 2, 1))
     + unicode(substr(pix, 3*(((y*h)//8)*w + ((x*w)//9)) + 3, 1))
    ) // 3 AS gray
  FROM ppm,
       (SELECT unnest(range(0, 8)) AS y) ty,
       (SELECT unnest(range(0, 9)) AS x) tx
),
bits AS (
  SELECT doc_id, y, x,
         CAST(gray < lead(gray) OVER (PARTITION BY doc_id, y ORDER BY x)
              AS INT) AS b
  FROM cells
),
bytes AS (
  SELECT doc_id, y, CAST(sum(b * (1 << (7 - x))) AS BIGINT) AS byte
  FROM bits WHERE x <= 7 GROUP BY doc_id, y
),
ph AS (
  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY y) AS phash
  FROM bytes GROUP BY doc_id
)"""

ORACLE_MM_PHASH = f"""
WITH {_DUCK_PHASH_CTES}
SELECT m.doc_id AS media_id, m.w::INT AS width, m.h::INT AS height,
       ph.phash,
       count(*) OVER (PARTITION BY ph.phash) AS n_same
FROM ph JOIN m ON ph.doc_id = m.doc_id
ORDER BY media_id
"""

QUERIES["mm_image_phash"] = mm_image_phash
ORACLES["mm_image_phash"] = ORACLE_MM_PHASH


# --- mm_phash_pairs ----------------------------------------------------------

PHP_BANDS = 4   # 4 bands × 16 bits over the 64-bit dHash
PHP_HAM_T = 12  # max Hamming distance for a verified near-dup pair
# Skew guard on the band buckets, measured in DISTINCT hashes (the
# banding runs over representatives after the identical-hash collapse):
# a band bucket wider than this is dropped from cross-hash candidate
# generation — the dd LSH_MAX_BUCKET_WIDTH discipline. Baked into the
# DuckDB oracle too, so both engines compute the identical capped
# result at any data scale.
PHP_MAX_BUCKET_WIDTH = 64


def _phash_table(t: dict[str, DataFrame]) -> DataFrame:
    """Persisted (media_id, phash) dHash table shared by the pair miner
    and the bucket-stats profile.

    Repartition BEFORE the decode (the corpus() lesson): the skinny
    media table arrives in 1-2 scan splits, which would pin the Arrow
    decode to 1-2 cores; at 100 TB the scan has thousands of splits and
    AQE coalesces this exchange away.
    """
    from pypers_spark.functions.caching import tracked_persist
    from pypers_spark.multimodal import phash_media, ppm_media_table

    n_part = int(
        t["documents"].sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    media = ppm_media_table(t["documents"]).repartition(
        n_part, F.col("media_id")
    )
    return tracked_persist(
        phash_media(media).select("media_id", "phash"),
        "text.phash_pairs_ph",
    )


def _phash_rep_bands(ph: DataFrame) -> DataFrame:
    """Band table over DISTINCT hashes (one row per hash per band).

    ``phv`` is the 64-bit hash VALUE, parsed from the 16 hex chars once
    per distinct hash (two 32-bit halves — ``conv`` returns a decimal
    string, and a full 64-bit value with the top bit set would overflow
    the bigint cast): the Hamming verify then costs ONE xor+bit_count
    per candidate pair instead of 16 per-nibble substring/conv/xor
    terms — and the verify filter is pushed below the candidate
    ``distinct``, so it runs per EXPANDED pair (up to bands× the
    distinct count). Consumers that don't need it (bucket stats) prune
    the column at the scan.
    """
    phv = F.shiftleft(
        F.conv(F.substring("phash", 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(F.conv(F.substring("phash", 9, 8), 16, 10).cast("long"))
    return ph.select("phash").distinct().select(
        "phash",
        phv.alias("phv"),
        F.posexplode(
            F.array(
                *[
                    F.substring("phash", i * 4 + 1, 4)
                    for i in range(PHP_BANDS)
                ]
            )
        ).alias("band", "bkey"),
    )


def _phash_within_pairs(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """Hamming-0 pairs: equality self-join within identical-hash groups."""
    return (
        pa.join(pb, "phash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )


def _phash_cross_candidates(ph: DataFrame) -> DataFrame:
    """Cross-hash candidates over representatives: capped
    aggregate-and-expand per band bucket (C(w,2) ordered hash pairs).

    The collected elements are (hash, value) structs: sorting by the
    struct sorts by the hex string (``v`` is a function of ``h``), so
    the emitted pair set is identical to the string-only form, and the
    pre-parsed ``v`` rides along for the one-word Hamming verify.
    """
    buckets = (
        _phash_rep_bands(ph)
        .groupBy("band", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("phash").alias("h"), F.col("phv").alias("v")))
            ).alias("hs")
        )
        .filter(
            (F.size("hs") >= 2) & (F.size("hs") <= F.lit(PHP_MAX_BUCKET_WIDTH))
        )
    )
    hash_pairs = F.flatten(
        F.transform(
            F.col("hs"),
            lambda x, i: F.transform(
                F.slice(F.col("hs"), i + 2, F.size("hs")),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    # NOTE (r12, measured-then-rejected): emitting each pair only from
    # its FIRST raw-matching band (cheap integer check on the pair xor)
    # would remove this ``distinct`` exchange outright — but it is
    # WRONG under the width cap: a pair whose earlier matching band
    # sits in a dropped (> cap) bucket is only ever emitted from a
    # later kept band, and the local check cannot see the earlier
    # bucket's width. The distinct stays.
    return (
        buckets.select(F.explode(hash_pairs).alias("p"))
        .select("p.pa", "p.pb")
        .distinct()
        .select(
            F.col("pa.h").alias("ph_a"),
            F.col("pa.v").alias("pv_a"),
            F.col("pb.h").alias("ph_b"),
            F.col("pb.v").alias("pv_b"),
        )
    )


def mm_phash_candidate_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """The pair volume the mm_phash_pairs growth law predicts, as ONE
    countable DataFrame: the Θ(Σ k²) Hamming-0 within-group media pairs
    unioned with the capped cross-hash candidate hash pairs.

    Used by tools/scale_adjudicate.py to COUNT the law's predicted
    volume per replica factor (r10 verdict item #1); shares the exact
    plan subtrees mm_phash_pairs executes.
    """
    ph = _phash_table(t)
    pa = ph.select(F.col("media_id").alias("id_a"), "phash")
    pb = ph.select(F.col("media_id").alias("id_b"), "phash")
    within = _phash_within_pairs(pa, pb).select(
        F.col("id_a").cast("string").alias("a"),
        F.col("id_b").cast("string").alias("b"),
    )
    cross = _phash_cross_candidates(ph).select(
        F.col("ph_a").alias("a"), F.col("ph_b").alias("b")
    )
    return within.unionByName(cross)


def mm_phash_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Perceptual near-dup PAIR MINING over the dHash table — the
    image-side analogue of dd_simhash's banded Hamming search. The
    64-bit dHash splits into {PHP_BANDS} 16-bit bands (4 hex chars);
    hashes sharing ANY band become candidates (an edit that flips ≤ a
    few bits leaves ≥ 1 band intact with high odds — same S-curve logic
    as MinHash banding), and only candidates pay the exact 64-bit
    Hamming verify (≤ {PHP_HAM_T} bits → emitted with the distance).

    Duplicate-dense hardening (the real-corpus case: thousands of
    byte-identical copies of one logo):

    1. **Identical-hash collapse.** Banding and candidate generation run
       over DISTINCT hashes only. Pairs WITHIN one hash group are
       Hamming-0 by definition — they come from a plain equality
       self-join on the hash key (one co-located shuffle, no banding,
       no 16-nibble verify), so k copies of one image cost the
       candidate stage nothing instead of Θ(k²·bands) raw join rows.
    2. **Band bucket cap.** A band bucket wider than
       {PHP_MAX_BUCKET_WIDTH} DISTINCT hashes is dropped from candidate
       generation (aggregate-and-expand, the dd _band_candidates
       shape), with the drop accounted in mm_phash_bucket_stats. Pair
       count per bucket is ≤ C(cap, 2), bounded at any corpus size.

    Cross-hash matches then fan back out to media pairs through two
    joins on the hash key (each emitted pair's Hamming distance is a
    property of the hash pair, computed once per hash pair, not once
    per media pair). The verify is 16 nibble XOR/bit_count terms in
    whole-stage codegen. At 100 TB the band key becomes the storage
    bucket and the join is co-located.
    """
    ph = _phash_table(t)
    pa = ph.select(F.col("media_id").alias("id_a"), "phash")
    pb = ph.select(F.col("media_id").alias("id_b"), "phash")
    within = _phash_within_pairs(pa, pb)
    cand = _phash_cross_candidates(ph)

    # One-word Hamming verify (r12): the candidate table carries the
    # pre-parsed 64-bit hash values, so the distance is a single
    # xor+bit_count instead of 16 per-nibble substring/conv/xor terms —
    # identical value (popcount distributes over the nibble split), and
    # the copy of this filter the optimizer pushes below the candidate
    # ``distinct`` (per EXPANDED band pair) becomes ~free.
    hamming = F.bit_count(
        F.col("pv_a").bitwiseXOR(F.col("pv_b"))
    ).cast("int")
    verified = cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= PHP_HAM_T
    ).select("ph_a", "ph_b", "hamming")
    cross = (
        verified.join(pa.withColumnRenamed("phash", "ph_a"), "ph_a")
        .join(pb.withColumnRenamed("phash", "ph_b"), "ph_b")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


def _php_duck_nib(col: str, i: int) -> str:
    return f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"


_PHP_DUCK_HAMMING = " + ".join(
    f"bit_count(xor({_php_duck_nib('a.phash', i)}, {_php_duck_nib('b.phash', i)}))"
    for i in range(16)
)

# Shared CTE chain over DISTINCT hashes: reps → bands → widths (the
# cap acts on representative counts, mirrored exactly engine-to-engine).
_PHP_DUCK_BAND_CTES = f"""reps AS (SELECT DISTINCT phash FROM ph),
bands AS (
  SELECT phash, CAST(i AS INT) AS band,
         substr(phash, CAST(i AS INT) * 4 + 1, 4) AS bkey
  FROM reps, unnest(range({PHP_BANDS})) AS t(i)
),
widths AS (SELECT band, bkey, count(*) AS w FROM bands GROUP BY ALL)"""

_PHP_HAM = _PHP_DUCK_HAMMING.replace("a.phash", "ph_a").replace(
    "b.phash", "ph_b"
)

ORACLE_MM_PHASH_PAIRS = f"""
WITH {_DUCK_PHASH_CTES},
{_PHP_DUCK_BAND_CTES},
keep AS (SELECT band, bkey FROM widths WHERE w BETWEEN 2 AND {PHP_MAX_BUCKET_WIDTH}),
cand AS (
  SELECT DISTINCT a.phash AS ph_a, b.phash AS ph_b
  FROM bands a
  JOIN keep k ON a.band = k.band AND a.bkey = k.bkey
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.phash < b.phash
),
verified AS (
  SELECT ph_a, ph_b, CAST({_PHP_HAM} AS INT) AS hamming
  FROM cand WHERE {_PHP_HAM} <= {PHP_HAM_T}
),
within AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
  FROM ph a JOIN ph b ON a.phash = b.phash AND a.doc_id < b.doc_id
),
crossed AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b, v.hamming
  FROM verified v
  JOIN ph ma ON ma.phash = v.ph_a
  JOIN ph mb ON mb.phash = v.ph_b
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM within
UNION ALL
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM crossed
ORDER BY id_a, id_b
"""

QUERIES["mm_phash_pairs"] = mm_phash_pairs
ORACLES["mm_phash_pairs"] = ORACLE_MM_PHASH_PAIRS


def mm_phash_bucket_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-band dHash bucket-width profile + what the skew cap dropped —
    the observability side of mm_phash_pairs' PHP_MAX_BUCKET_WIDTH
    guard (dd_lsh_bucket_stats for the image index). Widths count
    DISTINCT hashes (the space the cap acts on, post identical-hash
    collapse); n_collapsed is how many media rows the collapse absorbed
    before banding. One groupBy over the representative band table —
    O(distinct hashes · bands).
    """
    ph = _phash_table(t)
    collapsed = ph.groupBy().agg(
        (F.count("*") - F.count_distinct("phash")).alias("n_collapsed")
    )
    over = F.col("w") > F.lit(PHP_MAX_BUCKET_WIDTH)
    widths = (
        _phash_rep_bands(ph).groupBy("band", "bkey").agg(F.count("*").alias("w"))
    )
    return (
        widths.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("w").alias("max_width"),
            F.sum(over.cast("bigint")).alias("n_dropped_buckets"),
            F.sum(F.when(over, F.col("w")).otherwise(F.lit(0))).alias(
                "n_dropped_hashes"
            ),
        )
        .crossJoin(F.broadcast(collapsed))
        .select(
            "band",
            "n_buckets",
            "max_width",
            "n_dropped_buckets",
            "n_dropped_hashes",
            "n_collapsed",
        )
    )


ORACLE_MM_PHASH_BUCKET_STATS = f"""
WITH {_DUCK_PHASH_CTES},
{_PHP_DUCK_BAND_CTES},
collapsed AS (
  SELECT count(*) - count(DISTINCT phash) AS n_collapsed FROM ph
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(w) AS BIGINT) AS max_width,
       CAST(sum(CASE WHEN w > {PHP_MAX_BUCKET_WIDTH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_buckets,
       CAST(sum(CASE WHEN w > {PHP_MAX_BUCKET_WIDTH} THEN w ELSE 0 END) AS BIGINT)
         AS n_dropped_hashes,
       CAST((SELECT n_collapsed FROM collapsed) AS BIGINT) AS n_collapsed
FROM widths GROUP BY band ORDER BY band
"""

QUERIES["mm_phash_bucket_stats"] = mm_phash_bucket_stats
ORACLES["mm_phash_bucket_stats"] = ORACLE_MM_PHASH_BUCKET_STATS


# --- mm_audio_energy (r8) -----------------------------------------------------


def mm_audio_energy(t: dict[str, DataFrame]) -> DataFrame:
    """Audio FEATURE EXTRACTION over real RIFF/WAVE bytes: per media,
    exact integer PCM signal statistics (sum |amp|, energy Σamp²,
    peak, silence count at the per-depth threshold) plus derived
    silence ratio and RMS — the VAD/loudness profile an audio curation
    pipeline computes before keeping a clip. The chunk walk + numpy
    amplitude math run in the Arrow ``mapInPandas`` stage
    (:func:`pypers_spark.multimodal.audio_energy`); only 7-column
    stats rows shuffle.

    The data bytes are the document's ASCII text cycled to the
    per-doc data length (multimodal.wav_media_table), so the oracle
    recomputes every statistic from the text WITHOUT touching binary —
    a bug anywhere in the writer, the chunk walk, the 8-vs-16-bit
    sample decode, or the sign handling breaks the value match. RMS
    stays parity-safe: one double division + one sqrt (correctly
    rounded IEEE in both engines); every accumulation is int64.
    """
    from pypers_spark.multimodal import audio_energy, wav_media_table

    n_part = int(
        t["documents"].sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    media = wav_media_table(t["documents"]).repartition(
        n_part, F.col("media_id")
    )
    stats = audio_energy(media)
    return stats.select(
        "media_id",
        "bits_per_sample",
        "n_samples",
        "sum_abs",
        "sum_sq",
        "peak_abs",
        "n_silent",
        rnd(
            F.col("n_silent").cast("double")
            / F.greatest(F.col("n_samples"), F.lit(1)),
            6,
        ).alias("silence_ratio"),
        rnd(
            F.sqrt(
                F.col("sum_sq").cast("double")
                / F.greatest(F.col("n_samples"), F.lit(1))
            ),
            6,
        ).alias("rms"),
    )


def _oracle_mm_audio_energy() -> str:
    from pypers_spark.multimodal import SILENCE_ABS_8, SILENCE_ABS_16

    # data bytes = the doc's ASCII text cycled to data_len (the
    # wav_media_table derivation); 8-bit amps are unsigned around 128,
    # 16-bit are signed little-endian pairs.
    amp8 = "unicode(substr(data, CAST(i AS INT), 1)) - 128"
    s16 = (
        "unicode(substr(data, CAST(2 * i - 1 AS INT), 1))"
        " + 256 * unicode(substr(data, CAST(2 * i AS INT), 1))"
    )
    amp16 = f"CASE WHEN {s16} >= 32768 THEN {s16} - 65536 ELSE {s16} END"
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         8 + 8 * ((doc_id % 5) % 2) AS bits,
         {WAV_DATA_BASE} + doc_id % {WAV_DATA_MOD} AS data_len,
         text
  FROM documents
  WHERE length(text) >= 1 AND octet_length(encode(text)) = length(text)
),
d AS (
  SELECT media_id, bits, data_len,
         substr(repeat(text, CAST(ceil(data_len * 1.0 / length(text)) AS INT)),
                1, CAST(data_len AS INT)) AS data
  FROM m
),
amps AS (
  SELECT media_id, bits,
         CASE WHEN bits = 8
              THEN list_transform(range(1, CAST(data_len AS BIGINT) + 1),
                                  i -> {amp8})
              ELSE list_transform(range(1, data_len // 2 + 1),
                                  i -> {amp16})
         END AS amp,
         CASE WHEN bits = 8 THEN {SILENCE_ABS_8} ELSE {SILENCE_ABS_16} END AS st
  FROM d
)
SELECT media_id,
       CAST(bits AS INT) AS bits_per_sample,
       CAST(len(amp) AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(amp, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_sum(list_transform(amp, x -> x * x)) AS BIGINT) AS sum_sq,
       CAST(list_max(list_transform(amp, x -> abs(x))) AS BIGINT) AS peak_abs,
       CAST(len(list_filter(amp, x -> abs(x) <= st)) AS BIGINT) AS n_silent,
       {duck_rnd('CAST(len(list_filter(amp, x -> abs(x) <= st)) AS DOUBLE)'
                 ' / greatest(len(amp), 1)', 6)} AS silence_ratio,
       {duck_rnd('sqrt(CAST(list_sum(list_transform(amp, x -> x * x)) AS DOUBLE)'
                 ' / greatest(len(amp), 1))', 6)} AS rms
FROM amps
ORDER BY media_id
"""


QUERIES["mm_audio_energy"] = mm_audio_energy
ORACLES["mm_audio_energy"] = _oracle_mm_audio_energy()


# --- mm_scene_cut (r8) ---------------------------------------------------------
#
# Scene-cut detection over the sampled frame sequence: per frame a
# luminance proxy (exact integer byte-sum, length-normalized via
# integer division so the short final frame doesn't read as a fake
# cut), per media the lag-diff along frame order, a cut wherever the
# normalized brightness jumps ≥ SCENE_CUT_T. The readout is the
# cuts-per-media histogram plus the summed peak jump — the shot
# boundary census a video curation pipeline runs after frame sampling.
#
# Scale shape: frame_lumas is the sanctioned Arrow mapInPandas decode
# stage (one pass, fan-out distributed); everything after is a lag
# window per media (frame lists are ≤4 rows) and two hash aggregations.
# Integer arithmetic end-to-end — bit-identical across engines.

SCENE_CUT_T = 2500  # threshold on the per-mille-normalized luma jump


def mm_scene_cut(t: dict[str, DataFrame]) -> DataFrame:
    from pyspark.sql import Window

    from pypers_spark.multimodal import frame_lumas, media_table

    # ASCII guard (same predicate as wav_media_table): the oracle
    # slices/weighs `text` by code points while the Spark side sums
    # UTF-8 payload BYTES — the two only coincide when
    # octet_length == length (all-ASCII), so gate both engines on it.
    ascii_docs = t["documents"].filter(
        (F.length("text") >= 1)
        & (F.octet_length("text") == F.length("text"))
    )
    lum = frame_lumas(media_table(ascii_docs)).withColumn(
        "luma_q", F.expr("(luma_sum * 1000) div frame_len")
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    diffs = lum.withColumn(
        "jump", F.abs(F.col("luma_q") - F.lag("luma_q").over(w))
    )
    per_media = diffs.groupBy("media_id").agg(
        F.sum(F.when(F.col("jump") >= SCENE_CUT_T, 1).otherwise(0)).alias("n_cuts"),
        F.coalesce(F.max("jump"), F.lit(0)).alias("max_jump"),
    )
    return (
        per_media.groupBy("n_cuts")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("max_jump").cast("bigint").alias("sum_max_jump"),
        )
    )


def _oracle_mm_scene_cut() -> str:
    return f"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(0, least(4, length(text)))) AS i,
         greatest(1, length(text) // 4) AS step
  FROM documents
),
f AS (
  SELECT doc_id AS media_id, i AS frame_idx,
         substr(text, (i * step)::INT + 1, 32) AS frame
  FROM pos
  WHERE length(text) >= 1 AND octet_length(encode(text)) = length(text)
),
lum AS (
  SELECT media_id, frame_idx,
         (list_sum(list_transform(range(1, length(frame) + 1),
                                  x -> ord(substr(frame, x::INT, 1)))) * 1000)
           // length(frame) AS luma_q
  FROM f
),
diffs AS (
  SELECT media_id,
         abs(luma_q - lag(luma_q) OVER (PARTITION BY media_id ORDER BY frame_idx))
           AS jump
  FROM lum
),
per_media AS (
  SELECT media_id,
         CAST(sum(CASE WHEN jump >= {SCENE_CUT_T} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cuts,
         coalesce(max(jump), 0) AS max_jump
  FROM diffs
  GROUP BY media_id
)
SELECT n_cuts, count(*) AS n_media, CAST(sum(max_jump) AS BIGINT) AS sum_max_jump
FROM per_media
GROUP BY n_cuts
ORDER BY n_cuts
"""


QUERIES["mm_scene_cut"] = mm_scene_cut
ORACLES["mm_scene_cut"] = _oracle_mm_scene_cut()


# --- mm_audio_vad (r8) ---------------------------------------------------------


def mm_audio_vad(t: dict[str, DataFrame]) -> DataFrame:
    """Voice-activity segmentation over real RIFF/WAVE bytes: per
    media, the number of VOICED segments (maximal runs of |amp| above
    the per-depth silence threshold), the longest silence run, and the
    voiced-sample total — the clip segmentation an audio curation
    pipeline runs before chunking speech for transcription. The chunk
    walk + vectorized run-length pass live in the Arrow mapInPandas
    stage (:func:`pypers_spark.multimodal.audio_vad`); only 6-column
    profile rows shuffle. The DuckDB oracle recomputes the runs with
    the gaps-and-islands discipline over the unnested amplitude list —
    so the sample decode AND the segmentation algebra are value-gated.
    """
    from pypers_spark.multimodal import audio_vad, wav_media_table

    n_part = int(
        t["documents"].sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    media = wav_media_table(t["documents"]).repartition(n_part, F.col("media_id"))
    return audio_vad(media)


def _oracle_mm_audio_vad() -> str:
    from pypers_spark.multimodal import SILENCE_ABS_8, SILENCE_ABS_16

    amp8 = "unicode(substr(data, CAST(i AS INT), 1)) - 128"
    s16 = (
        "unicode(substr(data, CAST(2 * i - 1 AS INT), 1))"
        " + 256 * unicode(substr(data, CAST(2 * i AS INT), 1))"
    )
    amp16 = f"CASE WHEN {s16} >= 32768 THEN {s16} - 65536 ELSE {s16} END"
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         8 + 8 * ((doc_id % 5) % 2) AS bits,
         {WAV_DATA_BASE} + doc_id % {WAV_DATA_MOD} AS data_len,
         text
  FROM documents
  WHERE length(text) >= 1 AND octet_length(encode(text)) = length(text)
),
d AS (
  SELECT media_id, bits, data_len,
         substr(repeat(text, CAST(ceil(data_len * 1.0 / length(text)) AS INT)),
                1, CAST(data_len AS INT)) AS data
  FROM m
),
amps AS (
  SELECT media_id, bits,
         CASE WHEN bits = 8
              THEN list_transform(range(1, CAST(data_len AS BIGINT) + 1),
                                  i -> {amp8})
              ELSE list_transform(range(1, data_len // 2 + 1),
                                  i -> {amp16})
         END AS amp,
         CASE WHEN bits = 8 THEN {SILENCE_ABS_8} ELSE {SILENCE_ABS_16} END AS st
  FROM d
),
pos AS (
  SELECT media_id, bits, len(amp) AS n_samples, i,
         (abs(amp[CAST(i AS INT)]) > st) AS voiced
  FROM amps, unnest(range(1, CAST(len(amp) AS BIGINT) + 1)) AS u(i)
),
grps AS (
  SELECT media_id, bits, n_samples, voiced,
         i - row_number() OVER (PARTITION BY media_id, voiced ORDER BY i) AS grp
  FROM pos
),
runs AS (
  SELECT media_id, bits, n_samples, voiced, grp,
         count(*) OVER (PARTITION BY media_id, voiced, grp) AS run_len
  FROM grps
)
SELECT media_id,
       CAST(bits AS INT) AS bits_per_sample,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(count(DISTINCT CASE WHEN voiced THEN grp END) AS BIGINT) AS n_segments,
       CAST(coalesce(max(CASE WHEN NOT voiced THEN run_len END), 0) AS BIGINT)
         AS longest_silence,
       CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced
FROM runs
GROUP BY media_id, bits, n_samples
ORDER BY media_id
"""


QUERIES["mm_audio_vad"] = mm_audio_vad
ORACLES["mm_audio_vad"] = _oracle_mm_audio_vad()
