"""Multimodal column plumbing (SURVEY.md §2.F).

Treats image/audio/video payloads as opaque ``binary`` columns plus a
typed metadata struct, with decode / feature-extraction / resize /
frame-sampling implemented as Arrow-batched ``mapInPandas`` pipelines.

PLUGGABLE CODECS: the byte→pixels decode is an injection point
(:func:`set_decoder` / the ``decoder=`` argument of
:func:`decode_media`), defaulting to a clearly-marked deterministic
stub (:func:`default_decoder`, kept because this container has no
image/audio libraries) that derives stable pseudo-content from the
payload hash. A real deployment registers a Pillow/ffmpeg-backed
callable once at startup (see :func:`pillow_decoder`) — no operator
code changes. Everything Spark-side is real and tested: schemas, the
``mapInPandas`` batch iteration, partition behavior, and the UDF
signatures. The feature extractor is pluggable the same way
(:func:`set_feature_extractor`).

The registered codec is captured when the plan is BUILT (not when it
runs) and pickled into the ``mapInPandas`` closure, so it ships to
executors with no driver round-trips.

Scale notes: ``mapInPandas`` streams Arrow batches — payload bytes never
gather on the driver; per-batch decode keeps peak memory at
(batch size × payload size); metadata-only queries (filters on
mime/width/duration) never touch the binary column thanks to column
pruning on the parquet scan.
"""

from __future__ import annotations

import hashlib
import zlib
from functools import lru_cache
from typing import Callable, Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("source", StringType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("content_sha", StringType()),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        # float64: keeps the byte-histogram ratios bit-identical to the
        # DuckDB oracle (float32 would shift 1-in-10^4 rounding edges).
        StructField("features", ArrayType(DoubleType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def _spread(df: DataFrame) -> DataFrame:
    """Raise a narrow pre-payload DataFrame to the session's default
    parallelism before a Python payload stage.

    A small documents scan is often ONE input split (a single parquet
    file under maxPartitionBytes), which would serialize every
    downstream ``mapInPandas`` codec stage onto one Python worker — at
    sf1 that made mm_gif_meta ~4x slower than its 32-core potential.
    The repartition shuffles only the tiny pre-payload rows (doc_id +
    source), never synthesized payloads, and is a no-op when the scan
    already has enough splits (the 100 TB case, where payload tables
    arrive with thousands of partitions).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _materialize_stats(df: DataFrame) -> DataFrame:
    """Hash-repartition a SMALL post-codec stats DataFrame on media_id.

    The exchange materializes the Python codec stage's output once
    (r11, guide §2.3/§8): without it, any plan with two consumers of
    the decode (a readout branch, a self-join or union) re-runs the
    WHOLE codec stage per consumer (measured: mm_png_meta's 500-image
    PNG decode executed twice per query, 19.8 + 14.4 executor-cpu-s).
    Only skinny stats rows cross the exchange, never payloads;
    downstream consumers read the materialized shuffle blocks instead.

    No explicit partition count: REPARTITION_BY_COL lets AQE coalesce
    the (tiny) stats exchange — a pinned count held 32 post-exchange
    tasks alive whose fixed per-task cost exceeded the rows' worth."""
    return df.repartition(F.col("media_id"))


def media_table(documents: DataFrame) -> DataFrame:
    """Build a media table from the documents table (payload = utf-8 text).

    Stands in for a real binary column (scanned parquet with
    image/audio bytes); schema and code paths are identical.
    """
    payload = F.encode(F.col("text"), "utf-8")
    return _spread(documents).select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.col("source"),
    )


# A decoder maps (payload bytes, mime type) -> dict with keys
# width / height / n_channels / content_sha.
Decoder = Callable[[bytes, str], dict]
# A feature extractor maps payload bytes -> a fixed-length float vector.
FeatureExtractor = Callable[[bytes], Sequence[float]]

_DECODER: Optional[Decoder] = None
_FEATURE_EXTRACTOR: Optional[FeatureExtractor] = None


def default_decoder(payload: bytes, mime_type: str = "") -> dict:
    """Default STUB decoder — deterministic fake standing in for Pillow/ffmpeg.

    Derives (width, height, channels) from the payload's md5 so tests
    AND the DuckDB oracle can reproduce the decode output bit-for-bit
    (md5 is the one digest both engines share — DuckDB has no sha1):
    byte k of the digest is ``('0x' || substr(md5(payload), 2k+1, 2))::INT``.
    Production registers a real codec via :func:`set_decoder` instead of
    editing this.
    """
    hex_digest = hashlib.md5(payload).hexdigest()
    digest = bytes.fromhex(hex_digest)
    return {
        "width": 16 + digest[0] % 240,
        "height": 16 + digest[1] % 240,
        "n_channels": 1 + digest[2] % 3,
        "content_sha": hex_digest,
    }


# Backwards-compatible alias (pre-round-3 name).
_fake_decode = default_decoder


def set_decoder(decoder: Optional[Decoder]) -> None:
    """Register a process-wide decoder; ``None`` restores the stub.

    Affects plans built AFTER the call — the active decoder is captured
    into the ``mapInPandas`` closure at plan-build time.
    """
    global _DECODER
    _DECODER = decoder


def get_decoder() -> Decoder:
    """The decoder new plans will capture (registered one, else stub)."""
    return _DECODER if _DECODER is not None else default_decoder


def registered_decoder() -> Optional[Decoder]:
    """The explicitly registered decoder, or None — for call sites that
    want a DIFFERENT fallback than the stub (mm_decode_meta falls back
    to the real PPM parser while still honoring ``set_decoder``)."""
    return _DECODER


def set_feature_extractor(extractor: Optional[FeatureExtractor]) -> None:
    """Register a process-wide feature extractor; ``None`` restores the stub."""
    global _FEATURE_EXTRACTOR
    _FEATURE_EXTRACTOR = extractor


def get_feature_extractor() -> Optional[FeatureExtractor]:
    return _FEATURE_EXTRACTOR


def pillow_decoder() -> Decoder:
    """Build a real image decoder backed by Pillow (optional dependency).

    Raises ImportError with an actionable message when Pillow is absent
    (it is not in this container); the returned callable satisfies the
    :data:`Decoder` contract, so ``set_decoder(pillow_decoder())`` is the
    one-line production hookup.
    """
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - container has no Pillow
        raise ImportError(
            "Pillow is required for pillow_decoder(); install 'Pillow' or "
            "register a custom codec via set_decoder()."
        ) from exc

    import io

    from PIL import Image

    def _decode(payload: bytes, mime_type: str = "") -> dict:  # pragma: no cover
        img = Image.open(io.BytesIO(payload))
        return {
            "width": img.width,
            "height": img.height,
            "n_channels": len(img.getbands()),
            "content_sha": hashlib.sha1(payload).hexdigest(),
        }

    return _decode


# --- Real pure-Python codecs (PPM / BMP) ------------------------------------
#
# The container has no Pillow/ffmpeg, but binary P6 PPM and uncompressed
# 24-bit BMP need nothing beyond the standard library — so the decode /
# resize legs of the §2.F contract run over REAL pixel bytes, not the
# md5 stub. The PPM path is in the correctness gate (mm_decode_meta /
# mm_resize_meta build P6 payloads in-plan and the DuckDB oracle
# reconstructs the same bytes); the BMP parser is unit-tested over
# synthetic headers. Reference analogue: the reference pipeline's
# example stages decode microscopy images through cellpose
# (reference examples/segmentation) — opaque to its engine; here the
# decode is a first-class Arrow-batched operator.


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary P6 PPM: returns (width, height, pixel bytes).

    A real parser, not a stub: handles the magic, ``#`` comments, and
    arbitrary whitespace between header tokens per the netpbm spec.
    Raises ValueError on malformed input.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raw pixels
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pixels = payload[pos : pos + width * height * 3]
    if len(pixels) != width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return width, height, pixels


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Emit a binary P6 PPM payload for raw RGB ``pixels``."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def ppm_decoder(payload: bytes, mime_type: str = "") -> dict:
    """Real :data:`Decoder` for binary P6 PPM payloads.

    Satisfies the same contract the stub does, so
    ``set_decoder(ppm_decoder)`` (or ``decode_media(..,
    decoder=ppm_decoder)``) swaps real parsing into the identical
    mapInPandas plan. content_sha is the md5 of the full payload —
    md5 because it is the digest DuckDB shares, keeping the decode
    value-oracle-able cross-engine.
    """
    width, height, _ = decode_ppm(payload)
    return {
        "width": width,
        "height": height,
        "n_channels": 3,
        "content_sha": hashlib.md5(payload).hexdigest(),
    }


# --- GIF (LZW-compressed) codec ---------------------------------------------
#
# The round-5 codecs (P6/BMP/WAV) parse UNCOMPRESSED formats; a real
# media pipeline decodes compressed payloads. GIF87a with its LZW pixel
# stream is the most compact such format expressible in dependency-free
# pure Python, so it is the proof that the set_decoder injection
# contract carries a genuinely compressed codec: the encoder below
# performs real variable-width LZW compression (dictionary growth,
# code-width bumps, 4096-entry reset, sub-block framing) and the
# decoder reverses it — the gate round-trips real compressed bytes.

GIF_MAX_CODE = 4096  # 12-bit code limit fixed by the GIF spec


def _lzw_compress(pixels: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable code width, LSB-first bit packing.

    Width synchronization: BOTH sides advance one shared counter per
    data code (starting at eoi+1 after every clear) and widen when the
    counter reaches ``1 << width`` — so encoder and decoder agree on
    every code's width by construction, including the final flush code
    and the EOI after it.
    """
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = n_bits = 0
    width = min_code_size + 1
    counter = eoi + 1  # codes seen since clear; also the next insert id

    def emit(code: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    def emit_data(code: int) -> bool:
        """Emit a data code, advance the shared counter; True on reset."""
        nonlocal width, counter, table
        emit(code)
        counter += 1
        if counter == (1 << width) and width < 12:
            width += 1
        if counter >= GIF_MAX_CODE:
            emit(clear)
            table = {}
            width = min_code_size + 1
            counter = eoi + 1
            return True
        return False

    # Sequence table keyed by (prefix_code << 8) | next_byte — every LZW
    # sequence is its prefix's code plus one byte, so an int key avoids
    # building a bytes object per pixel; single-byte sequences are the
    # identity codes 0..(1<<min_code_size)-1 and stay implicit.
    table: dict[int, int] = {}
    emit(clear)
    cur = -1
    for px in pixels:
        if cur < 0:
            cur = px
            continue
        key = (cur << 8) | px
        nxt = table.get(key)
        if nxt is not None:
            cur = nxt
            continue
        insert_id = counter  # insert ids stay consecutive from eoi+1
        if not emit_data(cur):
            table[key] = insert_id
        cur = px
    if cur >= 0:
        emit_data(cur)
    emit(eoi)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`_lzw_compress` — standard GIF LZW decode with
    the shared-counter width rule (see the encoder docstring).

    The bit reader is inlined in the code loop (a closure call per code
    dominated the per-payload decode wall on small images) and entries
    collect into a list joined once at return.
    """
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    pos = acc = n_bits = 0
    n_data = len(data)

    out: list[bytes] = []
    base = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]
    table: list[bytes] = list(base)
    width = min_code_size + 1
    mask = (1 << width) - 1
    counter = eoi + 1
    prev: bytes | None = None
    append = out.append
    while True:
        while n_bits < width:
            if pos >= n_data:
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & mask
        acc >>= width
        n_bits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            mask = (1 << width) - 1
            counter = eoi + 1
            prev = None
            continue
        if code == eoi:
            return b"".join(out)
        n = len(table)
        if code < n:
            entry = table[code]
            if prev is not None and n < GIF_MAX_CODE:
                table.append(prev + entry[:1])
        elif code == n and prev is not None:  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW code {code}")
        append(entry)
        prev = entry
        counter += 1
        if counter == (1 << width) and width < 12:
            width += 1
            mask = (1 << width) - 1


def encode_gif(width: int, height: int, pixels: bytes) -> bytes:
    """Emit a real GIF87a payload for 2-bit palette ``pixels`` (LZW)."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if pixels and max(pixels) > 3:
        raise ValueError("palette indices must be < 4")
    head = b"GIF87a"
    # logical screen descriptor: 4-entry global color table (2^(1+1))
    lsd = (
        width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + bytes([0x80 | 0x10 | 0x01, 0, 0])
    )
    palette = b"".join(
        bytes([k * 85, 255 - k * 85, (k * 40) % 256]) for k in range(4)
    )
    img_desc = (
        b"\x2c\x00\x00\x00\x00"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + b"\x00"
    )
    lzw = _lzw_compress(pixels, 2)
    blocks = bytearray([2])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"  # block terminator
    return head + lsd + palette + img_desc + bytes(blocks) + b"\x3b"


def decode_gif(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a GIF87a/89a payload: (width, height, palette indices).

    A real parser: logical screen descriptor, global color table skip,
    extension-block skip (0x21), image descriptor with optional local
    color table, sub-block reassembly, LZW decompression.
    """
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    flags = payload[10]
    pos = 13
    if flags & 0x80:  # global color table present
        pos += 3 * (2 << (flags & 0x07))
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            width = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            height = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            local_flags = payload[pos + 9]
            pos += 10
            if local_flags & 0x80:
                pos += 3 * (2 << (local_flags & 0x07))
            min_code_size = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos]:
                n = payload[pos]
                data += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pixels = _lzw_decompress(bytes(data), min_code_size)
            if len(pixels) != width * height:
                raise ValueError("LZW pixel count does not match dimensions")
            return width, height, pixels
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
    raise ValueError("no image descriptor in GIF payload")


# byte -> ASCII digit for palette indices 0..9 (guarded by max(pixels)
# before use; higher slots are never read on the translate path).
_ASCII_DIGIT_TABLE = bytes((0x30 + i) if i < 10 else 0 for i in range(256))


def gif_decoder(payload: bytes, mime_type: str = "") -> dict:
    """Real :data:`Decoder` for LZW-compressed GIF payloads.

    content_sha digests the DECODED palette indices (md5 of their ASCII
    digits), not the compressed bytes: an oracle that knows the pixel
    generation rule can recompute it WITHOUT an LZW implementation, so
    the value gate proves the decompression actually ran and produced
    the right pixels — a payload-byte digest would only prove byte
    plumbing.
    """
    width, height, pixels = decode_gif(payload)
    # Digest bytes are the ASCII-decimal rendering of each index. For
    # single-digit indices (any palette of <= 10 colors) that is a 1:1
    # byte map — C-speed translate instead of a per-pixel str() join.
    if not pixels or max(pixels) <= 9:
        digits = pixels.translate(_ASCII_DIGIT_TABLE)
    else:
        digits = "".join(str(p) for p in pixels).encode()
    return {
        "width": width,
        "height": height,
        "n_channels": 3,
        "content_sha": hashlib.md5(digits).hexdigest(),
    }


# Deterministic GIF fixture arithmetic (gif_media_table): dimensions and
# every palette index derive from doc_id, so a SQL oracle recomputes the
# expected decode output — including the pixel digest — independently.
GIF_W_BASE, GIF_W_MOD = 4, 13
GIF_H_BASE, GIF_H_MOD = 3, 11
GIF_N_COLORS = 4  # pixel i of doc d = (d + i) % 4


# Every GIF fixture parameter is doc_id arithmetic mod 4/13/11, so the
# payload is a pure function of doc_id mod lcm(4, 13, 11) = 572: the
# encoder runs AT MOST 572 times per worker process (guide §4's
# init-once rule — a lookup table built lazily per task), while the
# DECODE the value gate measures still runs once per media row.
_GIF_FIXTURE_PERIOD = 572  # lcm(GIF_N_COLORS, GIF_W_MOD, GIF_H_MOD)


@lru_cache(maxsize=None)
def _gif_fixture_payload(dmod: int) -> bytes:
    w = GIF_W_BASE + dmod % GIF_W_MOD
    h = GIF_H_BASE + dmod % GIF_H_MOD
    px = ((dmod + np.arange(w * h)) % GIF_N_COLORS).astype(np.uint8).tobytes()
    return encode_gif(w, h, px)


def gif_media_table(documents: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL LZW-compressed GIF87a images.

    Payload assembly runs in Arrow-batched ``mapInPandas`` (LZW
    compression is inherently sequential per image — a fixture encoder,
    like production ingest, is Python-side; DECODE is what the gate
    measures). Dimensions and pixels are pure doc_id arithmetic with
    period :data:`_GIF_FIXTURE_PERIOD`, so payload synthesis is a
    per-worker memo over that period.
    """
    src = _spread(documents.select("doc_id", "source"))

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                payloads.append(
                    _gif_fixture_payload(int(d) % _GIF_FIXTURE_PERIOD)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "mime_type": ["image/gif"] * len(payloads),
                    "n_bytes": [len(p) for p in payloads],
                    "source": pdf["source"].values,
                }
            )

    return src.mapInPandas(encode_batches, schema=MEDIA_SCHEMA)


# --- PNG (DEFLATE-compressed, filtered scanlines) codec -----------------------
# The second compressed format the container can decode with ZERO new
# dependencies: DEFLATE via stdlib zlib, plus a real implementation of
# the PNG scanline filter reconstruction (all five filter types,
# including Paeth). Parallels the GIF/LZW codec above; reference
# pipelines (repype stages are format-agnostic byte processors —
# reference stage.py:1) would delegate this to Pillow, injected via
# set_decoder in production.

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Dimension cap validated before the IDAT inflate: bounds the maximum
# decompressed allocation at PNG_MAX_DIM*(PNG_MAX_DIM+1) bytes (~64 MB)
# even for an adversarial DEFLATE stream (r10 advisory).
PNG_MAX_DIM = 8192


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + zlib.crc32(ctype + data).to_bytes(4, "big")
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (left a, up b, up-left c)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanline(ftype: int, raw: bytes, prior: bytes) -> bytes:
    """Forward-apply PNG filter ``ftype`` to one 8-bit-palette row
    (bytes-per-pixel 1, so the 'left' sample is simply the previous
    byte)."""
    if ftype == 0:  # None
        return bytes(raw)
    if ftype == 1:  # Sub
        return bytes(
            (raw[x] - (raw[x - 1] if x else 0)) & 0xFF for x in range(len(raw))
        )
    if ftype == 2:  # Up
        return bytes((raw[x] - prior[x]) & 0xFF for x in range(len(raw)))
    if ftype == 3:  # Average
        return bytes(
            (raw[x] - (((raw[x - 1] if x else 0) + prior[x]) >> 1)) & 0xFF
            for x in range(len(raw))
        )
    if ftype == 4:  # Paeth
        return bytes(
            (
                raw[x]
                - _paeth(
                    raw[x - 1] if x else 0, prior[x], prior[x - 1] if x else 0
                )
            )
            & 0xFF
            for x in range(len(raw))
        )
    raise ValueError(f"bad PNG filter type {ftype}")


def _unfilter_scanline(ftype: int, filt: bytes, prior: bytes) -> bytes:
    """Invert :func:`_filter_scanline` — the reconstruction half a PNG
    reader must implement (sequential per row: each output byte feeds
    the next prediction). The filter-type branch is hoisted out of the
    per-byte loop (it is constant per row) and the Paeth predictor is
    inlined — the branchy per-byte form dominated the per-payload
    decode wall."""
    if ftype == 0:  # None
        return bytes(filt)
    if ftype == 2:  # Up
        return bytes((f + p) & 0xFF for f, p in zip(filt, prior))
    out = bytearray(len(filt))
    left = 0
    if ftype == 1:  # Sub
        for x, f in enumerate(filt):
            left = (f + left) & 0xFF
            out[x] = left
    elif ftype == 3:  # Average
        for x, f in enumerate(filt):
            left = (f + ((left + prior[x]) >> 1)) & 0xFF
            out[x] = left
    elif ftype == 4:  # Paeth
        pl = 0  # prior[x-1] (0 at x=0)
        for x, f in enumerate(filt):
            p = prior[x]
            pa = p - pl if p >= pl else pl - p        # |left + p - pl - left|
            pb = left - pl if left >= pl else pl - left
            pc_v = left + p - 2 * pl
            pc = pc_v if pc_v >= 0 else -pc_v
            if pa <= pb and pa <= pc:
                pred = left
            elif pb <= pc:
                pred = p
            else:
                pred = pl
            left = (f + pred) & 0xFF
            out[x] = left
            pl = p
    else:
        raise ValueError(f"bad PNG filter type {ftype}")
    return bytes(out)


def encode_png(
    width: int, height: int, pixels: bytes, filter_of_row: Callable[[int], int]
) -> bytes:
    """Emit a real paletted PNG (color type 3, bit depth 8): IHDR, a
    :data:`PNG_N_COLORS`-entry PLTE, one zlib-DEFLATE IDAT whose rows
    are forward-filtered with ``filter_of_row(row)`` (0..4), IEND —
    each chunk CRC32-stamped."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if pixels and max(pixels) >= PNG_N_COLORS:
        raise ValueError(f"palette indices must be < {PNG_N_COLORS}")
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 3, 0, 0, 0])  # depth 8, palette, deflate, adaptive, no interlace
    )
    plte = b"".join(
        bytes([(k * 51) % 256, (255 - k * 37) % 256, (k * 93) % 256])
        for k in range(PNG_N_COLORS)
    )
    raw = bytearray()
    prior = bytes(width)
    for r in range(height):
        row = pixels[r * width : (r + 1) * width]
        ftype = filter_of_row(r)
        raw.append(ftype)
        raw += _filter_scanline(ftype, row, prior)
        prior = row
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a paletted 8-bit PNG: (width, height, palette indices).

    A real reader: signature check, chunk walk with CRC32 verification,
    IHDR field validation, multi-IDAT reassembly, zlib inflate, and
    per-row filter reconstruction (types 0-4 including Paeth)."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = -1
    idat = bytearray()
    while pos + 8 <= len(payload):
        n = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + n]
        crc = int.from_bytes(payload[pos + 8 + n : pos + 12 + n], "big")
        if zlib.crc32(ctype + data) != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            depth, color = data[8], data[9]
            if (depth, color) != (8, 3):
                raise ValueError("only 8-bit paletted PNG supported")
            # Decompression-bomb defense (r10 advisory): validate the
            # declared dimensions BEFORE inflating so an untrusted
            # payload routed through set_decoder cannot force a huge
            # allocation; the inflate below is then bounded by them.
            if not (0 < width <= PNG_MAX_DIM and 0 < height <= PNG_MAX_DIM):
                raise ValueError(
                    f"PNG dimensions {width}x{height} exceed cap {PNG_MAX_DIM}"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + n
    if width < 0 or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    # Bounded inflate: ask for exactly the expected scanline payload +1
    # sentinel byte; a stream that would expand past it is rejected
    # without ever allocating the excess.
    expect = height * (width + 1)
    dec = zlib.decompressobj()
    raw = dec.decompress(bytes(idat), expect + 1)
    if len(raw) != expect or dec.unconsumed_tail or dec.decompress(b"", 1):
        raise ValueError("PNG scanline payload size mismatch")
    pixels = bytearray()
    prior = bytes(width)
    for r in range(height):
        row = raw[r * (width + 1) : (r + 1) * (width + 1)]
        rec = _unfilter_scanline(row[0], row[1:], prior)
        pixels += rec
        prior = rec
    return width, height, bytes(pixels)


def png_decoder(payload: bytes, mime_type: str = "") -> dict:
    """Real :data:`Decoder` for DEFLATE-compressed paletted PNGs.

    As with :func:`gif_decoder`, content_sha digests the RECONSTRUCTED
    palette indices (md5 of their ASCII digits): the oracle recomputes
    it from the doc_id pixel rule with no zlib and no filter code, so a
    value match proves inflate + filter reconstruction (Sub/Up/Average/
    Paeth state threading across rows) actually ran."""
    width, height, pixels = decode_png(payload)
    # Same 1:1 ASCII-digit fast path as gif_decoder for <=10-color
    # palettes; multi-digit indices fall back to the generic join.
    if not pixels or max(pixels) <= 9:
        digits = pixels.translate(_ASCII_DIGIT_TABLE)
    else:
        digits = "".join(str(p) for p in pixels).encode()
    return {
        "width": width,
        "height": height,
        "n_channels": 3,
        "content_sha": hashlib.md5(digits).hexdigest(),
    }


# Deterministic PNG fixture arithmetic (png_media_table): dimensions,
# every palette index, and each row's filter type derive from doc_id, so
# a SQL oracle recomputes the expected decode output while the filters
# still exercise all five reconstruction paths.
PNG_W_BASE, PNG_W_MOD = 5, 12
PNG_H_BASE, PNG_H_MOD = 4, 9
PNG_N_COLORS = 5  # pixel i of doc d = (7*d + 3*i) % 5
PNG_FILTER_MOD = 5  # row r of doc d filtered with type (d + r) % 5


# As with the GIF fixture: width (mod 12), height (mod 9), pixels and
# filters (both mod 5) make the payload a pure function of doc_id mod
# lcm(12, 9, 5) = 180 — encode memoized per worker, decode per row.
_PNG_FIXTURE_PERIOD = 180  # lcm(PNG_W_MOD, PNG_H_MOD, PNG_N_COLORS)


@lru_cache(maxsize=None)
def _png_fixture_payload(dmod: int) -> bytes:
    w = PNG_W_BASE + dmod % PNG_W_MOD
    h = PNG_H_BASE + dmod % PNG_H_MOD
    px = (
        ((7 * dmod + 3 * np.arange(w * h)) % PNG_N_COLORS)
        .astype(np.uint8)
        .tobytes()
    )
    return encode_png(w, h, px, lambda r: (dmod + r) % PNG_FILTER_MOD)


def png_media_table(documents: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL zlib-compressed paletted PNGs
    with per-row adaptive filters. Encoding runs in Arrow-batched
    ``mapInPandas`` (like production ingest) memoized over the
    fixture's :data:`_PNG_FIXTURE_PERIOD`; DECODE is what the value
    gate measures."""
    src = _spread(documents.select("doc_id", "source"))

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                payloads.append(
                    _png_fixture_payload(int(d) % _PNG_FIXTURE_PERIOD)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "mime_type": ["image/png"] * len(payloads),
                    "n_bytes": [len(p) for p in payloads],
                    "source": pdf["source"].values,
                }
            )

    return src.mapInPandas(encode_batches, schema=MEDIA_SCHEMA)


def decode_bmp(payload: bytes) -> tuple[int, int, int]:
    """Parse an uncompressed BMP header: (width, height, bits per pixel).

    Reads the BITMAPINFOHEADER fields at their fixed little-endian
    offsets (width @18, height @22, bpp @28). Height may be negative
    (top-down rows); the magnitude is returned.
    """
    if payload[:2] != b"BM" or len(payload) < 30:
        raise ValueError("not a BMP payload")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = abs(int.from_bytes(payload[22:26], "little", signed=True))
    bpp = int.from_bytes(payload[28:30], "little")
    return width, height, bpp


def bmp_decoder(payload: bytes, mime_type: str = "") -> dict:
    """Real :data:`Decoder` for uncompressed BMP payloads."""
    width, height, bpp = decode_bmp(payload)
    return {
        "width": width,
        "height": height,
        "n_channels": max(1, bpp // 8),
        "content_sha": hashlib.md5(payload).hexdigest(),
    }


def decode_wav(payload: bytes) -> dict:
    """Parse a RIFF/WAVE header: channels, sample rate, bit depth, and
    the data-chunk byte length (duration = data_bytes / byte_rate).

    Walks the chunk list properly (fmt may be followed by LIST/fact
    chunks before data; chunks are word-aligned) instead of assuming
    the canonical 44-byte layout.
    """
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            _tag, channels, rate, byte_rate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            fmt = (channels, rate, byte_rate, bits)
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_len is None:
        raise ValueError("truncated WAVE: missing fmt or data chunk")
    channels, rate, byte_rate, bits = fmt
    return {
        "n_channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "data_bytes": data_len,
        "duration_s": data_len / byte_rate if byte_rate else 0.0,
    }


def wav_decoder(payload: bytes, mime_type: str = "") -> dict:
    """Real :data:`Decoder` for WAV payloads — audio mapped onto the
    decode contract (width = samples per channel, height = 1)."""
    meta = decode_wav(payload)
    frame_bytes = meta["n_channels"] * max(1, meta["bits_per_sample"] // 8)
    return {
        "width": meta["data_bytes"] // frame_bytes if frame_bytes else 0,
        "height": 1,
        "n_channels": meta["n_channels"],
        "content_sha": hashlib.md5(payload).hexdigest(),
    }


def box_resize_ppm(payload: bytes, factor: int = 2) -> bytes:
    """Real box-filter downsample of a P6 PPM by integer ``factor``.

    Each output channel value is the floor-mean of its factor×factor
    source block (trailing rows/cols that do not fill a block are
    dropped — floor output dims, the standard decimation convention).
    Pure integer arithmetic so the result is bit-reproducible by the
    DuckDB oracle's per-byte reconstruction.
    """
    import numpy as np

    width, height, pixels = decode_ppm(payload)
    out_w, out_h = width // factor, height // factor
    if out_w < 1 or out_h < 1:
        raise ValueError(f"image {width}x{height} too small for factor {factor}")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    arr = arr[: out_h * factor, : out_w * factor, :].astype(np.int64)
    blocks = arr.reshape(out_h, factor, out_w, factor, 3)
    resized = (blocks.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)
    return encode_ppm(out_w, out_h, resized.tobytes())


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def resize_media_boxfilter(media: DataFrame, factor: int = 2) -> DataFrame:
    """Arrow-batched REAL resize: decode P6, box-filter by ``factor``,
    re-encode P6. Returns (media_id, payload, width, height, n_bytes)
    where width/height are the OUTPUT dims parsed back from the
    re-encoded payload (round-trip through the codec, not trusted
    arithmetic)."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, ws, hs, ns = [], [], [], [], []
            for media_id, p in zip(pdf["media_id"], pdf["payload"]):
                out = box_resize_ppm(bytes(p), factor)
                w, h, _ = decode_ppm(out)
                ids.append(media_id)
                payloads.append(out)
                ws.append(w)
                hs.append(h)
                ns.append(len(out))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "width": ws,
                    "height": hs,
                    "n_bytes": ns,
                }
            )

    return media.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


# Deterministic dimensions for the in-plan PPM fixture: small and
# coprime-ish moduli so the corpus covers many (w, h) shapes, and both
# engines derive them from doc_id with the same arithmetic.
PPM_W_BASE, PPM_W_MOD = 4, 13
PPM_H_BASE, PPM_H_MOD = 3, 11


def ppm_media_table(documents: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL binary P6 PPM images.

    Pixel bytes are the document's ASCII text cycled to w*h*3 bytes
    (real bytes through a real codec — the derivation is deterministic
    so the DuckDB oracle rebuilds the identical payload with string
    arithmetic). Dimensions derive from doc_id; documents shorter than
    one pixel are dropped. Everything is column expressions — the
    payload is assembled JVM-side and only the decode UDF touches it.

    The pixel-cycling arithmetic counts CHARACTERS (``F.length``) while
    the codec counts BYTES, so the fixture is restricted to docs where
    the two coincide (``octet_length == length`` → all-ASCII); a
    non-ASCII doc would otherwise silently desynchronize the Spark
    payload from the oracle's string rebuild.
    """
    w = F.lit(PPM_W_BASE) + F.col("doc_id") % PPM_W_MOD
    h = F.lit(PPM_H_BASE) + F.col("doc_id") % PPM_H_MOD
    npix = w * h * F.lit(3)
    reps = F.ceil(npix / F.length("text")).cast("int")
    pix_str = F.substring(F.repeat(F.col("text"), reps), F.lit(1), npix)
    payload_str = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"), pix_str,
    )
    payload = F.encode(payload_str, "utf-8")
    return _spread(documents).filter(
        (F.length("text") >= 1)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime_type"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.col("source"),
    )


# Audio fixture arithmetic (wav_media_table): every parameter derives
# from doc_id so the DuckDB oracle recomputes expected metadata without
# touching bytes, while the Spark side must round-trip REAL RIFF chunks.
WAV_RATE_BASE = 8000  # rate = base * (1 + doc_id % RATE_MOD)
WAV_RATE_MOD = 3
WAV_DATA_BASE = 40  # data_len = base + doc_id % DATA_MOD (odd sizes occur)
WAV_DATA_MOD = 101
WAV_LIST_EVERY = 4  # every 4th doc gets a LIST chunk between fmt and data


def _le_hex(v, n_bytes: int):
    """Hex string of ``v`` encoded as an ``n_bytes`` little-endian
    unsigned int — column expression, feeds :func:`F.unhex`."""
    parts = [
        F.format_string(
            "%02x", (F.shiftright(v.cast("long"), 8 * i) % 256).cast("int")
        )
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def wav_media_table(documents: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL binary RIFF/WAVE files.

    The header's little-endian integers are assembled JVM-side
    (per-byte hex → ``unhex``), data bytes are the document's ASCII
    text cycled to the target length, and every 4th payload carries an
    odd-sized LIST chunk between fmt and data — so
    :func:`decode_wav`'s chunk walk (ordering, word alignment) is
    exercised by the value gate, not just the canonical 44-byte
    layout. All parameters are doc_id arithmetic, so an oracle can
    recompute the expected metadata independently of the bytes.
    """
    did = F.col("doc_id")
    channels = F.lit(1) + did % 2
    rate = F.lit(WAV_RATE_BASE) * (F.lit(1) + did % WAV_RATE_MOD)
    bits = F.lit(8) + F.lit(8) * ((did % 5) % 2)
    block = (channels * bits / 8).cast("long")
    byte_rate = rate * block
    data_len = F.lit(WAV_DATA_BASE) + did % WAV_DATA_MOD
    reps = F.ceil(data_len / F.length("text")).cast("int")
    data_bytes = F.encode(
        F.substring(F.repeat(F.col("text"), reps), F.lit(1), data_len), "utf-8"
    )
    has_list = did % WAV_LIST_EVERY == 0
    empty = F.unhex(F.lit(""))
    list_chunk = F.when(
        has_list,
        F.concat(
            F.encode(F.lit("LIST"), "utf-8"),
            F.unhex(_le_hex(F.lit(3), 4)),
            F.encode(F.lit("abc"), "utf-8"),
            F.unhex(F.lit("00")),  # word-alignment pad for the odd size
        ),
    ).otherwise(empty)
    data_pad = F.when(data_len % 2 == 1, F.unhex(F.lit("00"))).otherwise(empty)
    # RIFF size = bytes after the 8-byte RIFF header: 'WAVE' + fmt chunk
    # + optional LIST (8 + 3 + 1) + data chunk incl. its pad.
    riff_size = (
        F.lit(4 + 8 + 16)
        + F.when(has_list, F.lit(12)).otherwise(F.lit(0))
        + F.lit(8)
        + data_len
        + (data_len % 2)
    )
    fmt_body = F.concat(
        _le_hex(F.lit(1), 2),  # PCM tag
        _le_hex(channels, 2),
        _le_hex(rate, 4),
        _le_hex(byte_rate, 4),
        _le_hex(block, 2),
        _le_hex(bits, 2),
    )
    payload = F.concat(
        F.encode(F.lit("RIFF"), "utf-8"),
        F.unhex(_le_hex(riff_size, 4)),
        F.encode(F.lit("WAVE"), "utf-8"),
        F.encode(F.lit("fmt "), "utf-8"),
        F.unhex(_le_hex(F.lit(16), 4)),
        F.unhex(fmt_body),
        list_chunk,
        F.encode(F.lit("data"), "utf-8"),
        F.unhex(_le_hex(data_len, 4)),
        data_bytes,
        data_pad,
    )
    return _spread(documents).filter(
        (F.length("text") >= 1)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("audio/wav").alias("mime_type"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.col("source"),
    )


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("data_bytes", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def decode_audio(media: DataFrame) -> DataFrame:
    """Audio-metadata decode via Arrow-batched mapInPandas: runs the
    real RIFF/WAVE chunk walker (:func:`decode_wav`) per payload.
    Payload bytes stream through executors; nothing gathers on the
    driver. n_frames = samples per channel (data / block align)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_wav(bytes(p)) for p in pdf["payload"]]
            frame_bytes = [
                m["n_channels"] * max(1, m["bits_per_sample"] // 8) for m in metas
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_channels": [m["n_channels"] for m in metas],
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "bits_per_sample": [m["bits_per_sample"] for m in metas],
                    "data_bytes": [m["data_bytes"] for m in metas],
                    "n_frames": [
                        m["data_bytes"] // fb if fb else 0
                        for m, fb in zip(metas, frame_bytes)
                    ],
                }
            )

    # NOT _materialize_stats-wrapped (r11): the only consumer
    # (mm_audio_meta) aggregates to a 12-group key immediately, reading
    # the decode once, so an extra exchange here is pure cost (measured
    # +0.2s solo at sf0.1).
    return media.mapInPandas(decode_batches, schema=AUDIO_META_SCHEMA)


def decode_media(media: DataFrame, decoder: Optional[Decoder] = None) -> DataFrame:
    """Decode payloads to typed metadata via Arrow-batched mapInPandas.

    ``decoder`` overrides the process-wide registration for this plan;
    otherwise the currently registered decoder (or the deterministic
    stub) is captured.
    """
    decode = decoder if decoder is not None else get_decoder()

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode(bytes(p), m)
                for p, m in zip(pdf["payload"], pdf["mime_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "mime_type": pdf["mime_type"].values,
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "n_channels": [d["n_channels"] for d in decoded],
                    "content_sha": [d["content_sha"] for d in decoded],
                }
            )

    return _materialize_stats(
        media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)
    )


def default_feature_extractor(payload: bytes, dim: int = FEATURE_DIM) -> list:
    """Default STUB extractor: normalized payload-byte histogram folded to ``dim``.

    The real version runs an embedding model; the contract (one float
    vector per row) is identical.
    """
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype("float64")
    total = hist.sum() or 1.0
    return (hist / total).tolist()


def extract_features(
    media: DataFrame,
    dim: int = FEATURE_DIM,
    extractor: Optional[FeatureExtractor] = None,
) -> DataFrame:
    """Fixed-dim feature vector per payload via Arrow-batched mapInPandas.

    ``extractor`` (or a :func:`set_feature_extractor` registration)
    replaces the stub; it must emit ``dim``-length float vectors.
    """
    extract = extractor if extractor is not None else get_feature_extractor()
    if extract is None:
        def extract(payload: bytes) -> list:
            return default_feature_extractor(payload, dim)

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [list(extract(bytes(p))) for p in pdf["payload"]]
            yield pd.DataFrame({"media_id": pdf["media_id"].values, "features": feats})

    return _materialize_stats(
        media.mapInPandas(feature_batches, schema=FEATURE_SCHEMA)
    )


def resize_media(media: DataFrame, max_bytes: int = 64) -> DataFrame:
    """'Resize' payloads (stub: truncate bytes; real impl re-encodes).

    Returns the full media schema so resize composes with decode /
    feature stages.
    """

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [bytes(p)[:max_bytes] for p in pdf["payload"]]
            out["n_bytes"] = [min(len(bytes(p)), max_bytes) for p in pdf["payload"]]
            yield out

    return media.mapInPandas(resize_batches, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4, frame_bytes: int = 32) -> DataFrame:
    """Sample N evenly-spaced 'frames' per payload (stub: byte slices).

    Explodes one media row into ``n_frames`` frame rows — the shape a
    video frame-sampler produces. Row-explosion inside mapInPandas keeps
    the fan-out distributed (no driver involvement).
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for media_id, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                if not raw:
                    continue
                step = max(1, len(raw) // n_frames)
                for i in range(min(n_frames, len(raw))):
                    ids.append(media_id)
                    idxs.append(i)
                    payloads.append(raw[i * step : i * step + frame_bytes])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": payloads}
            )

    return media.mapInPandas(frame_batches, schema=FRAME_SCHEMA)


# --- Perceptual hash (dHash) --------------------------------------------------

PHASH_GRID_W = 9  # sample columns (8 horizontal gradients per row)
PHASH_GRID_H = 8  # sample rows -> 64-bit hash as 16 hex chars

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash", StringType()),
    ]
)


_HEX_BYTE = ["%02x" % i for i in range(256)]


@lru_cache(maxsize=None)
def _dhash_grid(w: int, h: int) -> tuple:
    """Byte offsets of the 9×8 nearest-neighbor grid samples for a w×h
    image — a pure function of the dimensions, memoized per worker
    (recomputing sx/sy per call dominated the per-image hash wall;
    a numpy gather measured WORSE at these 72-sample sizes)."""
    return tuple(
        3 * (((y * h) // PHASH_GRID_H) * w + ((x * w) // PHASH_GRID_W))
        for y in range(PHASH_GRID_H)
        for x in range(PHASH_GRID_W)
    )


def dhash_ppm(payload: bytes) -> tuple:
    """Difference-hash of a P6 PPM payload — pure integer arithmetic.

    Nearest-neighbor sample onto a 9×8 grid (sx = x·w // 9,
    sy = y·h // 8), integer grayscale (r+g+b) // 3, one bit per
    horizontal gradient (left < right), emitted as 16 hex chars —
    every step is exact integer math so an oracle can recompute the
    hash from the fixture's byte-derivation arithmetic.
    """
    w, h, px = decode_ppm(payload)
    ks = _dhash_grid(w, h)
    gray = [(px[k] + px[k + 1] + px[k + 2]) // 3 for k in ks]
    out = []
    for y in range(PHASH_GRID_H):
        b = y * PHASH_GRID_W
        byte = 0
        g0 = gray[b]
        for x in range(PHASH_GRID_W - 1):
            g1 = gray[b + x + 1]
            if g0 < g1:
                byte |= 1 << (7 - x)
            g0 = g1
        out.append(_HEX_BYTE[byte])
    return w, h, "".join(out)


def phash_media(media: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing: decode REAL P6 bytes, dHash.

    The image-level near-dup primitive: identical-content images hash
    equal regardless of byte-level differences upstream of the decode
    (comments, header whitespace), and small edits flip few bits. At
    100 TB the payloads stream through ``mapInPandas`` Arrow batches —
    hashes (16 bytes/image) are all that shuffles afterwards.
    """

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, hashes = [], [], [], []
            for media_id, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, ph = dhash_ppm(bytes(p))
                ids.append(media_id)
                ws.append(w)
                hs.append(h)
                hashes.append(ph)
            yield pd.DataFrame(
                {"media_id": ids, "width": ws, "height": hs, "phash": hashes}
            )

    return _materialize_stats(
        media.mapInPandas(phash_batches, schema=PHASH_SCHEMA)
    )


# --- PCM signal statistics (r8) -----------------------------------------------

SILENCE_ABS_8 = 16     # |amplitude| at or below → silent (8-bit PCM)
SILENCE_ABS_16 = 4096  # same threshold scaled to 16-bit amplitude

PCM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak_abs", LongType()),
        StructField("n_silent", LongType()),
    ]
)


def wav_pcm_stats(payload: bytes) -> dict:
    """Walk the RIFF chunks, pull the PCM data chunk, and compute exact
    integer signal statistics: 8-bit samples are unsigned around 128,
    16-bit are signed little-endian; silence is |amp| ≤ the
    per-depth threshold. All-integer, so both engines agree exactly."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, bits, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            bits = struct.unpack("<HHIIHH", body[:16])[5]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if bits is None or data is None:
        raise ValueError("truncated WAVE: missing fmt or data chunk")
    if bits == 8:
        amp = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
        silence_t = SILENCE_ABS_8
    else:
        n = len(data) // 2
        amp = np.frombuffer(data[: n * 2], dtype="<i2").astype(np.int64)
        silence_t = SILENCE_ABS_16
    a = np.abs(amp)
    return {
        "bits_per_sample": int(bits),
        "n_samples": int(amp.size),
        "sum_abs": int(a.sum()),
        "sum_sq": int((amp * amp).sum()),
        "peak_abs": int(a.max()) if amp.size else 0,
        "n_silent": int((a <= silence_t).sum()),
    }


def audio_energy(media: DataFrame) -> DataFrame:
    """Arrow-batched PCM signal statistics: the real chunk walk +
    numpy-vectorized amplitude math per payload. Only the 7-column
    stats rows shuffle afterwards — payload bytes never leave the
    executor that scanned them."""

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [wav_pcm_stats(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return _materialize_stats(
        media.mapInPandas(energy_batches, schema=PCM_STATS_SCHEMA)
    )


# --- Frame luminance (scene-cut input) ----------------------------------------

FRAME_LUMA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_len", IntegerType()),
        StructField("luma_sum", LongType()),
    ]
)


def frame_lumas(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 32
) -> DataFrame:
    """Per-frame luminance proxy: the same evenly-spaced frame slicing
    as :func:`sample_frames`, emitting each frame's byte-sum (exact
    integer 'brightness') instead of the payload — the reduction a real
    scene-cut detector computes per decoded frame. One Arrow pass,
    row-explosion stays distributed."""

    def luma_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for media_id, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                if not raw:
                    continue
                step = max(1, len(raw) // n_frames)
                for i in range(min(n_frames, len(raw))):
                    frame = raw[i * step : i * step + frame_bytes]
                    ids.append(media_id)
                    idxs.append(i)
                    lens.append(len(frame))
                    sums.append(sum(frame))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "frame_len": lens,
                    "luma_sum": sums,
                }
            )

    # NOT _materialize_stats-wrapped (r11): the only consumer
    # (mm_scene_cut) runs a per-media window over the luma rows, which
    # reads the decode once; an extra exchange here measured +0.1s solo
    # at sf0.1.
    return media.mapInPandas(luma_batches, schema=FRAME_LUMA_SCHEMA)


# --- Voice-activity segmentation (silence-run analysis) ------------------------

VAD_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_segments", LongType()),
        StructField("longest_silence", LongType()),
        StructField("n_voiced", LongType()),
    ]
)


def wav_vad_stats(payload: bytes) -> dict:
    """Run-length voice-activity profile of a RIFF/WAVE payload: voiced
    segments are maximal runs of |amp| > the per-depth silence
    threshold; the longest silence run and total voiced-sample count
    complete the clip-segmentation readout. Same chunk walk and
    amplitude decode as :func:`wav_pcm_stats`; the run-length pass is
    one vectorized np.diff over the silence mask."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, bits, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            bits = struct.unpack("<HHIIHH", body[:16])[5]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if bits is None or data is None:
        raise ValueError("truncated WAVE: missing fmt or data chunk")
    if bits == 8:
        amp = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
        silence_t = SILENCE_ABS_8
    else:
        n = len(data) // 2
        amp = np.frombuffer(data[: n * 2], dtype="<i2").astype(np.int64)
        silence_t = SILENCE_ABS_16
    voiced = np.abs(amp) > silence_t
    if amp.size == 0:
        n_seg = longest_sil = n_voiced = 0
    else:
        # Run boundaries: positions where the mask flips.
        flips = np.flatnonzero(np.diff(voiced.astype(np.int8)))
        starts = np.concatenate(([0], flips + 1))
        ends = np.concatenate((flips + 1, [voiced.size]))
        lens = ends - starts
        kinds = voiced[starts]
        n_seg = int(kinds.sum())
        sil_lens = lens[~kinds]
        longest_sil = int(sil_lens.max()) if sil_lens.size else 0
        n_voiced = int(voiced.sum())
    return {
        "bits_per_sample": int(bits),
        "n_samples": int(amp.size),
        "n_segments": n_seg,
        "longest_silence": longest_sil,
        "n_voiced": n_voiced,
    }


def audio_vad(media: DataFrame) -> DataFrame:
    """Arrow-batched voice-activity segmentation: payload bytes stay on
    the scanning executor; only 6-column profile rows shuffle."""

    def vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [wav_vad_stats(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return _materialize_stats(
        media.mapInPandas(vad_batches, schema=VAD_SCHEMA)
    )
