"""Multimodal column plumbing (SURVEY §2.10 L6).

Images/audio/video are opaque ``binary`` columns + typed metadata structs.
The Spark-side machinery here is real and tested — schema, Arrow batching,
``mapInPandas`` signature, partition behaviour. The *decode* step resolves a
two-tier backend chain per payload:

1. the built-in pure-Python PPM/PGM/BMP codecs (``functions/codecs.py``),
   so real image bytes in those formats always take a real decode path;
2. a deterministic md5-derived fake for payloads the codecs do not
   recognize (e.g. the synthetic text-derived corpus), keeping the
   pipeline reproducible on non-image data.

The real path is covered by never-skipping tests on in-process-generated
PPM/PGM/BMP bytes, and hash-checked end-to-end by the
``multimodal_decode_real`` query (genuine PGM payloads rendered in-pipeline).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Pure-Python codecs (PPM/PGM/BMP): the only real decode backend, so a
# payload decodes the same in every runtime.
from ..functions import codecs as _codecs

# Output schema of the decode stage: original id + typed image metadata.
DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("byte_len", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
])

def _nz(payload) -> bytes:
    """NULL payload -> b'' so every stage takes the deterministic fallback
    tier instead of crashing the job on one null row (r8 review: NULL text
    makes with_binary_payload emit a NULL payload; _decode_one(None) was a
    TypeError)."""
    return payload if payload is not None else b""


def _quant6(x: float) -> float:
    """6-decimal quantization via floor(x*1e6 + 0.5)/1e6.

    Deliberately NOT round(x, 6): Python's round applies exact-decimal
    half-even semantics to the double while SQL engines typically round the
    scaled double half-away — the two disagree on true ties (hit in
    practice: a luma of exactly .3734375). floor over identical double ops
    is bit-identical in any engine, so oracles can mirror it verbatim.
    """
    return math.floor(x * 1e6 + 0.5) / 1e6


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic md5-derived (width, height, mean_luma) stand-in."""
    d = hashlib.md5(payload).digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    mean_luma = _quant6(int.from_bytes(d[2:4], "big") / 65535.0)
    return width, height, mean_luma


def _decode_one(payload: bytes) -> tuple[int, int, float]:
    """(width, height, mean_luma) for one blob.

    Backend order: built-in pure-Python PPM/PGM/BMP codecs → deterministic
    md5 fake (payloads the codecs do not recognize, e.g. synthetic text
    corpora).
    """
    try:
        rgb = _codecs.decode_rgb(payload)
    except ValueError:  # recognized format but broken/unsupported variant
        rgb = None
    if rgb is not None:
        h, w = rgb.shape[:2]
        mean = float(_codecs.to_gray(rgb).mean()) / 255.0
        return w, h, _quant6(mean)
    return _fake_decode(payload)


def decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batches in, metadata batches out.

    Runs once per Arrow batch per partition — the shape a real decoder needs
    (amortized library init, vectorized output assembly, bounded memory).
    """
    for pdf in batches:
        meta = [_decode_one(_nz(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "byte_len": pdf["payload"].map(lambda p: len(_nz(p))).astype("int64"),
                "width": [m[0] for m in meta],
                "height": [m[1] for m in meta],
                "mean_luma": [m[2] for m in meta],
            }
        )


RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("thumb", T.BinaryType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_offset", T.LongType()),
    T.StructField("frame_bytes", T.BinaryType()),
])


def resize_images(
    docs_with_payload: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Resize stage: binary in → (dims, thumbnail bytes) out, Arrow-batched.

    Grayscale thumbnail bytes via the built-in PPM/PGM/BMP codecs +
    nearest-neighbour resample; deterministic fake (md5-keyed byte
    synthesis of target_w*target_h bytes) only for payloads the codecs do
    not decode. Narrow transformation — no shuffle; output rows are
    *smaller* than input (the point of resizing early in a 100 TB media
    pipeline: shrink before any wide op touches the data).
    """

    def resize_one(p: bytes, size: int) -> bytes:
        try:
            rgb = _codecs.decode_rgb(p)
        except ValueError:
            rgb = None
        if rgb is not None:
            gray = _codecs.to_gray(rgb)
            return _codecs.resize_nearest(gray, target_w, target_h).tobytes()
        seed = hashlib.md5(p).digest()
        reps = size // len(seed) + 1
        return (seed * reps)[:size]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        size = target_w * target_h
        for pdf in it:
            thumbs = [resize_one(bytes(_nz(p)), size) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": target_w,
                    "height": target_h,
                    "thumb": thumbs,
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        batches, schema=RESIZE_SCHEMA
    )


def sample_frames(docs_with_payload: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage: one binary "video" → ``n_frames`` frame rows.

    Evenly-spaced offsets over the payload (a real decoder seeks keyframes).
    1→N fan-out happens inside the Arrow batch — still a narrow op, so a
    100 TB video corpus samples frames with zero shuffle; downstream ops see
    a frames table keyed by (doc_id, frame_idx).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_offset": [], "frame_bytes": []
            }
            for did, p in zip(pdf["doc_id"], pdf["payload"].map(_nz)):
                # Real keyframe extraction needs a container/codec demuxer
                # (PyAV/ffmpeg) — not importable here; the evenly-spaced
                # byte-offset fake below keeps the 1→N fan-out, offsets, and
                # schema real so only the seek-and-decode inner call swaps.
                p = bytes(p)
                step = max(1, len(p) // n_frames)
                for i in range(n_frames):
                    off = min(i * step, max(0, len(p) - 1))
                    rows["doc_id"].append(int(did))
                    rows["frame_idx"].append(i)
                    rows["frame_offset"].append(off)
                    rows["frame_bytes"].append(p[off : off + 16])
            yield pd.DataFrame(rows)

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        batches, schema=FRAME_SCHEMA
    )


def with_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary column (stand-in for image/audio bytes)."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def with_pgm_payload(
    docs: DataFrame, text_col: str = "text", width: int = 16
) -> DataFrame:
    """Render each doc's bytes as a REAL PGM image payload.

    Gray pixel rows = the text's bytes, space-padded to a ``width``-wide
    raster — so the payloads are genuine decodable images (exercising the
    real codec path end-to-end, not the md5 fallback) while every decoded
    property (dims, byte length, mean luma) stays pure arithmetic over the
    text, i.e. oracle-checkable in SQL. Arrow-batched scalar UDF; narrow.
    """
    @F.pandas_udf(T.BinaryType())
    def render(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            b = ("" if t is None else t).encode("utf-8")
            h = max(1, -(-len(b) // width))
            b = b.ljust(width * h, b" ")
            arr = np.frombuffer(b, dtype=np.uint8).reshape(h, width)
            out.append(_codecs.encode_pgm(arr))
        return pd.Series(out)

    return docs.withColumn("payload", render(F.col(text_col)))


def extract_image_metadata(docs_with_payload: DataFrame) -> DataFrame:
    """The decode pipeline: binary column → typed metadata via Arrow batches.

    Partitioning note for 100 TB: mapInPandas is a narrow transformation — no
    shuffle; each scan task decodes its own files. Memory is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch (blobs are large: lower it
    for real media).
    """
    return (
        docs_with_payload.select("doc_id", "payload")
        .mapInPandas(decode_image_batch, schema=DECODE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# audio (L6's second modality): opaque binary column -> typed audio metadata
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("byte_len", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.LongType()),
])


def _fake_audio_meta(payload: bytes) -> tuple[int, int, float, float, int]:
    """Deterministic md5-derived audio metadata for non-audio payloads —
    same policy as _fake_decode: the pipeline stays reproducible on the
    synthetic text corpus without pretending the bytes were decodable."""
    d = hashlib.md5(payload).digest()
    rate = (8000, 16000, 22050, 44100)[d[0] % 4]
    n = 1000 + int.from_bytes(d[1:3], "big") % 64000
    rms = _quant6(int.from_bytes(d[3:5], "big") / 65535.0)
    zc = int.from_bytes(d[5:7], "big") % n
    return rate, n, _quant6(n / rate), rms, zc


def _decode_audio_one(payload: bytes) -> tuple[int, int, float, float, int]:
    """(sample_rate, n_samples, duration_s, rms, zero_crossings).

    Backend: the built-in pure-Python RIFF/WAVE PCM16 codec (always
    present); payloads it doesn't recognize — or recognized WAV variants it
    doesn't support — take the deterministic md5 fake, mirroring the image
    decoder's tier policy. ``rms`` is over [-1, 1)-normalized samples;
    ``zero_crossings`` counts strict sign changes between consecutive
    FRAMES within each channel, summed across channels (zeros break a run,
    they don't count as crossings).
    """
    try:
        decoded = _codecs.decode_wav_pcm16(payload)
    except ValueError:
        decoded = None
    if decoded is None:
        return _fake_audio_meta(payload)
    samples, rate, n_ch = decoded
    n = len(samples) // n_ch
    if n == 0:
        return rate, 0, 0.0, 0.0, 0
    x = samples.astype(np.float64) / 32768.0
    rms = _quant6(float(np.sqrt((x * x).mean())))  # order-independent: no
    # deinterleave needed for rms (same sample set either way)
    # zero_crossings IS order-sensitive: deinterleave to (frames, channels)
    # and count sign changes down each channel, summed — counting across
    # adjacent L/R samples of different channels is physically meaningless
    # (r7 ADVICE).
    frames = samples[: n * n_ch].reshape(n, n_ch)
    sign = np.sign(frames)
    zc = int(np.count_nonzero(sign[:-1, :] * sign[1:, :] < 0))
    return rate, n, _quant6(n / rate), rms, zc


def decode_audio_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for the audio decode stage (narrow, no shuffle)."""
    for pdf in batches:
        meta = [_decode_audio_one(_nz(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "byte_len": pdf["payload"].map(lambda p: len(_nz(p))).astype("int64"),
                "sample_rate": [m[0] for m in meta],
                "n_samples": [m[1] for m in meta],
                "duration_s": [m[2] for m in meta],
                "rms": [m[3] for m in meta],
                "zero_crossings": [m[4] for m in meta],
            }
        )


def extract_audio_metadata(docs_with_payload: DataFrame) -> DataFrame:
    """binary audio column -> typed metadata via Arrow batches (narrow)."""
    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        decode_audio_batch, schema=AUDIO_SCHEMA
    )


def with_wav_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Render a REAL mono PCM16 WAV payload per doc: a ±A square wave whose
    parameters derive from the id, so every decoded property has a CLOSED
    FORM an SQL oracle can recompute — half-period H = 2 + id % 7 samples,
    N = 800 + id % 50 samples at 8 kHz, amplitude A = 1000 + (id * 37) %
    30000. Then byte_len = 44 + 2N, rms = A/32768 exactly (every sample is
    ±A, and a 15-bit dyadic's square round-trips sqrt bit-exactly), and
    zero crossings = floor((N-1)/H) (signs flip exactly at multiples of H).
    Arrow-batched scalar UDF; narrow."""
    @F.pandas_udf(T.BinaryType())
    def render(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            half, n = 2 + i % 7, 800 + i % 50
            amp = 1000 + (i * 37) % 30000
            idx = np.arange(n) // half
            samples = (np.where(idx % 2 == 0, amp, -amp)).astype(np.int16)
            out.append(_codecs.encode_wav_pcm16(samples, 8000))
        return pd.Series(out)

    return docs.withColumn("payload", render(F.col(id_col)))


# ---------------------------------------------------------------------------
# video (L6's third modality): concatenated-PGM container, REAL demux path
# ---------------------------------------------------------------------------

VIDEO_FRAME_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_offset", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
])

# dims are [1-9]\d*: a "P5 0 0 255" header would demux into a frame whose
# decode fails into the md5 fake while being labeled a real demuxed frame
# (r8 review) — zero-dim headers are not frames.
_PGM_HEADER_RE = re.compile(rb"P5\s+([1-9]\d*)\s+([1-9]\d*)\s+255\s")


def _iter_pgm_frames(payload: bytes):
    """Yield (offset, frame_bytes) for each PGM in a concatenated-PGM
    container — a REAL demux walk: parse each header, size the raster,
    seek to the next frame. Stops at the first byte run that isn't a PGM
    header (trailing garbage -> no frame, not a crash)."""
    pos = 0
    while pos < len(payload):
        m = _PGM_HEADER_RE.match(payload, pos)
        if not m:
            break
        w, h = int(m.group(1)), int(m.group(2))
        end = m.end() + w * h
        if end > len(payload):
            break  # truncated final frame: drop, don't mis-decode
        yield pos, payload[pos:end]
        pos = end


def extract_video_frame_metadata(docs_with_payload: DataFrame) -> DataFrame:
    """Demux + per-frame REAL decode in one narrow stage: video binary ->
    (doc_id, frame_idx, frame_offset, width, height, mean_luma)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_offset": [],
                "width": [], "height": [], "mean_luma": [],
            }
            for did, p in zip(pdf["doc_id"], pdf["payload"].map(_nz)):
                for i, (off, frame) in enumerate(_iter_pgm_frames(bytes(p))):
                    w, h, luma = _decode_one(frame)
                    rows["doc_id"].append(int(did))
                    rows["frame_idx"].append(i)
                    rows["frame_offset"].append(off)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_luma"].append(luma)
            yield pd.DataFrame(rows)

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        batches, schema=VIDEO_FRAME_META_SCHEMA
    )


def with_pgm_video_payload(
    docs: DataFrame, text_col: str = "text", n_frames: int = 4, width: int = 16
) -> DataFrame:
    """Render a REAL concatenated-PGM "video" per doc: the text's bytes are
    split into ``n_frames`` contiguous chunks (sizes L//n + 1 for the first
    L%n chunks — the oracle-recomputable split), each chunk rendered as a
    PGM frame exactly like with_pgm_payload renders whole docs. Every
    frame boundary, dimension, and luma is then closed-form arithmetic
    over the text. Arrow-batched scalar UDF; narrow."""
    @F.pandas_udf(T.BinaryType())
    def render(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            b = ("" if t is None else t).encode("utf-8")
            base, rem = divmod(len(b), n_frames)
            frames = []
            pos = 0
            for i in range(n_frames):
                size = base + (1 if i < rem else 0)
                chunk = b[pos : pos + size]
                pos += size
                h = max(1, -(-len(chunk) // width))
                chunk = chunk.ljust(width * h, b" ")
                arr = np.frombuffer(chunk, dtype=np.uint8).reshape(h, width)
                frames.append(_codecs.encode_pgm(arr))
            out.append(b"".join(frames))
        return pd.Series(out)

    return docs.withColumn("payload", render(F.col(text_col)))


# ---------------------------------------------------------------------------
# Perceptual near-dup hashes (r14 verdict #4): extend the dedup family to the
# image modality. aHash/dHash over the REAL raster decode — 64-bit hashes a
# banded Hamming join (operators/dedup.py::hamming_near_pairs) turns into
# candidate pairs without an all-pairs pass.
# ---------------------------------------------------------------------------

AHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("ahash", T.LongType()),
])


def _perceptual_gray8(payload: bytes, w: int, h: int):
    """Decoded luma raster resized to (h, w), or None for payloads the
    built-in codecs do not recognize (no md5 fake: a perceptual hash of
    non-image bytes is noise)."""
    try:
        arr = _codecs.decode_rgb(payload)
    except ValueError:
        return None  # recognized-but-broken: no stable hash exists
    if arr is None:
        return None
    return _codecs.resize_nearest(_codecs.to_gray(arr), w, h)


def _bits_to_i64(bits) -> int:
    """Row-major bit vector (index k = bit k) -> signed two's-complement
    int64 (numpy/Arrow-friendly; Spark longs wrap identically)."""
    v = 0
    for k, b in enumerate(bits):
        if b:
            v |= 1 << k
    return v - (1 << 64) if v >= 1 << 63 else v


def image_ahash64(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, ahash): 64-bit average-hash over the real decode path.

    Recipe (every step integer-exact so a SQL oracle can rebuild it):
    decode -> ITU-601 luma (to_gray) -> 8x8 nearest-neighbour resample
    (resize_nearest's floor grid) -> bit k (row-major, k = 8*r + c) is 1
    iff 64 * pixel_k > sum(pixels) (strictly greater: pixels equal to the
    mean contribute 0, no division anywhere). Rows whose payload no real
    backend decodes are DROPPED — a perceptual hash of non-image bytes is
    noise, and the md5 fake tier exists for metadata, not similarity.

    Scale shape: mapInPandas, narrow, zero shuffles — hashing rides the
    scan like every other decode stage; the downstream banded join is
    where the (only) shuffle happens.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                g = _perceptual_gray8(_nz(payload), 8, 8)
                if g is None:
                    continue
                v = g.astype(np.int64).reshape(-1)
                s = int(v.sum())
                ids.append(i)
                hashes.append(_bits_to_i64(64 * v > s))
            yield pd.DataFrame({"doc_id": ids, "ahash": hashes})

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(batches, schema=AHASH_SCHEMA)


DHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("dhash", T.LongType()),
])


def image_dhash64(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, dhash): 64-bit difference-hash (horizontal gradient sign)
    — the aHash sibling that is insensitive to global brightness shifts:
    resample to 9x8, bit k (= 8*r + c) is 1 iff pixel[r, c+1] > pixel[r, c].
    Same decode tiering, drop rule, and scale shape as image_ahash64."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                g = _perceptual_gray8(_nz(payload), 9, 8)
                if g is None:
                    continue
                v = g.astype(np.int64)
                ids.append(i)
                hashes.append(_bits_to_i64((v[:, 1:] > v[:, :-1]).reshape(-1)))
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(batches, schema=DHASH_SCHEMA)


# Integer 8x32 DCT-II basis for image_phash64_dct: entry [u][x] =
# round(1024 * cos(pi * (2x+1) * u / 64)). Stored as a LITERAL, not computed
# at import — round(1024*cos(...)) could differ in the last ulp across libm
# builds, and a perceptual hash must be stable across runtimes (the
# _perceptual_gray8 tiering rule). Rows u >= 1 sum to EXACTLY 0 (the
# cos(pi - a) = -cos(a) pairing survives rounding), so every AC coefficient —
# and therefore the whole hash, median threshold included — is exactly
# invariant under a global brightness shift.
_DCT_C32 = (
    (1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024),
    (1023, 1013, 993, 964, 926, 878, 822, 759, 688, 610, 526, 438, 345, 249, 150, 50, -50, -150, -249, -345, -438, -526, -610, -688, -759, -822, -878, -926, -964, -993, -1013, -1023),
    (1019, 980, 903, 792, 650, 483, 297, 100, -100, -297, -483, -650, -792, -903, -980, -1019, -1019, -980, -903, -792, -650, -483, -297, -100, 100, 297, 483, 650, 792, 903, 980, 1019),
    (1013, 926, 759, 526, 249, -50, -345, -610, -822, -964, -1023, -993, -878, -688, -438, -150, 150, 438, 688, 878, 993, 1023, 964, 822, 610, 345, 50, -249, -526, -759, -926, -1013),
    (1004, 851, 569, 200, -200, -569, -851, -1004, -1004, -851, -569, -200, 200, 569, 851, 1004, 1004, 851, 569, 200, -200, -569, -851, -1004, -1004, -851, -569, -200, 200, 569, 851, 1004),
    (993, 759, 345, -150, -610, -926, -1023, -878, -526, -50, 438, 822, 1013, 964, 688, 249, -249, -688, -964, -1013, -822, -438, 50, 526, 878, 1023, 926, 610, 150, -345, -759, -993),
    (980, 650, 100, -483, -903, -1019, -792, -297, 297, 792, 1019, 903, 483, -100, -650, -980, -980, -650, -100, 483, 903, 1019, 792, 297, -297, -792, -1019, -903, -483, 100, 650, 980),
    (964, 526, -150, -759, -1023, -822, -249, 438, 926, 993, 610, -50, -688, -1013, -878, -345, 345, 878, 1013, 688, 50, -610, -993, -926, -438, 249, 822, 1023, 759, 150, -526, -964),
)

PHASH_DCT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("phash", T.LongType()),
])


def image_phash64_dct(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, phash): 64-bit DCT perceptual hash — the ROBUST image
    member of the near-dup family (r15 verdict missing #1). aHash/dHash
    catch near-identical rasters; pHash's low-frequency focus survives the
    perturbations real image dedup meets (re-quantization, per-pixel
    noise) because high-frequency detail never reaches the hash at all.

    Recipe (integer-exact end to end, so a SQL oracle can rebuild it):
    decode -> luma -> 32x32 nearest resample -> 2-D DCT restricted to the
    8x8 low-frequency block via the scaled-integer basis _DCT_C32
    (T = C g C', every product an int64; |T| <= 32*255*1024 * 32*1024 <
    2^39, no overflow) -> bit k (= 8u + v) is 1 iff T[u][v] strictly
    exceeds the UPPER MEDIAN (sorted T, index 32 of 64) — a median, not a
    mean, so one outlier coefficient cannot drag every threshold (the
    pHash/aHash distinction); no division anywhere. The DC term rides
    along (always above the median — one constant bit) keeping the lane
    layout a plain 8x8 raster of the coefficient block. Same decode
    tiering and drop rule as image_ahash64; same mapInPandas
    narrow/zero-shuffle scale shape; the same banded Hamming join
    consumes the output.

    Robustness (receipted in tests/test_operators.py): on 1/f-spectrum
    rasters — natural-image statistics — pHash holds hamming <= 3 where
    aHash does not under +-16 pixel noise and 16-level re-quantization,
    and a global brightness shift is an EXACT no-op (see _DCT_C32 note).
    On flat-spectrum noise rasters (synthetic text renders) the ordering
    reverses — low-freq coefficients of white noise sit near the median —
    which is why the family ships BOTH and dedup keys on the modality."""
    C = np.asarray(_DCT_C32, dtype=np.int64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                g = _perceptual_gray8(_nz(payload), 32, 32)
                if g is None:
                    continue
                t = (C @ g.astype(np.int64) @ C.T).reshape(-1)
                m = int(np.sort(t)[32])
                ids.append(i)
                hashes.append(_bits_to_i64(t > m))
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(batches, schema=PHASH_DCT_SCHEMA)


def with_pcm_text_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Render each doc's bytes as a REAL mono PCM16 WAV payload: sample_j =
    (byte_j - 96) * 256 — letters straddle zero, so the waveform's envelope
    varies with the text and every decoded sample is closed-form arithmetic
    over it (the audio sibling of with_pgm_payload's raster trick; the
    x256 scale uses the int16 range without touching comparisons, which
    scale-cancel). Arrow-batched scalar UDF; narrow."""
    @F.pandas_udf(T.BinaryType())
    def render(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            b = ("" if t is None else t).encode("utf-8")
            arr = np.frombuffer(b, dtype=np.uint8).astype(np.int16)
            samples = (arr - 96) * 256
            out.append(_codecs.encode_wav_pcm16(samples, 8000))
        return pd.Series(out)

    return docs.withColumn("payload", render(F.col(text_col)))


AUDIOHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("audiohash", T.LongType()),
])


def audio_envelope_hash64(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, audiohash): 64-bit energy-envelope hash over the REAL WAV
    decode path — the audio member of the perceptual near-dup family
    (image_ahash64's 1-D sibling; the same banded Hamming join consumes
    both).

    Recipe (integer-exact end to end): decode -> per-frame channel SUM
    (stays integer; mono passes through) -> |amplitude| -> 64-point
    nearest-neighbour decimation (index (k*n)//64, the resize_nearest
    floor grid) -> bit k is 1 iff 64 * |a_k| > sum of the 64 decimated
    |a|. Rows that no real backend decodes (non-RIFF payloads,
    unsupported WAV variants, zero samples) are DROPPED, mirroring the
    image hashes' rule. mapInPandas, narrow, zero shuffles."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    dec = _codecs.decode_wav_pcm16(_nz(payload))
                except ValueError:
                    dec = None
                if dec is None:
                    continue
                samples, _rate, n_ch = dec
                if n_ch > 1:
                    samples = samples.reshape(-1, n_ch).sum(axis=1)
                a = np.abs(samples.astype(np.int64))
                n = a.size
                if n == 0:
                    continue
                v = a[(np.arange(64) * n) // 64]
                ids.append(i)
                hashes.append(_bits_to_i64(64 * v > int(v.sum())))
            yield pd.DataFrame({"doc_id": ids, "audiohash": hashes})

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(batches, schema=AUDIOHASH_SCHEMA)


VIDEOHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("videohash", T.LongType()),
])


def video_framehash64(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, videohash): 64-bit frame-sampled perceptual signature —
    the VIDEO member of the near-dup family, completing the modality
    matrix (text shingles, image_ahash64, audio_envelope_hash64; the same
    banded Hamming join consumes all four).

    Recipe (integer-exact end to end): REAL demux (_iter_pgm_frames) ->
    sample 4 frames on the nearest-neighbour floor grid ((k*n)//4, the
    decimation convention shared with audio) -> per sampled frame: decode
    -> luma -> 4x4 nearest resample -> 16-bit mean-threshold aHash
    (bit 1 iff 16 * pixel > frame's sampled sum, strictly greater) ->
    concatenate the four 16-bit lanes, bit (16*f + 4*r + c). Lane
    structure is the point: a perturbation confined to one frame can only
    flip bits in that frame's lane, so framewise-similar videos land at
    small Hamming distance. Payloads that demux to zero frames, or whose
    sampled frames don't decode, are DROPPED (the family's shared rule —
    a perceptual hash of non-video bytes is noise).

    Scale shape: mapInPandas, narrow, zero shuffles — demux + hash ride
    the scan; only the 64-bit signatures reach the downstream banded
    join. Frame payloads never leave the Arrow batch."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                frames = [fr for _off, fr in _iter_pgm_frames(bytes(_nz(payload)))]
                n = len(frames)
                if n == 0:
                    continue
                bits: list[bool] = []
                ok = True
                for k in range(4):
                    g = _perceptual_gray8(frames[(k * n) // 4], 4, 4)
                    if g is None:
                        ok = False
                        break
                    v = g.astype(np.int64).reshape(-1)
                    bits.extend(16 * v > int(v.sum()))
                if not ok:
                    continue
                ids.append(i)
                hashes.append(_bits_to_i64(bits))
            yield pd.DataFrame({"doc_id": ids, "videohash": hashes})

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(batches, schema=VIDEOHASH_SCHEMA)
