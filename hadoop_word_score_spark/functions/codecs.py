"""Pure-Python image codecs for the multimodal seam (SURVEY §2.10 L6).

The L6 contract ("decode is real, not a hash of the bytes") depends on no
image wheel: this module implements the two classically trivial raster
formats — PPM/PGM (netpbm binary) and uncompressed 24-bpp BMP — from their
public specifications, with numpy doing the pixel work, so a payload
decodes the same in every runtime. The multimodal operators resolve
decoders in order: these built-ins → deterministic md5 fake (non-image
payloads, e.g. the synthetic text corpus).

Encoders for the same formats are included so tests can synthesize real image
bytes in-process without any external fixture or library.

Scale note: decode runs inside Arrow-batched ``mapInPandas`` workers — a
narrow, shuffle-free stage. Everything here is per-blob CPU work with no
driver involvement, so it parallelises linearly with scan tasks at 100 TB.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "decode_rgb",
    "to_gray",
    "resize_nearest",
    "encode_ppm",
    "encode_pgm",
    "encode_bmp24",
    "encode_wav_pcm16",
    "decode_wav_pcm16",
]


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _netpbm_tokens(buf: bytes, start: int, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII integers, honouring # comments.

    Returns (values, offset_past_last_single_whitespace) per the netpbm spec:
    exactly one whitespace byte separates the header from the raster.
    """
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if i < len(buf) and buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and buf[j : j + 1].isdigit():
            j += 1
        if j == i:
            raise ValueError("malformed netpbm header")
        vals.append(int(buf[i:j]))
        i = j
    return vals, i + 1  # single whitespace after the last header token


def _decode_netpbm(payload: bytes) -> np.ndarray | None:
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        return None
    (w, h, maxval), off = _netpbm_tokens(payload, 2, 3)
    # maxval != 255 is recognized-but-unsupported: raw samples would need
    # scaling by 255/maxval to mean what the luma contract says, so
    # refuse loudly rather than decode a 0..maxval raster as if it were
    # 0..255.
    if maxval != 255 or w <= 0 or h <= 0:
        raise ValueError(f"unsupported netpbm maxval/dims: {maxval} {w}x{h}")
    channels = 3 if magic == b"P6" else 1
    need = w * h * channels
    raster = payload[off : off + need]
    if len(raster) < need:
        raise ValueError("truncated netpbm raster")
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, channels)
    if channels == 1:
        arr = np.repeat(arr, 3, axis=2)
    return arr


def _decode_bmp(payload: bytes) -> np.ndarray | None:
    if payload[:2] != b"BM":
        return None
    if len(payload) < 54:
        # recognized magic but the fixed 54-byte header is cut short: same
        # corruption class as "truncated BMP raster" — distinguishable from
        # not-an-image (r8 review)
        raise ValueError("truncated BMP header")
    pix_off = int.from_bytes(payload[10:14], "little")
    dib = int.from_bytes(payload[14:18], "little")
    if dib < 40:  # BITMAPCOREHEADER etc. — out of scope
        raise ValueError(f"unsupported BMP DIB header size {dib}")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: {bpp}bpp compression={compression}")
    if w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP dims {w}x{h}")
    bottom_up = h > 0
    h = abs(h)
    row = (w * 3 + 3) & ~3  # rows padded to 4-byte boundaries
    need = row * h
    raster = payload[pix_off : pix_off + need]
    if len(raster) < need:
        raise ValueError("truncated BMP raster")
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, row)[:, : w * 3]
    arr = arr.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if bottom_up:
        arr = arr[::-1]
    return np.ascontiguousarray(arr)


def decode_rgb(payload: bytes) -> np.ndarray | None:
    """Decode PPM/PGM/BMP bytes to an (h, w, 3) uint8 array.

    Returns None when the magic bytes match no supported format (caller falls
    through to the next backend); raises ValueError on a recognized-but-broken
    or unsupported-variant payload (truncated raster, compressed BMP, 16-bit
    netpbm) so corruption is distinguishable from "not an image".
    """
    arr = _decode_netpbm(payload)
    if arr is None:
        arr = _decode_bmp(payload)
    return arr


# ---------------------------------------------------------------------------
# pixel ops (decode-adjacent, used by the resize stage)
# ---------------------------------------------------------------------------

def to_gray(rgb: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma, with PIL's fixed-point rounding (L24 >> 16)."""
    r = rgb[:, :, 0].astype(np.uint32)
    g = rgb[:, :, 1].astype(np.uint32)
    b = rgb[:, :, 2].astype(np.uint32)
    return ((19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16).astype(np.uint8)


def resize_nearest(img: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbour resample of a 2-D (grayscale) array."""
    h, w = img.shape[:2]
    ys = (np.arange(target_h) * h) // target_h
    xs = (np.arange(target_w) * w) // target_w
    return img[ys][:, xs]


# ---------------------------------------------------------------------------
# encode (fixture generation; also proves the decoders against a round-trip)
# ---------------------------------------------------------------------------

def encode_ppm(rgb: np.ndarray) -> bytes:
    h, w = rgb.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(rgb, np.uint8).tobytes()


def encode_pgm(gray: np.ndarray) -> bytes:
    h, w = gray.shape[:2]
    return b"P5\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(gray, np.uint8).tobytes()


def encode_bmp24(rgb: np.ndarray) -> bytes:
    h, w = rgb.shape[:2]
    row = (w * 3 + 3) & ~3
    raster = np.zeros((h, row), dtype=np.uint8)
    raster[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pix = raster.tobytes()
    header = (
        b"BM"
        + (54 + len(pix)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 DPI
        + (0).to_bytes(4, "little") * 2
    )
    return header + pix


# ---------------------------------------------------------------------------
# audio: RIFF/WAVE PCM16 (the classically trivial audio container, from the
# public RIFF spec — same rationale as the raster codecs above: the L6
# audio contract shouldn't depend on an optional wheel)
# ---------------------------------------------------------------------------

def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Mono PCM16LE RIFF/WAVE blob from an int16 sample array."""
    import struct

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int, int] | None:
    """(interleaved int16 samples, sample_rate, n_channels) for a RIFF/WAVE
    blob; None when the payload isn't RIFF/WAVE at all (caller falls back);
    ValueError for a recognized WAV this decoder doesn't support (non-PCM,
    non-16-bit, missing chunks) — mirroring decode_rgb's contract."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if pos + 8 + sz > len(payload):
            # a declared chunk size overrunning the payload is the same
            # corruption class as a truncated raster — raise, don't clip
            # to partial audio silently (r8 review)
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_fmt != 1 or bits != 16 or n_ch < 1 or rate < 1:
        raise ValueError(
            f"unsupported WAV variant: fmt={audio_fmt} bits={bits} rate={rate}"
        )
    usable = len(data) - (len(data) % (2 * n_ch))
    return np.frombuffer(data[:usable], dtype="<i2"), rate, n_ch
