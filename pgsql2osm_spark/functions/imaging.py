"""Image payload codecs + perceptual hash — the multimodal column kernels.

The input table (BASELINE.json input_hint) carries images as an opaque
``bytes:binary`` column with typed metadata (w, h, fmt). This module supplies
the decode / verify kernels used by the tiling operator (SURVEY.md J12) and
the pixel-parity tests (PSNR >= 40 dB for lossy):

* ``fmt='png'``  — a REAL, self-contained PNG codec (pure numpy + stdlib
  zlib/struct; 8-bit RGB, filter types 0-4 on decode, filter 0 on encode).
  Round-trips bit-exactly.
* ``fmt='jpeg'`` — a REAL, from-scratch baseline-sequential JPEG codec
  (functions/jpeg.py: Annex-K tables, Huffman entropy coding, 8x8 DCT,
  4:4:4 and 4:2:0, DRI/RSTn on decode; the container has no PIL/cv2, so
  the codec is pure numpy + stdlib, same pattern as the PNG codec here).
  Lossy for real: the fixture encodes at quality 98 / 4:4:4, measured
  PSNR ~ 43 dB on the fixture images (the >=40 dB gate is exercised by a
  genuinely lossy round trip). Progressive/webp/avif remain the documented
  NotImplementedError seam.
* ``phash64`` — 64-bit DCT perceptual hash (mean-pool to 32x32 gray, 2D
  DCT-II via explicit cosine matrices, top-left 8x8 vs median).

This replaces the reference's external get_lonlat K/V subprocess pattern
(/root/reference/get_lonlat.cpp, dbutils.py:29-48 — SURVEY.md S10): the
"opaque external payload" there is a coordinate file; here it is the image
bytes, decoded Arrow-batch-at-a-time inside mapInPandas, never per-row.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# fixture/default encode quality: 98 keeps the measured PSNR ~43 dB on the
# noisy fixture images, comfortably above the >=40 dB parity gate while
# still being genuinely lossy (quality 96 measured ~37.8 — below the gate)
DEFAULT_JPEG_QUALITY = 98


# ---------------------------------------------------------------------------
# PNG (real codec).
# ---------------------------------------------------------------------------


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> PNG bytes (color type 2, bit depth 8, filter 0)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    assert c == 3, "RGB only"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 (None) per scanline
    raw[:, 1:] = px.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8. Supports 8-bit RGB, filters 0-4."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype != 2 or interlace != 0:
                raise ValueError("only 8-bit RGB non-interlaced supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = 1 + w * 3
    raw = raw.reshape(h, stride)
    filters = raw[:, 0]
    out = np.zeros((h, w * 3), dtype=np.uint8)
    bpp = 3
    for r in range(h):
        line = raw[r, 1:].astype(np.int32)
        f = filters[r]
        prev = out[r - 1].astype(np.int32) if r > 0 else np.zeros(w * 3, dtype=np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need left-neighbor recurrence
            rec = np.zeros(w * 3, dtype=np.int32)
            for i in range(w * 3):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad filter {f}")
                rec[i] = (line[i] + pred) & 0xFF
        out[r] = rec.astype(np.uint8)
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# JPEG (real from-scratch baseline codec — functions/jpeg.py).
# ---------------------------------------------------------------------------


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Dispatch on the fmt column — the decode kernel for mapInPandas stages.

    'jpeg' runs the from-scratch baseline-sequential decoder (jpeg.py);
    progressive JPEG raises NotImplementedError from inside it — that and
    the webp/avif branch here are the documented plug-a-codec seams."""
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        from . import jpeg as _jpeg

        return _jpeg.jpeg_decode(data)
    raise NotImplementedError(
        f"fmt={fmt!r}: webp/avif codecs are unavailable in this "
        "container; plug a decoder into decode_image() when deploying"
    )


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "jpeg":
        from . import jpeg as _jpeg

        return _jpeg.jpeg_encode(pixels, quality=DEFAULT_JPEG_QUALITY)
    raise NotImplementedError(f"fmt={fmt!r}")


# ---------------------------------------------------------------------------
# Perceptual hash (64-bit DCT pHash).
# ---------------------------------------------------------------------------

_PH_N = 32
_DCT_M = np.cos(np.pi / _PH_N * (np.arange(_PH_N)[:, None] + 0.5) * np.arange(_PH_N)[None, :])


def _mean_pool_to(img: np.ndarray, size: int) -> np.ndarray:
    """Deterministic area-mean resize of a (h, w) float image to (size, size).

    Degenerate (empty) blocks occur when a dimension is SMALLER than the
    target — there each block clamps to at least one source pixel
    (nearest-neighbor upsampling) instead of silently averaging nothing to 0."""
    h, w = img.shape
    ye = (np.arange(size + 1) * h) // size
    xe = (np.arange(size + 1) * w) // size
    ys0 = np.minimum(ye[:-1], h - 1)
    xs0 = np.minimum(xe[:-1], w - 1)
    ys1 = np.clip(np.maximum(ye[1:], ys0 + 1), 1, h)
    xs1 = np.clip(np.maximum(xe[1:], xs0 + 1), 1, w)
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = np.cumsum(np.cumsum(img, axis=0), axis=1)
    area = (ys1 - ys0)[:, None] * (xs1 - xs0)[None, :]
    blk = (
        csum[np.ix_(ys1, xs1)] - csum[np.ix_(ys0, xs1)] - csum[np.ix_(ys1, xs0)] + csum[np.ix_(ys0, xs0)]
    )
    return blk / area


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: gray -> 32x32 mean-pool -> 2D DCT-II -> top-left
    8x8 (minus DC) thresholded at its median. Signed int64 for parquet."""
    gray = pixels.astype(np.float64) @ np.asarray([0.299, 0.587, 0.114])
    small = _mean_pool_to(gray, _PH_N)
    dct = _DCT_M.T @ small @ _DCT_M
    block = dct[:8, :8].copy().ravel()
    block[0] = 0.0
    med = np.median(block[1:])
    bits = (block > med).astype(np.uint64)
    val = np.uint64(0)
    for i in range(64):
        val = (val << np.uint64(1)) | bits[i]
    return int(np.int64(val))

