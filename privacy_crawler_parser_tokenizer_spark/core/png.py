"""Pure-stdlib PNG codec (decode / encode / nearest-neighbor resize).

PNG (RFC 2083 / ISO 15948) is just zlib-deflate over
per-scanline-filtered rows — small enough to implement from the public
spec without Pillow.

Supported: bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette ->
expanded to RGB), 4 (gray+alpha), 6 (RGBA), all five scanline filters,
non-interlaced.  Anything else raises ``PngError``.

Kernel-module rules apply: this file is plain Python + numpy, no Spark
imports.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    pass


def _chunks(data: bytes):
    pos = len(SIGNATURE)
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngError("truncated chunk")
        yield ctype, body
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return
    raise PngError("missing IEND")


def png_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from IHDR alone — the cheap metadata
    path (no inflate, no unfilter)."""
    if not data.startswith(SIGNATURE):
        raise PngError("bad signature")
    if data[12:16] != b"IHDR":
        raise PngError("IHDR not first")
    w, h, depth, color = struct.unpack(">IIBB", data[16:26])
    if color not in _CHANNELS:
        raise PngError(f"unknown color type {color}")
    # palette rows decode to RGB
    channels = 3 if color == 3 else _CHANNELS[color]
    if w == 0 or h == 0:
        raise PngError("zero dimension")
    return int(w), int(h), channels


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 pixel array of shape (height, width, channels).
    Palette images come back expanded to RGB."""
    if not data.startswith(SIGNATURE):
        raise PngError("bad signature")
    ihdr = None
    plte = None
    idat = bytearray()
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.extend(body)
    if ihdr is None:
        raise PngError("no IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise PngError(f"unsupported bit depth {depth}")
    if color not in _CHANNELS:
        raise PngError(f"unknown color type {color}")
    if comp != 0 or filt != 0:
        raise PngError("unknown compression/filter method")
    if interlace != 0:
        raise PngError("interlaced (Adam7) not supported")
    if w == 0 or h == 0:
        raise PngError("zero dimension")
    return decode_idat(bytes(idat), w, h, color, plte)


MAX_DECODE_PIXELS = 1 << 26  # executor-memory DoS guard: decode refuses implausible header geometry


def decode_idat(zdata: bytes, w: int, h: int, color: int,
                plte: bytes | None = None) -> np.ndarray:
    """Decode one zlib'd filtered-scanline stream (the body of IDAT —
    or of an APNG fdAT frame, which reuses the identical encoding) to
    a (h, w, channels) uint8 array.  Shared by ``decode_png`` and
    ``core.apng.decode_apng``."""
    if w * h > MAX_DECODE_PIXELS:
        raise PngError(f"implausible geometry {w}x{h}")
    ch = _CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(zdata)
    if len(raw) != (stride + 1) * h:
        raise PngError("bad decompressed length")

    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        filt_row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        )
        recon = _unfilter_row(ftype, filt_row, prev, ch)
        out[y] = recon
        prev = recon

    px = out.reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise PngError("palette image without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8)
        if len(pal) % 3:
            raise PngError("bad PLTE length")
        pal = pal.reshape(-1, 3)
        idx = px[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            raise PngError("palette index out of range")
        px = pal[idx]
    return px


def _unfilter_row(ftype: int, filt: np.ndarray, prev: np.ndarray,
                  bpp: int) -> np.ndarray:
    """Reverse one scanline filter (RFC 2083 §6).  Sub/Up/None/Average
    use vectorized forms where the recurrence allows; Paeth (and the
    left-dependent half of Average) run the spec's per-byte recurrence."""
    stride = len(filt)
    if ftype == 0:                               # None
        return filt.copy()
    if ftype == 2:                               # Up
        return (filt.astype(np.uint16) + prev).astype(np.uint8)
    if ftype == 1:                               # Sub: cumsum per lane
        lanes = filt.reshape(-1, bpp).astype(np.uint64)
        return (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(stride)
    recon = np.empty(stride, dtype=np.uint8)
    if ftype == 3:                               # Average
        for x in range(stride):
            left = int(recon[x - bpp]) if x >= bpp else 0
            recon[x] = (int(filt[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        return recon
    if ftype == 4:                               # Paeth
        for x in range(stride):
            a = int(recon[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                pr = a
            elif pb <= pc:
                pr = b
            else:
                pr = c
            recon[x] = (int(filt[x]) + pr) & 0xFF
        return recon
    raise PngError(f"unknown filter type {ftype}")


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, level: int = 6) -> bytes:
    """uint8 array (h, w) or (h, w, c) with c in {1,2,3,4} -> PNG bytes
    (bit depth 8, filter None per row, one IDAT)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 2, 3, 4):
        raise PngError(f"unsupported array shape {px.shape}")
    h, w, ch = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    rows = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), px.reshape(h, w * ch)], axis=1
    )
    idat = zlib.compress(rows.tobytes(), level)
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def resize_nearest(pixels: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Nearest-neighbor resample (pixel-center sampling), the minimal
    real resize for the bounded-resize operator."""
    px = np.asarray(pixels)
    h, w = px.shape[:2]
    xs = np.minimum(((np.arange(new_w) + 0.5) * w / new_w).astype(np.int64), w - 1)
    ys = np.minimum(((np.arange(new_h) + 0.5) * h / new_h).astype(np.int64), h - 1)
    return px[ys][:, xs]
