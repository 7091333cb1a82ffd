"""Pure-stdlib BMP and PPM/PGM codecs (decode / encode / metadata).

Companion to ``core/png.py``.  Both formats are spec-simple:

* BMP (Windows V3+ ``BITMAPINFOHEADER``): uncompressed ``BI_RGB`` at
  8 (grayscale-palette), 24 (BGR) and 32 (BGRA) bits per pixel,
  bottom-up or top-down rows, 4-byte row padding.
* PPM/PGM (netpbm ``P6``/``P5``): ASCII header (with ``#`` comments),
  maxval <= 255, raw binary samples.

Anything else raises ``BitmapError``.  Kernel-module rules apply:
plain Python + numpy, no Spark imports.
"""

from __future__ import annotations

import struct

import numpy as np


class BitmapError(ValueError):
    pass


# --------------------------------------------------------------- BMP

_BI_RGB = 0


def _bmp_header(data: bytes):
    if len(data) < 54 or data[:2] != b"BM":
        raise BitmapError("bad BMP signature")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:  # BITMAPCOREHEADER not supported
        raise BitmapError(f"unsupported DIB header size {hdr_size}")
    w, h = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if planes != 1 or compression != _BI_RGB:
        raise BitmapError("compressed/planar BMP not supported")
    if bpp not in (8, 24, 32):
        raise BitmapError(f"unsupported bpp {bpp}")
    if w <= 0 or h == 0:
        raise BitmapError("bad dimensions")
    return w, h, bpp, pix_off, hdr_size


def bmp_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the headers alone."""
    w, h, bpp, _off, _hs = _bmp_header(data)
    ch = {8: 1, 24: 3, 32: 4}[bpp]
    return int(w), abs(int(h)), ch


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> uint8 array (h, w, c), RGB byte order (BMP stores
    BGR on disk; 8-bpp decodes through its palette to grayscale when
    the palette is gray, else to RGB)."""
    w, h, bpp, pix_off, hdr_size = _bmp_header(data)
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * bpp // 8 + 3) & ~3
    need = pix_off + row_bytes * h
    if len(data) < need:
        raise BitmapError("truncated pixel data")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * h, offset=pix_off
    ).reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        pal_off = 14 + hdr_size
        ncolors = struct.unpack_from("<I", data, 46)[0] or 256
        pal = np.frombuffer(
            data, dtype=np.uint8, count=ncolors * 4, offset=pal_off
        ).reshape(ncolors, 4)[:, :3][:, ::-1]  # BGRA entries -> RGB
        idx = rows[:, :w]
        if idx.max(initial=0) >= ncolors:
            raise BitmapError("palette index out of range")
        px = pal[idx]
        if np.all(px[:, :, 0] == px[:, :, 1]) and np.all(
            px[:, :, 1] == px[:, :, 2]
        ):
            px = px[:, :, :1]  # gray palette -> single channel
        return np.ascontiguousarray(px)
    ch = bpp // 8
    px = rows[:, : w * ch].reshape(h, w, ch)
    # BGR(A) -> RGB(A)
    if ch == 3:
        px = px[:, :, ::-1]
    else:
        px = px[:, :, [2, 1, 0, 3]]
    return np.ascontiguousarray(px)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """uint8 (h, w), (h, w, 1), (h, w, 3) or (h, w, 4) -> BMP bytes
    (BI_RGB; gray goes out as 8-bpp with a grayscale palette)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3, 4):
        raise BitmapError(f"unsupported array shape {px.shape}")
    h, w, ch = px.shape
    bpp = {1: 8, 3: 24, 4: 32}[ch]
    row_bytes = (w * bpp // 8 + 3) & ~3
    palette = b""
    if ch == 1:
        body = px[:, :, 0]
        palette = b"".join(bytes((v, v, v, 0)) for v in range(256))
    elif ch == 3:
        body = px[:, :, ::-1].reshape(h, w * 3)
    else:
        body = px[:, :, [2, 1, 0, 3]].reshape(h, w * 4)
    padded = np.zeros((h, row_bytes), dtype=np.uint8)
    padded[:, : body.shape[1]] = body
    pix = padded[::-1].tobytes()  # bottom-up
    pix_off = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, _BI_RGB, len(pix), 2835, 2835,
        256 if ch == 1 else 0, 0,
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", pix_off + len(pix), 0, 0, pix_off)
    return file_hdr + info + palette + pix


# ---------------------------------------------------------- PPM / PGM


def _pnm_header(data: bytes):
    if len(data) < 2 or data[0:1] != b"P" or data[1:2] not in b"56":
        raise BitmapError("bad PNM signature")
    ch = 3 if data[1:2] == b"6" else 1
    pos = 2
    vals = []
    n = len(data)
    while len(vals) < 3:
        while pos < n and data[pos : pos + 1].isspace():
            pos += 1
        if pos < n and data[pos : pos + 1] == b"#":  # comment to EOL
            while pos < n and data[pos : pos + 1] not in b"\r\n":
                pos += 1
            continue
        start = pos
        while pos < n and not data[pos : pos + 1].isspace():
            pos += 1
        tok = data[start:pos]
        if not tok.isdigit():
            raise BitmapError("bad PNM header token")
        vals.append(int(tok))
    if pos >= n or not data[pos : pos + 1].isspace():
        raise BitmapError("bad PNM header")
    pos += 1  # single whitespace after maxval
    w, h, maxval = vals
    if w <= 0 or h <= 0:
        raise BitmapError("bad dimensions")
    if not 0 < maxval <= 255:
        raise BitmapError(f"unsupported maxval {maxval}")
    return w, h, ch, pos


def pnm_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the ASCII header."""
    w, h, ch, _pos = _pnm_header(data)
    return w, h, ch


def decode_pnm(data: bytes) -> np.ndarray:
    """P6 (PPM) / P5 (PGM) bytes -> uint8 array (h, w, c)."""
    w, h, ch, pos = _pnm_header(data)
    need = w * h * ch
    if len(data) - pos < need:
        raise BitmapError("truncated pixel data")
    return (
        np.frombuffer(data, dtype=np.uint8, count=need, offset=pos)
        .reshape(h, w, ch)
        .copy()
    )


def encode_pnm(pixels: np.ndarray) -> bytes:
    """uint8 (h, w), (h, w, 1) or (h, w, 3) -> P5/P6 bytes."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise BitmapError(f"unsupported array shape {px.shape}")
    h, w, ch = px.shape
    magic = b"P6" if ch == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + px.tobytes()
