"""Pure-stdlib PNG codec tests (core/png.py).

The encoder writes filter-None rows, so decode-of-encode only exercises
filter 0; the other four filters are verified against PNGs built BY THE
TEST with forward-filtered scanlines (the RFC 2083 §6 forward formulas,
implemented here independently of the decoder's inverse direction).
"""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from privacy_crawler_parser_tokenizer_spark.core import png


def _build_png(pixels: np.ndarray, filters: list[int],
               color_type: int | None = None,
               palette: bytes | None = None,
               interlace: int = 0, depth: int = 8) -> bytes:
    """Independent PNG writer: forward-filter each row per RFC 2083 §6
    (separate code path from the decoder's unfilter), hand-assembled
    chunks."""
    h, w, ch = pixels.shape
    if color_type is None:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    rows = pixels.reshape(h, w * ch).astype(np.int32)
    bpp = ch
    out = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y, f in zip(range(h), filters):
        raw = rows[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), raw[:-bpp]]) \
            if w * ch > bpp else np.zeros_like(raw)
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]]) \
            if w * ch > bpp else np.zeros_like(raw)
        if f == 0:
            filt = raw
        elif f == 1:
            filt = raw - left
        elif f == 2:
            filt = raw - prev
        elif f == 3:
            filt = raw - ((left + prev) // 2)
        elif f == 4:
            pr = np.empty_like(raw)
            for x in range(w * ch):
                a, b, c = int(left[x]), int(prev[x]), int(upleft[x])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr[x] = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt = raw - pr
        out.append(f)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prev = raw

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    blob = png.SIGNATURE + chunk(b"IHDR", ihdr)
    if palette is not None:
        blob += chunk(b"PLTE", palette)
    blob += chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b"")
    return blob


def _rand_pixels(rng, h, w, ch):
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_decode_each_filter_each_colortype(ftype, ch):
    rng = np.random.default_rng(ftype * 7 + ch)
    px = _rand_pixels(rng, 9, 13, ch)
    blob = _build_png(px, [ftype] * 9)
    got = png.decode_png(blob)
    assert got.shape == px.shape
    assert np.array_equal(got, px)


def test_decode_mixed_filters_and_meta():
    rng = np.random.default_rng(42)
    px = _rand_pixels(rng, 10, 7, 3)
    blob = _build_png(px, [0, 1, 2, 3, 4, 4, 3, 2, 1, 0])
    assert np.array_equal(png.decode_png(blob), px)
    assert png.png_meta(blob) == (7, 10, 3)


def test_palette_expansion():
    pal = bytes(range(48))                        # 16 RGB entries
    idx = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    blob = _build_png(idx, [0] * 4, color_type=3, palette=pal)
    got = png.decode_png(blob)
    assert got.shape == (4, 4, 3)
    want = np.frombuffer(pal, dtype=np.uint8).reshape(16, 3)[
        idx[:, :, 0]
    ]
    assert np.array_equal(got, want)
    assert png.png_meta(blob) == (4, 4, 3)       # reports post-expansion


def test_error_paths():
    rng = np.random.default_rng(0)
    px = _rand_pixels(rng, 3, 3, 3)
    with pytest.raises(png.PngError):
        png.decode_png(b"definitely not a png")
    with pytest.raises(png.PngError):
        png.decode_png(_build_png(px, [0] * 3, interlace=1))  # Adam7
    with pytest.raises(png.PngError):
        png.decode_png(_build_png(px, [0] * 3, depth=16))
    with pytest.raises(png.PngError):
        png.png_meta(b"\x89PNG\r\n\x1a\nXXXX")


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 12), st.integers(1, 12),
    st.sampled_from([1, 2, 3, 4]), st.integers(0, 2**32 - 1),
)
def test_encode_decode_roundtrip(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    px = _rand_pixels(rng, h, w, ch)
    out = png.decode_png(png.encode_png(px))
    assert np.array_equal(out, px)


def test_resize_nearest_geometry_and_identity():
    rng = np.random.default_rng(5)
    px = _rand_pixels(rng, 8, 12, 3)
    assert np.array_equal(png.resize_nearest(px, 12, 8), px)  # no-op
    half = png.resize_nearest(px, 6, 4)
    assert half.shape == (4, 6, 3)
    # pixel-center sampling: output (0,0) samples input (1,1)
    assert np.array_equal(half[0, 0], px[1, 1])
