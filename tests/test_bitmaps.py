"""BMP + PPM/PGM codec tests (core/bitmaps.py).

Decode is verified against files built BY THE TEST (hand-assembled
headers, rows padded/flipped per the spec — a separate code path from
the encoder), plus encode->decode roundtrips.
"""

import struct

import numpy as np
import pytest

from privacy_crawler_parser_tokenizer_spark.core import bitmaps as bm


def _rand(rng, h, w, ch):
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)


def _build_bmp24(px: np.ndarray, top_down: bool = False) -> bytes:
    """Independent 24-bpp BMP writer (BGR rows, 4-byte padding,
    bottom-up unless top_down)."""
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) & ~3
    rows = []
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        row = px[y, :, ::-1].tobytes()
        rows.append(row + b"\x00" * (row_bytes - len(row)))
    pix = b"".join(rows)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24,
                       0, len(pix), 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    return hdr + info + pix


@pytest.mark.parametrize("ch", [1, 3, 4])
def test_bmp_roundtrip(ch):
    rng = np.random.default_rng(ch)
    for h, w in [(1, 1), (5, 3), (7, 6), (2, 13)]:  # odd widths hit padding
        px = _rand(rng, h, w, ch)
        blob = bm.encode_bmp(px)
        assert bm.bmp_meta(blob) == (w, h, ch)
        assert np.array_equal(bm.decode_bmp(blob), px)


def test_bmp_decode_independent_writer_bottom_up_and_top_down():
    rng = np.random.default_rng(42)
    px = _rand(rng, 4, 5, 3)
    assert np.array_equal(bm.decode_bmp(_build_bmp24(px)), px)
    assert np.array_equal(bm.decode_bmp(_build_bmp24(px, top_down=True)), px)


def test_bmp_gray_palette_collapses_to_one_channel():
    rng = np.random.default_rng(3)
    g = _rand(rng, 6, 4, 1)
    blob = bm.encode_bmp(g)
    assert bm.bmp_meta(blob) == (4, 6, 1)
    assert np.array_equal(bm.decode_bmp(blob), g)


def test_bmp_color_palette_expands_to_rgb():
    # hand-build an 8-bpp BMP with a non-gray palette: decode must
    # expand through it to RGB
    pal = b"".join(bytes((b_, g, r, 0)) for r, g, b_ in
                   [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)])
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    row_bytes = 4
    pix = b"".join(
        idx[y].tobytes() + b"\x00" * (row_bytes - 2) for y in (1, 0)
    )
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(pix),
                       0, 0, 4, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pal) + len(pix), 0, 0,
                      54 + len(pal))
    out = bm.decode_bmp(hdr + info + pal + pix)
    assert out.shape == (2, 2, 3)
    assert np.array_equal(
        out, np.array([[[255, 0, 0], [0, 255, 0]],
                       [[0, 0, 255], [7, 8, 9]]], dtype=np.uint8))


@pytest.mark.parametrize("ch", [1, 3])
def test_pnm_roundtrip(ch):
    rng = np.random.default_rng(10 + ch)
    for h, w in [(1, 1), (3, 9), (8, 2)]:
        px = _rand(rng, h, w, ch)
        blob = bm.encode_pnm(px)
        assert blob[:2] == (b"P6" if ch == 3 else b"P5")
        assert bm.pnm_meta(blob) == (w, h, ch)
        assert np.array_equal(bm.decode_pnm(blob), px)


def test_pnm_header_comments_and_whitespace():
    body = bytes(range(6))
    blob = b"P5\n# c1\n  # c2\n 3\t2 #c3\n255\n" + body
    assert bm.pnm_meta(blob) == (3, 2, 1)
    assert np.array_equal(bm.decode_pnm(blob).ravel(), np.arange(6))


def test_error_paths():
    cases = [
        b"",
        b"BM",                                    # truncated BMP
        b"P6\n2 2\n65535\n" + b"\x00" * 24,       # 16-bit maxval
        b"P4\n2 2\n",                             # unsupported magic
        b"P6\n4 4\n255\n\x00\x01",                # truncated pixels
    ]
    for bad in cases:
        for fn in (bm.decode_bmp, bm.decode_pnm):
            with pytest.raises(bm.BitmapError):
                fn(bad)
    # compressed BMP (BI_RLE8) rejected
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 1, 0, 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
    with pytest.raises(bm.BitmapError):
        bm.bmp_meta(hdr + info)
