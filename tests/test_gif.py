"""Pure-stdlib GIF codec tests (core/gif.py).

The encoder writes non-interlaced full-frame images, so interlace,
transparency, disposal compositing and sub-rect frames are verified
against GIFs hand-assembled BY THE TEST (independent block writer; only
the LZW bit-packer is shared, and that is property-tested on its own
against random index streams).
"""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from privacy_crawler_parser_tokenizer_spark.core import gif

_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _build_gif(w, h, gct, images, bg=0):
    """Independent GIF assembler: raw struct-packed blocks, optional
    per-image GCE / interlace / sub-rect placement."""
    out = bytearray(b"GIF89a")
    depth = max((len(gct) - 1).bit_length(), 1)
    table = np.zeros((2 << (depth - 1), 3), np.uint8)
    table[: len(gct)] = gct
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), bg, 0)
    out += table.tobytes()
    for im in images:
        g = im.get("gce")
        if g is not None:
            flags = ((g.get("disposal", 0) & 7) << 2) | (
                1 if g.get("transparent") is not None else 0
            )
            out += (
                b"\x21\xf9\x04"
                + bytes((flags,))
                + struct.pack("<H", g.get("delay", 0))
                + bytes((g.get("transparent") or 0,))
                + b"\x00"
            )
        idx = np.asarray(im["idx"], dtype=np.uint8)
        fh, fw = idx.shape
        flags = 0x40 if im.get("interlaced") else 0
        out += b"\x2c" + struct.pack(
            "<HHHHB", im.get("left", 0), im.get("top", 0), fw, fh, flags
        )
        mcs = max(depth, 2)
        out.append(mcs)
        data = idx
        if im.get("interlaced"):
            order = [y for s, t in _PASSES for y in range(s, fh, t)]
            data = idx[order]
        lzw = gif.lzw_encode(mcs, data.tobytes())
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


_GCT4 = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]


# ------------------------------------------------------------------ LZW ----


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=2, max_value=8),
    st.binary(min_size=0, max_size=4000),
)
def test_lzw_roundtrip_property(mcs, payload):
    idx = bytes(b % (1 << mcs) for b in payload)
    assert bytes(gif.lzw_decode(mcs, gif.lzw_encode(mcs, idx))) == idx


def test_lzw_width_growth_and_table_overflow():
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 250, size=300_000, dtype=np.uint8).tobytes()
    assert bytes(gif.lzw_decode(8, gif.lzw_encode(8, idx))) == idx


def test_lzw_kwkwk_case():
    # 'aaaa...' forces the code==len(table) branch immediately
    idx = b"\x00" * 64
    assert bytes(gif.lzw_decode(2, gif.lzw_encode(2, idx))) == idx


# ----------------------------------------------------------- round trips ----


def test_roundtrip_gray_single_frame():
    rng = np.random.default_rng(42)
    f = rng.integers(0, 5, size=(13, 17), dtype=np.uint8) * 50
    dec = gif.decode_gif(gif.encode_gif(f))
    assert dec.shape == (1, 13, 17, 3)
    assert (dec[0] == np.repeat(f[:, :, None], 3, axis=2)).all()


def test_roundtrip_rgb_animation():
    rng = np.random.default_rng(1)
    frames = rng.integers(0, 4, size=(6, 9, 11, 3), dtype=np.uint8) * 60
    data = gif.encode_gif(frames)
    assert gif.gif_meta(data) == (11, 9, 3)
    assert gif.gif_frames_meta(data) == (11, 9, 6)
    assert (gif.decode_gif(data) == frames).all()


def test_roundtrip_256_color_boundary():
    pal = np.arange(256, dtype=np.uint8)
    f = np.stack([pal.reshape(16, 16)] * 3, axis=2)
    assert (gif.decode_gif(gif.encode_gif(f))[0] == f).all()


def test_encode_rejects_wide_palettes_and_bad_shapes():
    rng = np.random.default_rng(3)
    with pytest.raises(gif.GifError):
        gif.encode_gif(rng.integers(0, 256, size=(40, 40, 3), dtype=np.uint8))
    with pytest.raises(gif.GifError):
        gif.encode_gif(np.zeros((2, 2, 4), dtype=np.uint8))
    with pytest.raises(gif.GifError):
        gif.encode_gif(np.zeros((0, 4, 3), dtype=np.uint8))


# ------------------------------------------------- hand-built containers ----


def test_interlaced_decode():
    rng = np.random.default_rng(9)
    idx = rng.integers(0, 4, size=(11, 7), dtype=np.uint8)
    data = _build_gif(7, 11, _GCT4, [{"idx": idx, "interlaced": True}])
    expected = np.array(_GCT4, dtype=np.uint8)[idx]
    assert (gif.decode_gif(data)[0] == expected).all()


def test_subrect_frame_composites_over_canvas():
    base = np.full((4, 6), 1, dtype=np.uint8)
    patch = np.full((2, 3), 2, dtype=np.uint8)
    data = _build_gif(
        6, 4, _GCT4,
        [{"idx": base}, {"idx": patch, "left": 2, "top": 1}],
    )
    dec = gif.decode_gif(data)
    pal = np.array(_GCT4, dtype=np.uint8)
    exp1 = pal[base]
    exp2 = exp1.copy()
    exp2[1:3, 2:5] = pal[2]
    assert (dec[0] == exp1).all() and (dec[1] == exp2).all()


def test_transparency_shows_previous_frame():
    f1 = np.full((3, 3), 1, dtype=np.uint8)
    f2 = np.zeros((3, 3), dtype=np.uint8)  # index 0 = transparent
    f2[1, 1] = 2
    data = _build_gif(
        3, 3, _GCT4,
        [{"idx": f1}, {"idx": f2, "gce": {"transparent": 0}}],
    )
    dec = gif.decode_gif(data)
    pal = np.array(_GCT4, dtype=np.uint8)
    exp2 = pal[f1].copy()
    exp2[1, 1] = pal[2]
    assert (dec[1] == exp2).all()


def test_disposal_2_restores_background():
    f1 = np.full((3, 3), 1, dtype=np.uint8)
    f2 = np.zeros((3, 3), dtype=np.uint8)  # fully transparent frame
    data = _build_gif(
        3, 3, _GCT4,
        [
            {"idx": f1, "gce": {"disposal": 2}},
            {"idx": f2, "gce": {"transparent": 0}},
        ],
        bg=3,
    )
    dec = gif.decode_gif(data)
    pal = np.array(_GCT4, dtype=np.uint8)
    assert (dec[0] == pal[1]).all()       # frame 1 visible as drawn
    assert (dec[1] == pal[3]).all()       # then region restored to bg
    assert gif.gif_frames_meta(data) == (3, 3, 2)


def test_disposal_3_restores_previous_canvas():
    f1 = np.full((4, 4), 1, dtype=np.uint8)
    patch = np.full((2, 2), 2, dtype=np.uint8)
    f3 = np.zeros((4, 4), dtype=np.uint8)
    data = _build_gif(
        4, 4, _GCT4,
        [
            {"idx": f1},
            {"idx": patch, "left": 1, "top": 1, "gce": {"disposal": 3}},
            {"idx": f3, "gce": {"transparent": 0}},
        ],
    )
    dec = gif.decode_gif(data)
    pal = np.array(_GCT4, dtype=np.uint8)
    exp2 = pal[f1].copy()
    exp2[1:3, 1:3] = pal[2]
    assert (dec[1] == exp2).all()
    assert (dec[2] == pal[f1]).all()      # patch undone before frame 3


def test_malformed_gifs_raise():
    ok = gif.encode_gif(np.zeros((4, 4), dtype=np.uint8))
    for bad in (
        b"",
        b"GIF90a" + ok[6:],
        ok[:20],                           # truncated mid-stream
        ok[:-1],                           # missing trailer
    ):
        with pytest.raises(gif.GifError):
            gif.gif_frames_meta(bad) if len(bad) >= 13 else gif.gif_meta(bad)
    # frame outside the logical screen
    data = _build_gif(3, 3, _GCT4, [{"idx": np.zeros((3, 3), np.uint8), "left": 2}])
    with pytest.raises(gif.GifError):
        gif.decode_gif(data)
