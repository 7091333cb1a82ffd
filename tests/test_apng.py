"""core/apng.py — APNG decode/encode verified against an independent
test-side chunk assembler (same discipline as the other codecs: the
writer here builds chunks by hand from the public spec, never through
the module under test's encoder, except in the explicit round-trip)."""

import struct
import zlib

import numpy as np
import pytest

from privacy_crawler_parser_tokenizer_spark.core import png
from privacy_crawler_parser_tokenizer_spark.core.apng import (
    ApngError,
    apng_meta,
    decode_apng,
    encode_apng,
)

# ------------------------------------------------- independent writer ----


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _z(frame: np.ndarray) -> bytes:
    """zlib'd filter-None scanlines for (h, w, ch) uint8."""
    h, w, ch = frame.shape
    rows = b"".join(b"\x00" + frame[y].tobytes() for y in range(h))
    return zlib.compress(rows)


def _assemble(w, h, color, frames, plays=0, plte=None):
    """frames: list of (fw, fh, fx, fy, dispose, blend, pixels).
    Frame 0 rides IDAT (fcTL before IDAT), the rest ride fdAT."""
    out = [png.SIGNATURE, _chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, 8, color, 0, 0, 0))]
    out.append(_chunk(b"acTL", struct.pack(">II", len(frames), plays)))
    if plte is not None:
        out.append(_chunk(b"PLTE", plte))
    seq = 0
    for i, (fw, fh, fx, fy, dispose, blend, px) in enumerate(frames):
        fctl = struct.pack(
            ">IIIIIHHBB", seq, fw, fh, fx, fy, 1, 10, dispose, blend
        )
        seq += 1
        out.append(_chunk(b"fcTL", fctl))
        if i == 0:
            out.append(_chunk(b"IDAT", _z(px)))
        else:
            out.append(_chunk(b"fdAT", struct.pack(">I", seq) + _z(px)))
            seq += 1
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def _rgba(r, g, b, a=255):
    return np.array([r, g, b, a], dtype=np.uint8)


# ------------------------------------------------------------- decode ----


def test_roundtrip_rgb():
    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, size=(5, 7, 9, 3), dtype=np.uint8)
    got = decode_apng(encode_apng(frames))
    assert got.shape == (5, 7, 9, 4)
    assert (got[:, :, :, :3] == frames).all()
    assert (got[:, :, :, 3] == 255).all()


def test_roundtrip_rgba_and_gray():
    rng = np.random.default_rng(4)
    rgba = rng.integers(0, 256, size=(3, 4, 5, 4), dtype=np.uint8)
    # full-canvas SOURCE frames: decode == input exactly
    assert (decode_apng(encode_apng(rgba)) == rgba).all()
    gray = rng.integers(0, 256, size=(2, 6, 3), dtype=np.uint8)
    got = decode_apng(encode_apng(gray))
    assert (got[:, :, :, 0] == gray).all() and (got[:, :, :, 1] == gray).all()


def test_meta():
    frames = np.zeros((4, 3, 8, 3), dtype=np.uint8)
    w, h, n = apng_meta(encode_apng(frames))
    assert (w, h, n) == (8, 3, 4)


def test_region_source_blend_and_dispose_none():
    base = np.broadcast_to(_rgba(200, 0, 0), (4, 4, 4)).copy()
    patch = np.broadcast_to(_rgba(0, 200, 0), (2, 2, 4)).copy()
    data = _assemble(4, 4, 6, [
        (4, 4, 0, 0, 0, 0, base),          # full canvas red
        (2, 2, 1, 1, 0, 0, patch),         # SOURCE patch at (1,1)
    ])
    got = decode_apng(data)
    assert (got[0] == base).all()
    want = base.copy()
    want[1:3, 1:3] = patch
    assert (got[1] == want).all()


def test_blend_over_alpha():
    base = np.broadcast_to(_rgba(100, 0, 0), (2, 2, 4)).copy()
    # half-transparent green OVER red
    patch = np.broadcast_to(_rgba(0, 100, 0, 128), (2, 2, 4)).copy()
    data = _assemble(2, 2, 6, [
        (2, 2, 0, 0, 0, 0, base),
        (2, 2, 0, 0, 0, 1, patch),
    ])
    got = decode_apng(data)
    sa = 128 / 255.0
    exp_r = round((0 * sa + 100 * 1.0 * (1 - sa)) / (sa + (1 - sa)))
    exp_g = round((100 * sa + 0 * (1 - sa)) / 1.0)
    assert got[1, 0, 0, 0] == exp_r
    assert got[1, 0, 0, 1] == exp_g
    assert got[1, 0, 0, 3] == 255


def test_dispose_background_clears_region():
    base = np.broadcast_to(_rgba(9, 9, 9), (3, 3, 4)).copy()
    patch = np.broadcast_to(_rgba(0, 0, 250), (1, 2, 4)).copy()
    tail = np.broadcast_to(_rgba(50, 50, 50), (1, 1, 4)).copy()
    data = _assemble(3, 3, 6, [
        (3, 3, 0, 0, 0, 0, base),
        (2, 1, 0, 0, 1, 0, patch.reshape(1, 2, 4)),  # dispose BACKGROUND
        (1, 1, 2, 2, 0, 0, tail),
    ])
    got = decode_apng(data)
    # frame 1 shows the patch; frame 2's canvas has the region cleared
    assert (got[1][0, 0] == _rgba(0, 0, 250)).all()
    assert (got[2][0, 0] == _rgba(0, 0, 0, 0)).all()
    assert (got[2][0, 1] == _rgba(0, 0, 0, 0)).all()
    assert (got[2][1, 1] == _rgba(9, 9, 9)).all()  # untouched
    assert (got[2][2, 2] == _rgba(50, 50, 50)).all()


def test_dispose_previous_reverts_region():
    base = np.broadcast_to(_rgba(7, 7, 7), (3, 3, 4)).copy()
    patch = np.broadcast_to(_rgba(255, 0, 0), (2, 2, 4)).copy()
    tail = np.broadcast_to(_rgba(0, 255, 0), (1, 1, 4)).copy()
    data = _assemble(3, 3, 6, [
        (3, 3, 0, 0, 0, 0, base),
        (2, 2, 1, 1, 2, 0, patch),           # dispose PREVIOUS
        (1, 1, 0, 0, 0, 0, tail),
    ])
    got = decode_apng(data)
    assert (got[1][1, 1] == _rgba(255, 0, 0)).all()
    # frame 2: patch region reverted to base
    assert (got[2][1, 1] == _rgba(7, 7, 7)).all()
    assert (got[2][0, 0] == _rgba(0, 255, 0)).all()


def test_plain_png_rejected():
    still = png.encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ApngError):
        decode_apng(still)
    # and decode_png still works after the decode_idat refactor
    assert png.decode_png(still).shape == (2, 2, 3)


def test_frame_count_and_sequence_validation():
    base = np.zeros((2, 2, 4), dtype=np.uint8)
    good = _assemble(2, 2, 6, [(2, 2, 0, 0, 0, 0, base)])
    assert decode_apng(good).shape == (1, 2, 2, 4)
    # acTL frame count lies
    bad = good.replace(
        _chunk(b"acTL", struct.pack(">II", 1, 0)),
        _chunk(b"acTL", struct.pack(">II", 2, 0)),
    )
    with pytest.raises(ApngError):
        decode_apng(bad)


def test_frame_out_of_bounds_rejected():
    base = np.zeros((2, 2, 4), dtype=np.uint8)
    data = _assemble(2, 2, 6, [(2, 2, 1, 1, 0, 0, base)])  # 2x2 at (1,1) in 2x2
    with pytest.raises(ApngError):
        decode_apng(data)


# ------------------------------------------------- spark-side sampling ----
