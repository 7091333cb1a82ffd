"""WebP tests (core/webp.py): container metadata (headers hand-packed
by the test) and REAL VP8L lossless pixel decode — verified against
bitstreams bit-assembled independently by this file (simple and full
prefix codes, code-length repeats, max_symbol cap, LZ77 neighborhood
distances, color cache, meta prefix groups, and all four transforms)
plus encoder round-trips.  Lossy VP8 pixel decode stays out of scope
(boolean range coder) and must keep raising, never emit fake pixels."""

import struct

import numpy as np
import pytest

from privacy_crawler_parser_tokenizer_spark.core import webp


def _riff(*chunks):
    body = b"WEBP"
    for fcc, payload in chunks:
        body += fcc + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _vp8_chunk(w, h):
    # 3-byte frame tag (keyframe: bit0=0) + start code + 14-bit w/h
    return (b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF) + b"\x00" * 8)


def _vp8l_chunk(w, h, alpha=0):
    bits = (w - 1) | ((h - 1) << 14) | (alpha << 28)
    return b"\x2f" + struct.pack("<I", bits) + b"\x00" * 4


def _vp8x_chunk(w, h, alpha=False):
    flags = 0x10 if alpha else 0
    return (bytes((flags,)) + b"\x00\x00\x00"
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"))


def test_vp8_lossy_geometry():
    data = _riff((b"VP8 ", _vp8_chunk(320, 240)))
    assert webp.webp_meta(data) == (320, 240, 3)


def test_vp8l_lossless_geometry_and_alpha():
    assert webp.webp_meta(_riff((b"VP8L", _vp8l_chunk(17, 9)))) == (17, 9, 3)
    assert webp.webp_meta(_riff((b"VP8L", _vp8l_chunk(16383, 1, alpha=1)))) == (
        16383, 1, 4)


def test_vp8x_extended_canvas():
    data = _riff((b"VP8X", _vp8x_chunk(70000, 3, alpha=True)),
                 (b"VP8 ", _vp8_chunk(70000 & 0x3FFF, 3)))
    assert webp.webp_meta(data) == (70000, 3, 4)


def test_skips_leading_metadata_chunks():
    data = _riff((b"EXIF", b"\x01\x02\x03"), (b"VP8 ", _vp8_chunk(8, 6)))
    assert webp.webp_meta(data) == (8, 6, 3)


def test_rejects_garbage_truncation_and_interframe():
    good = _riff((b"VP8 ", _vp8_chunk(8, 6)))
    inter = b"\x01\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 8, 6)
    for bad in (b"", b"RIFF\x04\x00\x00\x00AVI ", good[:14],
                _riff((b"ALPH", b"\x00\x00")),
                _riff((b"VP8 ", b"\x00\x00\x00bad!" + b"\x00" * 6)),
                _riff((b"VP8 ", inter))):
        with pytest.raises(webp.WebpError):
            webp.webp_meta(bad)


# --------------------------------------------------------------------------
# VP8L pixel decode — hand-packed bitstreams (independent of the
# core encoder: every stream below is bit-assembled by this test)
# --------------------------------------------------------------------------

import numpy as np  # noqa: E402


class _W:
    """Test-local LSB-first bit assembler (prefix codes MSB-first)."""

    def __init__(self):
        self.bits = []

    def w(self, v, n):
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def code(self, c, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((c >> i) & 1)

    def payload(self):
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _vp8l_header(bw, w, h, alpha=0):
    bw.w(0x2F, 8)
    bw.w(w - 1, 14)
    bw.w(h - 1, 14)
    bw.w(alpha, 1)
    bw.w(0, 3)


def _simple1(bw, sym):
    """Single-symbol simple prefix code (decodes with zero bits)."""
    bw.w(1, 1)
    bw.w(0, 1)
    if sym <= 1:
        bw.w(0, 1)
        bw.w(sym, 1)
    else:
        bw.w(1, 1)
        bw.w(sym, 8)


def _simple2(bw, s0, s1):
    """Two-symbol simple code; canonical: min(s0,s1)->0, max->1."""
    bw.w(1, 1)
    bw.w(1, 1)
    if s0 <= 1:
        bw.w(0, 1)
        bw.w(s0, 1)
    else:
        bw.w(1, 1)
        bw.w(s0, 8)
    bw.w(s1, 8)


def _solid_group(bw, a, r, g, b):
    """Five codes (G,R,B,A,dist), all single-symbol -> zero data bits."""
    _simple1(bw, g)
    _simple1(bw, r)
    _simple1(bw, b)
    _simple1(bw, a)
    _simple1(bw, 0)


def test_vp8l_solid_simple_codes():
    bw = _W()
    _vp8l_header(bw, 2, 2)
    bw.w(0, 1)  # no transforms
    bw.w(0, 1)  # no color cache
    bw.w(0, 1)  # no meta prefix
    _solid_group(bw, a=255, r=9, g=8, b=7)
    px = webp.decode_vp8l(bw.payload())
    assert px.shape == (2, 2, 3)
    assert (px == np.array([9, 8, 7], np.uint8)).all()


def test_vp8l_lz77_neighborhood_distance():
    # 2x2: lit A, lit B, then copy(length=2, dist_code=1 -> (0,1) ->
    # dist = xsize) duplicates row 0 into row 1.
    bw = _W()
    _vp8l_header(bw, 2, 2)
    bw.w(0, 1)
    bw.w(0, 1)
    bw.w(0, 1)
    # green full code: lengths {10:1, 20:2, 257:2}; CL syms {1,2,17,18}
    # all CL length 2 -> canonical CL codes 1:00 2:01 17:10 18:11
    bw.w(0, 1)       # full form
    bw.w(1, 4)       # num_code_lengths = 5 (order: 17,18,0,1,2)
    for v in (2, 2, 0, 2, 2):
        bw.w(v, 3)
    bw.w(0, 1)       # no max_symbol cap
    bw.code(0b10, 2); bw.w(7, 3)     # 17: 10 zeros (syms 0-9)
    bw.code(0b00, 2)                 # sym 10 -> length 1
    bw.code(0b10, 2); bw.w(6, 3)     # 17: 9 zeros (syms 11-19)
    bw.code(0b01, 2)                 # sym 20 -> length 2
    bw.code(0b11, 2); bw.w(127, 7)   # 18: 138 zeros (syms 21-158)
    bw.code(0b11, 2); bw.w(87, 7)    # 18: 98 zeros (syms 159-256)
    bw.code(0b01, 2)                 # sym 257 (LZ77 length) -> length 2
    bw.code(0b11, 2); bw.w(11, 7)    # 18: 22 zeros (syms 258-279)
    _simple2(bw, 1, 3)               # red: A=1 B=3
    _simple2(bw, 2, 4)               # blue: A=2 B=4
    _simple1(bw, 255)                # alpha
    _simple1(bw, 0)                  # distance: sym 0 -> dist_code 1
    # data: canonical green codes: 10 -> 0 (1 bit), 20 -> 10, 257 -> 11
    bw.code(0b0, 1); bw.code(0, 1); bw.code(0, 1)     # lit A (g,r,b)
    bw.code(0b10, 2); bw.code(1, 1); bw.code(1, 1)    # lit B
    bw.code(0b11, 2)                                  # copy len 2
    px = webp.decode_vp8l(bw.payload())
    a, b = [1, 10, 2], [3, 20, 4]
    assert px.tolist() == [[a, b], [a, b]]


def test_vp8l_predictor_transform():
    # One 4px tile, mode 2 (T); borders force L/T/black per spec.
    bw = _W()
    _vp8l_header(bw, 2, 2)
    bw.w(1, 1); bw.w(0, 2)   # predictor transform
    bw.w(0, 3)               # size_bits = 2 -> single tile
    bw.w(0, 1)               # sub-image: no cache
    _solid_group(bw, a=0, r=0, g=2, b=0)   # mode 2 in green channel
    bw.w(0, 1)               # end transforms
    bw.w(0, 1); bw.w(0, 1)   # no cache / no meta
    _solid_group(bw, a=0, r=1, g=1, b=1)   # residuals all (0,1,1,1)
    px = webp.decode_vp8l(bw.payload())
    assert px.tolist() == [[[1, 1, 1], [2, 2, 2]],
                           [[2, 2, 2], [3, 3, 3]]]


def test_vp8l_color_transform():
    # green_to_red = 32 rides the BLUE channel of the transform pixel:
    # red' = red + (32 * green) >> 5 = red + green (for green < 128).
    bw = _W()
    _vp8l_header(bw, 2, 2)
    bw.w(1, 1); bw.w(1, 2)   # color transform
    bw.w(0, 3)               # single tile
    bw.w(0, 1)
    _solid_group(bw, a=0, r=0, g=0, b=32)
    bw.w(0, 1)
    bw.w(0, 1); bw.w(0, 1)
    _solid_group(bw, a=255, r=10, g=3, b=20)
    px = webp.decode_vp8l(bw.payload())
    assert (px == np.array([13, 3, 20], np.uint8)).all()


def test_vp8l_color_indexing_packs_subbyte_indices():
    # 2-color palette -> 8 one-bit indices packed into one green byte.
    bw = _W()
    _vp8l_header(bw, 8, 1)
    bw.w(1, 1); bw.w(3, 2)   # color-indexing transform
    bw.w(1, 8)               # 2 colors
    bw.w(0, 1)               # palette sub-image: no cache
    _simple2(bw, 20, 30)     # green deltas 20, 30
    _simple2(bw, 10, 30)     # red deltas 10, 30
    _simple1(bw, 30)         # blue deltas 30, 30
    _simple2(bw, 0, 255)     # alpha deltas 255, 0
    _simple1(bw, 0)          # distance
    # palette pixels: d0=(a255,r10,g20,b30), d1=(a0,r30,g30,b30)
    bw.code(0, 1); bw.code(0, 1); bw.code(1, 1)   # d0: g=20,r=10,a=255
    bw.code(1, 1); bw.code(1, 1); bw.code(0, 1)   # d1: g=30,r=30,a=0
    bw.w(0, 1)               # end transforms
    bw.w(0, 1); bw.w(0, 1)
    # packed spatial 1x1: green byte 0xB4 -> indices LSB-first
    _solid_group(bw, a=255, r=0, g=0xB4, b=0)
    px = webp.decode_vp8l(bw.payload())
    c0, c1 = [10, 20, 30], [40, 50, 60]   # palette after delta-decode
    want = [c0 if (0xB4 >> x) & 1 == 0 else c1 for x in range(8)]
    assert px.tolist() == [want]


def test_vp8l_color_cache():
    # lit P then a cache hit re-emitting P through the 1-bit cache.
    p_argb = 0xFF070509
    idx = ((0x1E35A7BD * p_argb) & 0xFFFFFFFF) >> 31
    bw = _W()
    _vp8l_header(bw, 2, 1)
    bw.w(0, 1)
    bw.w(1, 1); bw.w(1, 4)   # color cache, cache_bits = 1
    bw.w(0, 1)               # no meta
    # green full code over 282 syms: lengths {5:1, 280+idx:1};
    # CL syms {0,1,17,18} all length 2 -> canonical 0:00 1:01 17:10 18:11
    bw.w(0, 1)
    bw.w(0, 4)               # num_code_lengths = 4 (order: 17,18,0,1)
    for v in (2, 2, 2, 2):
        bw.w(v, 3)
    bw.w(0, 1)               # no cap
    bw.code(0b10, 2); bw.w(2, 3)       # 17: 5 zeros (syms 0-4)
    bw.code(0b01, 2)                   # sym 5 -> length 1
    bw.code(0b11, 2); bw.w(127, 7)     # 18: 138 zeros
    bw.code(0b11, 2); bw.w(125 + idx, 7)  # 18: 136+idx zeros
    bw.code(0b01, 2)                   # sym 280+idx -> length 1
    if idx == 0:
        bw.code(0b00, 2)               # one trailing zero (sym 281)
    _simple1(bw, 7)                    # red
    _simple1(bw, 9)                    # blue
    _simple1(bw, 255)                  # alpha
    _simple1(bw, 0)                    # distance
    bw.code(0, 1)                      # lit P (green 5; r/b/a 0-bit)
    bw.code(1, 1)                      # cache hit
    px = webp.decode_vp8l(bw.payload())
    assert px.tolist() == [[[7, 5, 9], [7, 5, 9]]]


def test_vp8l_code_length_repeat16_and_max_symbol():
    # greens 0..3 all length 2 via one 16-repeat; coded symbols capped
    # at 4 by the max_symbol field.
    bw = _W()
    _vp8l_header(bw, 4, 1)
    bw.w(0, 1)
    bw.w(0, 1); bw.w(0, 1)
    bw.w(0, 1)               # full form green code
    bw.w(15, 4)              # num_code_lengths = 19
    for i in range(19):      # order 17,18,0..16: only 2 and 16 used
        bw.w(1 if i in (4, 18) else 0, 3)
    bw.w(1, 1)               # max_symbol cap present
    bw.w(0, 3)               # length_nbits = 2
    bw.w(0, 2)               # max_symbol = 2: two CL reads (a repeat
    #                          counts as ONE read, matching libwebp)
    bw.code(0, 1)            # sym0: length 2  (CL canonical: 2->0, 16->1)
    bw.code(1, 1); bw.w(0, 2)  # 16: repeat length 2 three times (syms 1-3)
    _simple1(bw, 11)         # red
    _simple1(bw, 12)         # blue
    _simple1(bw, 255)        # alpha
    _simple1(bw, 0)          # distance
    for g in range(4):       # literals green 0..3, 2-bit codes
        bw.code(g, 2)
    px = webp.decode_vp8l(bw.payload())
    assert px.tolist() == [[[11, g, 12] for g in range(4)]]


def test_vp8l_meta_prefix_groups():
    # Two prefix groups selected by a 2x1 entropy image (4px tiles).
    bw = _W()
    _vp8l_header(bw, 8, 1)
    bw.w(0, 1)
    bw.w(0, 1)
    bw.w(1, 1); bw.w(0, 3)   # meta prefix, meta_bits = 2
    bw.w(0, 1)               # entropy sub-image: no cache
    _simple2(bw, 0, 1)       # green: group ids 0 / 1
    _simple1(bw, 0)          # red (high byte of group id)
    _simple1(bw, 0)          # blue
    _simple1(bw, 0)          # alpha
    _simple1(bw, 0)          # distance
    bw.code(0, 1); bw.code(1, 1)   # tiles: group 0 then group 1
    _solid_group(bw, a=255, r=50, g=60, b=70)     # group 0
    _solid_group(bw, a=255, r=80, g=90, b=100)    # group 1
    px = webp.decode_vp8l(bw.payload())
    assert px.tolist() == [[[50, 60, 70]] * 4 + [[80, 90, 100]] * 4]


def test_vp8l_rejects_incomplete_code_and_bad_version():
    bw = _W()
    _vp8l_header(bw, 2, 1)
    bw.bits[29] = 1          # version != 0
    with pytest.raises(webp.WebpError):
        webp.decode_vp8l(bw.payload())
    bw = _W()
    _vp8l_header(bw, 2, 1)
    bw.w(0, 1); bw.w(0, 1); bw.w(0, 1)
    bw.w(0, 1)               # full form with an over-subscribed code
    bw.w(0, 4)
    for v in (0, 0, 1, 1):   # lengths: syms 0,1 both length... CL code
        bw.w(v, 3)
    with pytest.raises(webp.WebpError):
        webp.decode_vp8l(bw.payload())


# --------------------------------------------------------------------------
# encoder round-trip (independent of the hand-packed streams above)
# --------------------------------------------------------------------------


def test_encode_decode_round_trip_matrix():
    rng = np.random.default_rng(7)
    for shape in [(1, 1, 3), (5, 7, 3), (8, 8, 4), (2, 20, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for kw in ({}, {"cache_bits": 4}, {"subtract_green": True},
                   {"rle": True},
                   {"cache_bits": 6, "subtract_green": True, "rle": True}):
            data = webp.encode_webp(img, **kw)
            out = webp.decode_webp(data)
            exp = img if (shape[2] == 4 and (img[..., 3] != 255).any()) \
                else img[..., :3]
            assert out.shape == exp.shape and (out == exp).all(), (shape, kw)
            assert webp.webp_meta(data)[:2] == (shape[1], shape[0])


def test_encode_decode_flat_runs_and_gradients():
    flat = np.full((12, 12, 3), 200, np.uint8)
    assert (webp.decode_webp(webp.encode_webp(flat, rle=True)) == flat).all()
    grad = np.zeros((4, 256, 3), np.uint8)
    grad[..., 0] = np.arange(256, dtype=np.uint8)
    grad[..., 1] = 255 - np.arange(256, dtype=np.uint8)
    for kw in ({}, {"subtract_green": True}, {"cache_bits": 8, "rle": True}):
        assert (webp.decode_webp(webp.encode_webp(grad, **kw)) == grad).all()


def test_lossy_vp8_pixel_decode_stays_labeled():
    with pytest.raises(webp.WebpError):
        webp.decode_webp(_riff((b"VP8 ", _vp8_chunk(8, 6))))


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 12), st.integers(1, 12), st.sampled_from([3, 4]),
    st.integers(0, 2**32 - 1), st.booleans(), st.booleans(),
    st.sampled_from([0, 2, 5]),
)
def test_vp8l_roundtrip_hypothesis(h, w, ch, seed, sub_green, rle, cache):
    rng = np.random.default_rng(seed)
    # low-entropy palette-ish images hit runs, cache hits and short codes
    px = rng.choice(
        rng.integers(0, 256, size=(4, ch), dtype=np.uint8), size=h * w
    ).reshape(h, w, ch).astype(np.uint8)
    data = webp.encode_webp(
        px, subtract_green=sub_green, rle=rle, cache_bits=cache
    )
    out = webp.decode_webp(data)
    exp = px if (ch == 4 and (px[..., 3] != 255).any()) else px[..., :3]
    assert np.array_equal(out, exp)


# --------------------------------------------------------------------------
# animated WebP (VP8X + ANIM + ANMF) — containers hand-assembled here
# --------------------------------------------------------------------------


def _vp8x_anim(w, h):
    return (b"\x02" + b"\x00\x00\x00"
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"))


def _anim_chunk():
    return b"\x00\x00\x00\x00" + b"\x00\x00"  # bg color + loop count


def _anmf(fx, fy, img, flags):
    payload = webp.encode_vp8l(img)
    fh, fw = img.shape[:2]
    head = ((fx // 2).to_bytes(3, "little") + (fy // 2).to_bytes(3, "little")
            + (fw - 1).to_bytes(3, "little") + (fh - 1).to_bytes(3, "little")
            + (10).to_bytes(3, "little") + bytes([flags]))
    sub = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        sub += b"\x00"
    return head + sub


def test_webp_frames_overwrite_and_dispose():
    red = np.zeros((4, 6, 3), np.uint8)
    red[..., 0] = 255
    patch = np.full((2, 2, 3), 77, np.uint8)
    dot = np.full((1, 1, 3), 33, np.uint8)
    data = _riff(
        (b"VP8X", _vp8x_anim(6, 4)),
        (b"ANIM", _anim_chunk()),
        (b"ANMF", _anmf(0, 0, red, flags=0x02)),          # overwrite all
        (b"ANMF", _anmf(2, 0, patch, flags=0x02 | 0x01)),  # + dispose
        (b"ANMF", _anmf(0, 2, dot, flags=0x02)),
    )
    frames = webp.webp_frames(data)
    assert frames.shape == (3, 4, 6, 4)
    assert (frames[0, :, :, 0] == 255).all() and (frames[0, :, :, 3] == 255).all()
    assert frames[1, 0, 2].tolist() == [77, 77, 77, 255]
    # dispose cleared the patch rect to transparent black before frame 3
    assert frames[2, 0, 2].tolist() == [0, 0, 0, 0]
    assert frames[2, 2, 0].tolist() == [33, 33, 33, 255]
    assert frames[2, 3, 5].tolist() == [255, 0, 0, 255]  # red survives


def test_webp_frames_alpha_blend_over():
    red = np.zeros((2, 2, 3), np.uint8)
    red[..., 0] = 255
    semi = np.zeros((1, 1, 4), np.uint8)
    semi[..., :3] = 255
    semi[..., 3] = 128
    data = _riff(
        (b"VP8X", _vp8x_anim(2, 2)),
        (b"ANIM", _anim_chunk()),
        (b"ANMF", _anmf(0, 0, red, flags=0x02)),
        (b"ANMF", _anmf(0, 0, semi, flags=0x00)),  # straight-alpha OVER
    )
    frames = webp.webp_frames(data)
    assert frames[1, 0, 0].tolist() == [255, 128, 128, 255]
    assert frames[1, 1, 1].tolist() == [255, 0, 0, 255]


def test_webp_frames_rejects_lossy_and_still():
    lossy_sub = b"VP8 " + struct.pack("<I", 20) + _vp8_chunk(2, 2) + b"\x00" * 2
    head = (b"\x00" * 6 + (1).to_bytes(3, "little") + (1).to_bytes(3, "little")
            + (10).to_bytes(3, "little") + b"\x02")
    data = _riff((b"VP8X", _vp8x_anim(2, 2)), (b"ANIM", _anim_chunk()),
                 (b"ANMF", head + lossy_sub[: 8 + 20]))
    with pytest.raises(webp.WebpError):
        webp.webp_frames(data)
    still = webp.encode_webp(np.zeros((2, 2, 3), np.uint8))
    with pytest.raises(webp.WebpError):
        webp.webp_frames(still)  # no VP8X/ANIM -> not an animation
    assert webp.decode_webp(still).shape == (2, 2, 3)  # still path intact


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(0, 200))
def test_vp8l_decoder_total_on_garbage(seed, nbytes):
    # codecs must fail CLOSED: any byte soup either decodes
    # or raises WebpError (ValueError) — never IndexError/struct.error.
    rng = np.random.default_rng(seed)
    tail = rng.integers(0, 256, size=nbytes, dtype=np.uint8).tobytes()
    header = b"\x2f" + struct.pack("<I", (7) | (7 << 14))
    for payload in (tail, header + tail):
        try:
            webp.decode_vp8l(payload)
        except webp.WebpError:
            pass
        try:
            webp.webp_frames(
                b"RIFF" + struct.pack("<I", len(payload) + 4) + b"WEBP" + payload
            )
        except webp.WebpError:
            pass


def test_encode_webp_anim_round_trip():
    fr = np.stack([np.full((5, 7, 3), v, np.uint8) for v in (10, 200, 90)])
    out = webp.webp_frames(webp.encode_webp_anim(fr))
    assert out.shape == (3, 5, 7, 4)
    assert (out[..., :3] == fr).all() and (out[..., 3] == 255).all()
    with pytest.raises(webp.WebpError):
        webp.encode_webp_anim(np.zeros((0, 2, 2, 3), np.uint8))


def test_vp8l_combined_transforms_inverse_order():
    # stream order [subtract-green, predictor] -> the decoder must
    # invert in REVERSE order: predictor first, then add-green.
    bw = _W()
    _vp8l_header(bw, 2, 2)
    bw.w(1, 1); bw.w(2, 2)       # transform: subtract green
    bw.w(1, 1); bw.w(0, 2)       # transform: predictor
    bw.w(0, 3)                   # size_bits = 2 -> one tile
    bw.w(0, 1)                   # sub-image: no cache
    _solid_group(bw, a=0, r=0, g=1, b=0)   # predictor mode 1 (L)
    bw.w(0, 1)                   # end transforms
    bw.w(0, 1); bw.w(0, 1)       # no cache / no meta
    _solid_group(bw, a=0, r=1, g=1, b=1)   # residuals (0,1,1,1)
    px = webp.decode_vp8l(bw.payload())
    # predictor-inverse: (0,0)=ff010101 (black base), (1,0)/(0,1)=
    # ff020202, (1,1)=ff030303; then add-green: r+=g, b+=g per pixel
    assert px.tolist() == [[[2, 1, 2], [4, 2, 4]],
                           [[4, 2, 4], [6, 3, 6]]]
