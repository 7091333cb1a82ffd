"""Pure-stdlib WebP: container metadata + REAL lossless (VP8L) decode.

Geometry is plain header arithmetic in all three chunk variants, so
``webp_meta`` reports REAL dimensions/alpha for every webp:

- ``VP8 `` (lossy): 3-byte frame tag, keyframe start code 9D 01 2A,
  then 14-bit width/height (little-endian u16, low 14 bits).
- ``VP8L`` (lossless): signature byte 0x2F, then 14-bit width-1 /
  height-1 + alpha bit packed LSB-first.
- ``VP8X`` (extended): flag byte (alpha bit 0x10), then 24-bit
  little-endian canvas width-1 / height-1.

``decode_webp`` additionally implements the full VP8L lossless
bitstream (the public "WebP Lossless Bitstream Specification"):
LSB-first bit reading, canonical prefix codes (both the 1-/2-symbol
simple form and the full form with its 19-symbol code-length code,
16/17/18 repeat symbols and the optional max_symbol cap), meta prefix
groups via a recursively coded entropy image, the color cache
(0x1e35a7bd multiplicative hash), LZ77 backward references with the
120-entry 2D neighborhood distance map, and all four inverse
transforms: 14-mode predictor, cross-channel color transform,
subtract-green, and color-indexing with sub-byte packed indices.
``encode_vp8l`` is a deliberately small independent writer (literals +
optional run-length LZ77 / color cache / subtract-green) used by the
round-trip tests; the decoder is
additionally verified against hand-packed bitstreams built by the test
suite, not by this module.  Lossy VP8 pixel decode (boolean range
coder + loop filter) stays out of scope and raises ``WebpError``.

Kernel-module rules apply: plain Python, no Spark imports.
"""

from __future__ import annotations

import struct

import numpy as np


class WebpError(ValueError):
    pass


from .png import MAX_DECODE_PIXELS  # shared executor-memory DoS guard


def webp_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_channels) from the first image-bearing chunk."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise WebpError("not a RIFF WEBP file")
    riff_end = min(8 + struct.unpack_from("<I", data, 4)[0], len(data))
    pos = 12
    while pos + 8 <= riff_end:
        fcc = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = pos + 8
        if body + size > riff_end:
            raise WebpError(f"chunk {fcc!r} overruns the container")
        chunk = data[body : body + size]
        if fcc == b"VP8 ":
            return _vp8_meta(chunk)
        if fcc == b"VP8L":
            return _vp8l_meta(chunk)
        if fcc == b"VP8X":
            return _vp8x_meta(chunk)
        pos = body + size + (size & 1)
    raise WebpError("no VP8/VP8L/VP8X chunk")


def _vp8_meta(chunk: bytes) -> tuple[int, int, int]:
    if len(chunk) < 10:
        raise WebpError("short VP8 chunk")
    if chunk[0] & 0x01:  # frame tag bit 0: 0 = keyframe (carries geometry)
        raise WebpError("VP8 interframe carries no geometry")
    if chunk[3:6] != b"\x9d\x01\x2a":
        raise WebpError("bad VP8 keyframe start code")
    width = struct.unpack_from("<H", chunk, 6)[0] & 0x3FFF
    height = struct.unpack_from("<H", chunk, 8)[0] & 0x3FFF
    if width == 0 or height == 0:
        raise WebpError("zero VP8 geometry")
    return width, height, 3


def _vp8l_meta(chunk: bytes) -> tuple[int, int, int]:
    if len(chunk) < 5:
        raise WebpError("short VP8L chunk")
    if chunk[0] != 0x2F:
        raise WebpError("bad VP8L signature")
    bits = struct.unpack_from("<I", chunk, 1)[0]
    width = (bits & 0x3FFF) + 1
    height = ((bits >> 14) & 0x3FFF) + 1
    alpha = (bits >> 28) & 0x1
    return width, height, 4 if alpha else 3


def _vp8x_meta(chunk: bytes) -> tuple[int, int, int]:
    if len(chunk) < 10:
        raise WebpError("short VP8X chunk")
    alpha = chunk[0] & 0x10
    width = int.from_bytes(chunk[4:7], "little") + 1
    height = int.from_bytes(chunk[7:10], "little") + 1
    return width, height, 4 if alpha else 3


# --------------------------------------------------------------------------
# VP8L lossless bitstream decode
# --------------------------------------------------------------------------

#: Code-length symbols are transmitted in this fixed order (spec §5.2.2).
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

#: Distance codes 1..120 map to a 2D neighborhood offset (dx, dy) with
#: dist = dy * xsize + dx (spec §4.2.2); codes > 120 are plain distances.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (7, 1), (-7, 1), (2, 7), (-2, 7),
    (7, 2), (-7, 2), (4, 6), (-4, 6), (6, 4), (-6, 4), (5, 5), (-5, 5),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

_HASH_MUL = 0x1E35A7BD  # color-cache multiplicative hash (spec §4.2.3)


def _div_ceil(a: int, b: int) -> int:
    return -(-a // b)


class _BitReader:
    """LSB-first bit reader over a bytes payload (spec §3)."""

    __slots__ = ("data", "nbits", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.nbits = 8 * len(data)
        self.pos = 0

    def read(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise WebpError("bitstream truncated")
        v = 0
        pos = self.pos
        for i in range(n):
            p = pos + i
            v |= ((self.data[p >> 3] >> (p & 7)) & 1) << i
        self.pos = pos + n
        return v

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise WebpError("bitstream truncated")
        b = (self.data[self.pos >> 3] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


class _Prefix:
    """Canonical prefix code (DEFLATE-convention code assignment; codes
    are read MSB-first from the LSB-first bitstream)."""

    __slots__ = ("table", "single")

    def __init__(self, lengths):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise WebpError("empty prefix code")
        if len(nz) == 1:
            # a lone symbol is coded with zero bits (spec §5.2.1)
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        if any(l > 15 for l, _ in nz):
            raise WebpError("prefix code length > 15")
        kraft = sum(1 << (15 - l) for l, _ in nz)
        if kraft != 1 << 15:
            raise WebpError("prefix code not complete")
        bl_count = [0] * 16
        for l, _ in nz:
            bl_count[l] += 1
        next_code = [0] * 16
        code = 0
        for l in range(1, 16):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        table = {}
        for l, s in sorted(nz):
            table[(l, next_code[l])] = s
            next_code[l] += 1
        self.table = table

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        table = self.table
        for n in range(1, 16):
            acc = (acc << 1) | br.read_bit()
            sym = table.get((n, acc))
            if sym is not None:
                return sym
        raise WebpError("invalid prefix code word")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Prefix:
    """One prefix code: simple (1-2 symbols) or full form (spec §5.2.2)."""
    if br.read_bit():  # simple
        num_symbols = br.read_bit() + 1
        first_8bits = br.read_bit()
        sym0 = br.read(8 if first_8bits else 1)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:
            raise WebpError("simple-code symbol out of range")
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size or sym1 == sym0:
                raise WebpError("bad simple-code second symbol")
            lengths[sym0] = lengths[sym1] = 1
        else:
            lengths[sym0] = 1  # built as a zero-bit single-symbol code
        return _Prefix(lengths)
    # full form: code lengths are themselves prefix-coded
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _Prefix(cl_lengths)
    if br.read_bit():  # optional cap on coded symbols
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev_len = cl
        elif cl == 16:
            rep, fill = 3 + br.read(2), prev_len
            if symbol + rep > alphabet_size:
                raise WebpError("code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[symbol] = fill
                symbol += 1
        else:
            rep = (3 + br.read(3)) if cl == 17 else (11 + br.read(7))
            if symbol + rep > alphabet_size:
                raise WebpError("code-length repeat overruns alphabet")
            symbol += rep
    return _Prefix(lengths)


def _lz77_value(sym: int, br: _BitReader) -> int:
    """Length/distance prefix symbol -> value (+ extra bits, spec §4.2.2)."""
    if sym < 4:
        return sym + 1
    extra_bits = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


def _decode_spatial(br: _BitReader, xsize: int, ysize: int,
                    level0: bool) -> list[int]:
    """Entropy-coded ARGB image (scanline order) -> list of uint32."""
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebpError("bad color-cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read_bit():  # meta prefix groups (spec §5.2.3)
        meta_bits = br.read(3) + 2
        mw = _div_ceil(xsize, 1 << meta_bits)
        mh = _div_ceil(ysize, 1 << meta_bits)
        mimg = _decode_spatial(br, mw, mh, False)
        meta = [(px >> 8) & 0xFFFF for px in mimg]
        n_groups = max(meta) + 1
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),   # red
            _read_prefix_code(br, 256),   # blue
            _read_prefix_code(br, 256),   # alpha
            _read_prefix_code(br, 40),    # distance
        ))
    n = xsize * ysize
    out = [0] * n
    pos = 0
    mrow_w = _div_ceil(xsize, 1 << meta_bits) if meta is not None else 0
    g_code = r_code = b_code = a_code = d_code = None
    cur_group = -1
    while pos < n:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            g = meta[(y >> meta_bits) * mrow_w + (x >> meta_bits)]
            if g >= n_groups:
                raise WebpError("meta prefix index out of range")
        else:
            g = 0
        if g != cur_group:
            g_code, r_code, b_code, a_code, d_code = groups[g]
            cur_group = g
        s = g_code.read(br)
        if s < 256:  # literal: G, then R, B, A
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_bits:
                cache[((_HASH_MUL * px) & 0xFFFFFFFF) >> cache_shift] = px
        elif s < 280:  # LZ77 backward reference
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(d_code.read(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise WebpError("LZ77 reference out of bounds")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                pos += 1
                if cache_bits:
                    cache[((_HASH_MUL * px) & 0xFFFFFFFF) >> cache_shift] = px
        else:  # color-cache hit
            idx = s - 280
            if cache is None or idx >= len(cache):
                raise WebpError("color-cache index without cache")
            out[pos] = cache[idx]
            pos += 1
    return out


def _avg2(a: int, b: int) -> int:
    """Per-channel floor((a + b) / 2) on packed ARGB."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _add_px(a: int, b: int) -> int:
    """Per-channel (a + b) mod 256 on packed ARGB."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _channels(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _select(t: int, l: int, tl: int) -> int:
    """Predictor 11 (spec §4.2.1): pick L or T by gradient magnitude."""
    score = 0
    for (ca, cb, cc) in zip(_channels(t), _channels(l), _channels(tl)):
        score += abs(cb - cc) - abs(ca - cc)
    return t if score <= 0 else l


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    px = 0
    for shift in (24, 16, 8, 0):
        v = ((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)
        px |= (0 if v < 0 else 255 if v > 255 else v) << shift
    return px


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    px = 0
    for shift in (24, 16, 8, 0):
        a = (ave >> shift) & 0xFF
        b = (tl >> shift) & 0xFF
        v = a + int((a - b) / 2)  # C-style truncation toward zero
        px |= (0 if v < 0 else 255 if v > 255 else v) << shift
    return px


def _predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise WebpError(f"bad predictor mode {mode}")


def _inv_predictor(px: list[int], w: int, h: int, bits: int,
                   timg: list[int]) -> None:
    """In-place inverse predictor transform.  1D indexing makes the
    borders behave exactly as the spec requires (TR of the rightmost
    pixel is the leftmost reconstructed pixel of the same row)."""
    tw = _div_ceil(w, 1 << bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[pos - 1]
        elif x == 0:
            pred = px[pos - w]
        else:
            mode = (timg[(y >> bits) * tw + (x >> bits)] >> 8) & 0xFF
            pred = _predict(mode, px[pos - 1], px[pos - w],
                            px[pos - w - 1], px[pos - w + 1])
        px[pos] = _add_px(px[pos], pred)


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: both operands as signed int8 (spec §4.2.1)."""
    return (_s8(t) * _s8(c)) >> 5


def _inv_color_transform(px: list[int], w: int, h: int, bits: int,
                         timg: list[int]) -> None:
    tw = _div_ceil(w, 1 << bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        cte = timg[(y >> bits) * tw + (x >> bits)]
        g2r = cte & 0xFF           # blue channel of the transform pixel
        g2b = (cte >> 8) & 0xFF    # green channel
        r2b = (cte >> 16) & 0xFF   # red channel
        v = px[pos]
        green = (v >> 8) & 0xFF
        red = ((v >> 16) & 0xFF) + _ct_delta(g2r, green)
        blue = (v & 0xFF) + _ct_delta(g2b, green)
        blue += _ct_delta(r2b, red & 0xFF)
        px[pos] = (v & 0xFF00FF00) | ((red & 0xFF) << 16) | (blue & 0xFF)


def _inv_subtract_green(px: list[int]) -> None:
    for pos, v in enumerate(px):
        g = (v >> 8) & 0xFF
        red = (((v >> 16) & 0xFF) + g) & 0xFF
        blue = ((v & 0xFF) + g) & 0xFF
        px[pos] = (v & 0xFF00FF00) | (red << 16) | blue


def _inv_color_index(px: list[int], w: int, h: int, width_bits: int,
                     palette: list[int]) -> list[int]:
    """Packed palette indices (green channel) -> full-width ARGB."""
    packed_w = _div_ceil(w, 1 << width_bits)
    bpp = 8 >> width_bits
    mask = (1 << bpp) - 1
    out = [0] * (w * h)
    for y in range(h):
        row = y * packed_w
        orow = y * w
        for x in range(w):
            green = (px[row + (x >> width_bits)] >> 8) & 0xFF
            idx = (green >> ((x & ((1 << width_bits) - 1)) * bpp)) & mask
            out[orow + x] = palette[idx] if idx < len(palette) else 0
    return out


def decode_vp8l(chunk: bytes) -> np.ndarray:
    """VP8L chunk payload -> uint8 pixel array (h, w, 3|4).

    Channel count follows the header's alpha-hint bit, mirroring
    ``webp_meta``'s geometry contract."""
    w, h, alpha = _vp8l_meta(chunk)
    if w * h > MAX_DECODE_PIXELS:
        raise WebpError(f"implausible geometry {w}x{h}")
    br = _BitReader(chunk)
    br.read(8)   # signature
    br.read(28)  # 14-bit w-1 / 14-bit h-1
    br.read(1)   # alpha hint
    if br.read(3) != 0:
        raise WebpError("bad VP8L version")
    transforms = []
    seen_types = set()
    xsize = w
    while br.read_bit():
        ttype = br.read(2)
        if ttype in seen_types:
            raise WebpError("duplicate VP8L transform")
        seen_types.add(ttype)
        if ttype in (0, 1):  # predictor / color transform
            bits = br.read(3) + 2
            timg = _decode_spatial(br, _div_ceil(xsize, 1 << bits),
                                   _div_ceil(h, 1 << bits), False)
            transforms.append((ttype, bits, timg, xsize))
        elif ttype == 2:  # subtract green
            transforms.append((2, 0, None, xsize))
        else:  # color indexing
            n_colors = br.read(8) + 1
            deltas = _decode_spatial(br, n_colors, 1, False)
            palette = []
            prev = 0
            for d in deltas:  # palette entries are per-channel deltas
                prev = _add_px(prev, d)
                palette.append(prev)
            width_bits = (3 if n_colors <= 2 else 2 if n_colors <= 4
                          else 1 if n_colors <= 16 else 0)
            transforms.append((3, width_bits, palette, xsize))
            xsize = _div_ceil(xsize, 1 << width_bits)
    px = _decode_spatial(br, xsize, h, True)
    for ttype, bits, data, t_xsize in reversed(transforms):
        if ttype == 0:
            _inv_predictor(px, t_xsize, h, bits, data)
        elif ttype == 1:
            _inv_color_transform(px, t_xsize, h, bits, data)
        elif ttype == 2:
            _inv_subtract_green(px)
        else:
            px = _inv_color_index(px, t_xsize, h, bits, data)
    arr = np.asarray(px, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., 0] = (arr >> 16) & 0xFF
    rgba[..., 1] = (arr >> 8) & 0xFF
    rgba[..., 2] = arr & 0xFF
    rgba[..., 3] = (arr >> 24) & 0xFF
    return rgba if alpha == 4 else rgba[..., :3].copy()


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF WEBP bytes -> uint8 pixels (VP8L only; lossy VP8 raises)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise WebpError("not a RIFF WEBP file")
    riff_end = min(8 + struct.unpack_from("<I", data, 4)[0], len(data))
    pos = 12
    while pos + 8 <= riff_end:
        fcc = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = pos + 8
        if body + size > riff_end:
            raise WebpError(f"chunk {fcc!r} overruns the container")
        if fcc == b"VP8L":
            return decode_vp8l(data[body : body + size])
        if fcc == b"VP8 ":
            raise WebpError("lossy VP8 pixel decode unsupported")
        pos = body + size + (size & 1)
    raise WebpError("no VP8L chunk")


# --------------------------------------------------------------------------
# VP8L lossless encode (minimal independent writer)
# --------------------------------------------------------------------------

class _BitWriter:
    """LSB-first bit writer; prefix-code words go out MSB-first."""

    __slots__ = ("buf", "acc", "nacc")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nacc
        self.nacc += n
        while self.nacc >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nacc -= 8

    def write_code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.nacc:
            out.append(self.acc & 0xFF)
        return bytes(out)


def _huffman_lengths(freq: dict, cap: int) -> dict:
    """Code lengths for symbols with freq > 0, depth-limited to ``cap``
    by count-flattening retries (converges to a balanced tree)."""
    syms = sorted(s for s, c in freq.items() if c > 0)
    if not syms:
        raise WebpError("empty histogram")
    if len(syms) == 1:
        return {syms[0]: 1}  # stated length 1; coded with zero bits
    counts = {s: freq[s] for s in syms}
    while True:
        depth = _huffman_depths(counts)
        if max(depth.values()) <= cap:
            return depth
        counts = {s: (c + 1) // 2 for s, c in counts.items()}


def _huffman_depths(counts: dict) -> dict:
    import heapq

    heap = [(c, s, [s]) for s, c in sorted(counts.items())]
    heapq.heapify(heap)
    depth = {s: 0 for s in counts}
    while len(heap) > 1:
        c1, t1, m1 = heapq.heappop(heap)
        c2, t2, m2 = heapq.heappop(heap)
        for s in m1 + m2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, min(t1, t2), m1 + m2))
    return depth


def _canonical_codes(lengths: dict) -> dict:
    """(sym -> length) -> (sym -> (code, nbits)); single symbol -> 0 bits."""
    if len(lengths) == 1:
        return {next(iter(lengths)): (0, 0)}
    bl_count = [0] * 16
    for l in lengths.values():
        bl_count[l] += 1
    next_code = [0] * 16
    code = 0
    for l in range(1, 16):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    codes = {}
    for l, s in sorted((l, s) for s, l in lengths.items()):
        codes[s] = (next_code[l], l)
        next_code[l] += 1
    return codes


def _cl_position(v: int) -> int:
    return 0 if v == 17 else 1 if v == 18 else v + 2


def _write_prefix_code(bw: _BitWriter, hist: dict, alphabet_size: int) -> dict:
    """Emit one prefix code for ``hist`` and return sym -> (code, nbits)."""
    used = sorted(s for s, c in hist.items() if c > 0)
    if not used:
        used, hist = [0], {0: 1}  # unused code: 1-symbol placeholder
    if len(used) <= 2 and used[-1] <= 255:  # simple form
        bw.write(1, 1)
        bw.write(len(used) - 1, 1)
        if used[0] <= 1:
            bw.write(0, 1)
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    lengths = _huffman_lengths({s: hist[s] for s in used}, 15)
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    last_nz = max(s for s in range(alphabet_size) if full[s] > 0)
    coded = full[: last_nz + 1]
    cl_hist = {}
    for l in coded:
        cl_hist[l] = cl_hist.get(l, 0) + 1
    cl_lengths = _huffman_lengths(cl_hist, 7)
    cl_codes = _canonical_codes(cl_lengths)
    num_cl = max(4, max(_cl_position(v) for v in cl_lengths) + 1)
    bw.write(0, 1)  # full form
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    if last_nz + 1 < alphabet_size:
        bw.write(1, 1)  # cap coded symbols at last_nz + 1
        nbits = 2
        while (last_nz + 1 - 2) >> nbits:
            nbits += 2
        bw.write((nbits - 2) // 2, 3)
        bw.write(last_nz + 1 - 2, nbits)
    else:
        bw.write(0, 1)
    for l in coded:
        code, n = cl_codes[l]
        bw.write_code(code, n)
    return _canonical_codes(lengths)


def _lz77_sym(value: int) -> tuple[int, int, int]:
    """value -> (prefix symbol, extra-bit count, extra bits)."""
    if value <= 4:
        return value - 1, 0, 0
    x = value - 1
    eb = x.bit_length() - 2
    if x < (3 << eb):
        return 2 * eb + 2, eb, x - (2 << eb)
    return 2 * eb + 3, eb, x - (3 << eb)


def encode_vp8l(pixels: np.ndarray, *, cache_bits: int = 0,
                subtract_green: bool = False, rle: bool = False) -> bytes:
    """uint8 array (h, w), (h, w, 3) or (h, w, 4) -> VP8L chunk payload.

    Literal coding with optional run-length LZ77 (left-pixel runs via
    the 2D neighborhood distance map), color cache, and subtract-green
    transform — a small but spec-complete subset, lossless by the
    round-trip tests."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[..., None].repeat(3, axis=2)
    if px.ndim != 3 or px.shape[2] not in (1, 3, 4):
        raise WebpError(f"unsupported array shape {px.shape}")
    if px.shape[2] == 1:  # grayscale column (e.g. decoded 1-ch JPEG)
        px = px.repeat(3, axis=2)
    h, w, c = px.shape
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise WebpError("geometry out of VP8L range")
    alpha = px[..., 3].astype(np.uint32) if c == 4 else np.full((h, w), 255, np.uint32)
    alpha_used = c == 4 and bool((px[..., 3] != 255).any())
    argb = ((alpha << 24)
            | (px[..., 0].astype(np.uint32) << 16)
            | (px[..., 1].astype(np.uint32) << 8)
            | px[..., 2].astype(np.uint32)).ravel().tolist()
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if alpha_used else 0, 1)
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # transform type: subtract green
        for i, v in enumerate(argb):
            g = (v >> 8) & 0xFF
            red = (((v >> 16) & 0xFF) - g) & 0xFF
            blue = ((v & 0xFF) - g) & 0xFF
            argb[i] = (v & 0xFF00FF00) | (red << 16) | blue
    bw.write(0, 1)  # end of transforms
    # tokenize (mirrors decoder cache/copy state exactly)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    tokens = []
    n = len(argb)
    i = 0
    while i < n:
        if rle and i > 0:
            run = 0
            prev = argb[i - 1]
            while i + run < n and argb[i + run] == prev and run < 4096:
                run += 1
            if run >= 3:
                tokens.append(("copy", run))
                if cache_bits:
                    for j in range(i, i + run):
                        v = argb[j]
                        cache[((_HASH_MUL * v) & 0xFFFFFFFF) >> cache_shift] = v
                i += run
                continue
        v = argb[i]
        if cache_bits:
            idx = ((_HASH_MUL * v) & 0xFFFFFFFF) >> cache_shift
            if cache[idx] == v:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = v
        tokens.append(("lit", v))
        i += 1
    # histograms over the exact symbol streams
    g_hist, r_hist, b_hist, a_hist, d_hist = {}, {}, {}, {}, {}

    def _bump(hst, s):
        hst[s] = hst.get(s, 0) + 1

    for kind, val in tokens:
        if kind == "lit":
            a8, r8, g8, b8 = _channels(val)
            _bump(g_hist, g8)
            _bump(r_hist, r8)
            _bump(b_hist, b8)
            _bump(a_hist, a8)
        elif kind == "copy":
            _bump(g_hist, 256 + _lz77_sym(val)[0])
            _bump(d_hist, _lz77_sym(2)[0])  # dist_code 2 = left neighbor
        else:
            _bump(g_hist, 280 + val)
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta prefix groups
    g_codes = _write_prefix_code(bw, g_hist, green_alpha)
    r_codes = _write_prefix_code(bw, r_hist, 256)
    b_codes = _write_prefix_code(bw, b_hist, 256)
    a_codes = _write_prefix_code(bw, a_hist, 256)
    d_codes = _write_prefix_code(bw, d_hist, 40)
    for kind, val in tokens:
        if kind == "lit":
            a8, r8, g8, b8 = _channels(val)
            bw.write_code(*g_codes[g8])
            bw.write_code(*r_codes[r8])
            bw.write_code(*b_codes[b8])
            bw.write_code(*a_codes[a8])
        elif kind == "copy":
            sym, eb, extra = _lz77_sym(val)
            bw.write_code(*g_codes[256 + sym])
            if eb:
                bw.write(extra, eb)
            dsym, deb, dextra = _lz77_sym(2)
            bw.write_code(*d_codes[dsym])
            if deb:
                bw.write(dextra, deb)
        else:
            bw.write_code(*g_codes[280 + val])
    return bw.bytes()


def encode_webp(pixels: np.ndarray, **kwargs) -> bytes:
    """uint8 pixel array -> RIFF WEBP container with one VP8L chunk."""
    chunk = encode_vp8l(pixels, **kwargs)
    body = b"WEBPVP8L" + struct.pack("<I", len(chunk)) + chunk
    if len(chunk) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _to_rgba(px: np.ndarray) -> np.ndarray:
    if px.shape[2] == 4:
        return px
    out = np.empty((*px.shape[:2], 4), dtype=np.uint8)
    out[..., :3] = px
    out[..., 3] = 255
    return out


def webp_frames(data: bytes) -> np.ndarray:
    """Animated WebP (VP8X + ANIM + ANMF with VP8L frame payloads) ->
    uint8 (n_frames, canvas_h, canvas_w, 4) RGBA.

    Frames composite onto an initially transparent canvas per the ANMF
    flags — bit 1: blend method (0 = straight-alpha OVER, 1 =
    overwrite), bit 0: dispose (1 = clear the frame rect to
    transparent black afterwards, matching libwebp's WebPAnimDecoder).
    Lossy (VP8) animation frames raise ``WebpError`` — the caller's
    labeled undecodable path, never fake pixels."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise WebpError("not a RIFF WEBP file")
    riff_end = min(8 + struct.unpack_from("<I", data, 4)[0], len(data))
    pos = 12
    canvas_wh = None
    anim_seen = False
    frames = []
    while pos + 8 <= riff_end:
        fcc = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = pos + 8
        if body + size > riff_end:
            raise WebpError(f"chunk {fcc!r} overruns the container")
        chunk = data[body : body + size]
        if fcc == b"VP8X":
            if len(chunk) < 10:
                raise WebpError("short VP8X chunk")
            if not chunk[0] & 0x02:
                raise WebpError("VP8X without the animation flag")
            canvas_wh = (int.from_bytes(chunk[4:7], "little") + 1,
                         int.from_bytes(chunk[7:10], "little") + 1)
        elif fcc == b"ANIM":
            anim_seen = True
        elif fcc == b"ANMF":
            if len(chunk) < 16:
                raise WebpError("short ANMF chunk")
            fx = int.from_bytes(chunk[0:3], "little") * 2
            fy = int.from_bytes(chunk[3:6], "little") * 2
            fw = int.from_bytes(chunk[6:9], "little") + 1
            fh = int.from_bytes(chunk[9:12], "little") + 1
            flags = chunk[15]
            sub = 16
            px = None
            while sub + 8 <= len(chunk):
                sfcc = chunk[sub : sub + 4]
                ssize = struct.unpack_from("<I", chunk, sub + 4)[0]
                sbody = sub + 8
                if sbody + ssize > len(chunk):
                    raise WebpError("ANMF subchunk overruns the frame")
                if sfcc == b"VP8L":
                    px = decode_vp8l(chunk[sbody : sbody + ssize])
                    break
                if sfcc == b"VP8 ":
                    raise WebpError("lossy VP8 animation frame unsupported")
                sub = sbody + ssize + (ssize & 1)
            if px is None:
                raise WebpError("ANMF frame without VP8L payload")
            if px.shape[:2] != (fh, fw):
                raise WebpError("ANMF geometry disagrees with frame bitstream")
            frames.append((fx, fy, fw, fh, flags, _to_rgba(px)))
        pos = body + size + (size & 1)
    if canvas_wh is None or not anim_seen:
        raise WebpError("not an animated WebP (need VP8X + ANIM)")
    if not frames:
        raise WebpError("animated WebP without ANMF frames")
    cw, ch_ = canvas_wh
    if cw * ch_ > MAX_DECODE_PIXELS:
        raise WebpError(f"implausible canvas {cw}x{ch_}")
    canvas = np.zeros((ch_, cw, 4), dtype=np.uint8)
    out = []
    for fx, fy, fw, fh, flags, sub in frames:
        if fx + fw > cw or fy + fh > ch_:
            raise WebpError("ANMF frame outside the canvas")
        region = canvas[fy : fy + fh, fx : fx + fw]
        if flags & 0x02:  # blend method 1: overwrite
            region[:] = sub
        else:  # straight-alpha OVER (same math as core/apng.py)
            sa = sub[:, :, 3:4].astype(np.float32) / 255.0
            da = region[:, :, 3:4].astype(np.float32) / 255.0
            oa = sa + da * (1.0 - sa)
            rgb = (sub[:, :, :3].astype(np.float32) * sa
                   + region[:, :, :3].astype(np.float32) * da * (1.0 - sa))
            safe = np.where(oa == 0.0, 1.0, oa)
            region[:, :, :3] = np.clip(rgb / safe + 0.5, 0, 255).astype(np.uint8)
            region[:, :, 3] = np.clip(oa[:, :, 0] * 255.0 + 0.5, 0, 255).astype(np.uint8)
        if (len(out) + 1) * cw * ch_ > MAX_DECODE_PIXELS:
            raise WebpError("animation exceeds the decode pixel budget")
        out.append(canvas.copy())
        if flags & 0x01:  # dispose to background: transparent black
            canvas[fy : fy + fh, fx : fx + fw] = 0
    return np.stack(out)


def encode_webp_anim(frames: np.ndarray, **kwargs) -> bytes:
    """uint8 (n, h, w) or (n, h, w, c) -> animated WebP container:
    full-canvas ANMF frames (blend=overwrite, dispose=none) carrying
    VP8L payloads — the round-trip writer for tests and oracle-gated
    frame-sampling (mirrors ``apng.encode_apng``'s role)."""
    px = np.asarray(frames, dtype=np.uint8)
    if px.ndim == 3:
        px = px[..., None].repeat(3, axis=3)
    if px.ndim != 4 or px.shape[0] == 0:
        raise WebpError(f"unsupported frame array shape {px.shape}")
    n, h, w = px.shape[:3]
    body = b"WEBP"
    vp8x = (b"\x02" + b"\x00" * 3
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"))
    body += b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    anim = b"\x00\x00\x00\x00" + b"\x00\x00"  # bg color + loop count
    body += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for i in range(n):
        payload = encode_vp8l(px[i], **kwargs)
        head = (b"\x00" * 6  # frame x, y = 0 (full canvas)
                + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
                + (10).to_bytes(3, "little")  # duration ms
                + b"\x02")  # flags: overwrite blend, no dispose
        sub = b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            sub += b"\x00"
        anmf = head + sub
        body += b"ANMF" + struct.pack("<I", len(anmf)) + anmf
        if len(anmf) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body
