"""Pure-stdlib baseline JPEG codec (decode / encode / metadata).

Baseline sequential DCT JPEG (ITU-T T.81 / JFIF), implemented from
the public spec.

Decoder supports: SOF0 (baseline), SOF1, and PROGRESSIVE SOF2 —
multi-scan spectral selection + successive approximation per T.81
§G.1.2 (DC first/refine, AC first/refine, EOB runs, point
transforms) with coefficients accumulated across scans; 8-bit
samples, 1- or 3-component (grayscale / YCbCr with any sampling
factors up to 4), Huffman and quant tables read from the stream,
restart intervals, byte stuffing.  Anything else raises
``JpegError``.

Encoders write: baseline 4:4:4 (or single-component grayscale) via
``encode_jpeg``, and progressive SOF2 via ``encode_jpeg_progressive``
(scan script covering all four progressive scan kinds) — both with
Annex K quantization tables scaled by the IJG quality formula and
fixed valid Huffman tables EMBEDDED in DHT segments.  Both encoders
quantize identically, so baseline and progressive encodes of one
image must decode to IDENTICAL pixels — the cross-codec equality the
tests assert.

The 2-D DCT uses the orthonormal DCT-II matrix (F = C f C^T,
f = C^T F C); tests verify it against a brute-force cosine sum.

Kernel-module rules apply: plain Python + numpy, no Spark imports.
"""

from __future__ import annotations

import functools
import struct

import numpy as np


class JpegError(ValueError):
    pass


from .png import MAX_DECODE_PIXELS  # shared executor-memory DoS guard


def _guarded(fn):
    """Malformed input shows up as IndexError/struct.error deep in the
    bit/marker readers — surface it uniformly as JpegError."""

    @functools.wraps(fn)
    def inner(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (IndexError, struct.error) as exc:
            raise JpegError(f"malformed stream: {exc}") from exc

    return inner


# --------------------------------------------------------- constants


def _zigzag_order() -> np.ndarray:
    """Zigzag scan positions generated from the diagonal walk (not
    recited): entry k is the row-major index of the k-th coefficient."""
    order = []
    for s in range(15):
        ij = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            ij = ij[::-1]  # even diagonals run bottom-left -> top-right
        order.extend(i * 8 + j for i, j in ij)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K luminance / chrominance quantization tables (row-major)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Encoder Huffman tables: valid by Kraft construction (12 DC symbols at
# length 4: 12/16 <= 1; 162 AC symbols at length 8: 162/256 <= 1).
# Deliberately uniform-length — DHT is embedded in the stream, so the
# decoder never assumes these; only validity matters, not optimality.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]

_DCT_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _DCT_C[_u, _x] = np.cos((2 * _x + 1) * _u * np.pi / 16) * (
            np.sqrt(1 / 8) if _u == 0 else 0.5
        )


def dct2(block: np.ndarray) -> np.ndarray:
    """Orthonormal 2-D DCT-II of an 8x8 block."""
    return _DCT_C @ block @ _DCT_C.T


def idct2(coeffs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`dct2`."""
    return _DCT_C.T @ coeffs @ _DCT_C


# ------------------------------------------------------ Huffman codes


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical construction."""
    if sum(bits) != len(vals):
        raise JpegError("BITS/HUFFVAL length mismatch")
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >> length:
                raise JpegError("huffman code overflow")
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol lookup for bit-serial decoding."""
    return {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, vals).items()
    }


# ---------------------------------------------------------- bit I/O


class _BitReader:
    """MSB-first reader over an entropy-coded segment with 0xFF00 byte
    stuffing already intact (handled here); stops at any marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise JpegError("marker inside entropy data")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> None:
        """Drop partial byte and step over an RST marker if present."""
        self.bitbuf = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("invalid huffman code")


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nacc += length
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nacc:
            pad = 8 - self.nacc
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `size`-bit magnitude to signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ----------------------------------------------------------- parsing


_SOF_BASELINE = (0xC0, 0xC1)
_SOF_ALL = tuple(
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
)


def _segments(data: bytes):
    """Yield (marker, body_start, body_end) for header segments; stops
    at SOS (whose body_end is where entropy data begins) or EOI."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("bad SOI")
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise JpegError("marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", data, pos + 2)
        body_start, body_end = pos + 4, pos + 2 + length
        if body_end > n:
            raise JpegError("truncated segment")
        yield marker, body_start, body_end
        if marker == 0xDA:  # SOS: entropy data follows
            return
        pos = body_end
    raise JpegError("missing SOS/EOI")


@_guarded
def jpeg_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the SOF header (any DCT SOF —
    metadata works even for progressive files the decoder rejects)."""
    for marker, s, e in _segments(data):
        if marker in _SOF_ALL:
            _prec, h, w, nc = struct.unpack_from(">BHHB", data, s)
            if w == 0 or h == 0:
                raise JpegError("zero dimension")
            return int(w), int(h), int(nc)
    raise JpegError("no SOF")


# ----------------------------------------------------------- decoder


def _dc_first(reader, dc_tbl, zz, pred, ci, al):
    size = reader.decode_symbol(dc_tbl)
    pred[ci] += _extend(reader.read_bits(size), size)
    zz[0] = pred[ci] << al


def _dc_refine(reader, zz, al):
    # libjpeg semantics: OR the new bit into the two's-complement coef
    if reader.read_bit():
        zz[0] |= 1 << al


def _ac_first(reader, ac_tbl, zz, ss, se, al, state):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = reader.decode_symbol(ac_tbl)
        run, sz = rs >> 4, rs & 0xF
        if sz == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            eob = (1 << run) - 1
            if run:
                eob += reader.read_bits(run)
            state["eobrun"] = eob  # excludes the current (now ended) block
            break
        k += run
        if k > se:
            raise JpegError("AC run past spectral end")
        zz[k] = _extend(reader.read_bits(sz), sz) << al
        k += 1


def _ac_refine(reader, ac_tbl, zz, ss, se, al, state):
    """T.81 G.1.2.3 successive-approximation AC refinement: correction
    bits for history-nonzero coefficients, insertion of newly
    significant +-1<<Al ones (the correction bit is read BEFORE the
    already-set test — bit consumption is unconditional)."""
    p1, m1 = 1 << al, -1 << al
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        for k in range(ss, se + 1):
            c = int(zz[k])
            if c != 0 and reader.read_bit() and (c & p1) == 0:
                zz[k] = c + (p1 if c > 0 else m1)
        return
    k = ss
    while k <= se:
        rs = reader.decode_symbol(ac_tbl)
        run, sz = rs >> 4, rs & 0xF
        val = 0
        if sz == 0:
            if run < 15:  # EOBn: finish this block as corrections only
                eob = (1 << run) - 1
                if run:
                    eob += reader.read_bits(run)
                state["eobrun"] = eob
                run = 64
        elif sz == 1:
            val = p1 if reader.read_bit() else m1
        else:
            raise JpegError("bad AC refinement size")
        while k <= se:
            c = int(zz[k])
            if c != 0:
                if reader.read_bit() and (c & p1) == 0:
                    zz[k] = c + (p1 if c > 0 else m1)
            else:
                if run == 0:
                    if val:
                        zz[k] = val
                    k += 1
                    break
                run -= 1
            k += 1


def _next_marker(data, p):
    n = len(data)
    while p + 1 < n:
        if data[p] == 0xFF:
            m = data[p + 1]
            if m == 0x00 or 0xD0 <= m <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    raise JpegError("missing post-scan marker")


def _decode_scan(data, start, sel, comps, coefs, ss, se, ah, al,
                 ri, htables, progressive, geom):
    """Entropy-decode one scan into the coefficient arrays; returns the
    stream position of the next marker."""
    mcus_x, mcus_y = geom
    reader = _BitReader(data, start)
    pred = {ci: 0 for ci, _, _ in sel}
    state = {"eobrun": 0}

    def unit(ci, td, ta, by, bx):
        zz = coefs[ci][by, bx]
        if not progressive:  # full-spectrum sequential DC+AC
            dc_tbl = htables.get((0, td))
            ac_tbl = htables.get((1, ta))
            if dc_tbl is None or ac_tbl is None:
                raise JpegError("missing huffman table")
            size = reader.decode_symbol(dc_tbl)
            pred[ci] += _extend(reader.read_bits(size), size)
            zz[0] = pred[ci]
            k = 1
            while k < 64:
                rs = reader.decode_symbol(ac_tbl)
                run, sz = rs >> 4, rs & 0xF
                if sz == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += run
                if k > 63:
                    raise JpegError("AC run past block end")
                zz[k] = _extend(reader.read_bits(sz), sz)
                k += 1
        elif ss == 0:
            if ah == 0:
                dc_tbl = htables.get((0, td))
                if dc_tbl is None:
                    raise JpegError("missing huffman table")
                _dc_first(reader, dc_tbl, zz, pred, ci, al)
            else:
                _dc_refine(reader, zz, al)
        else:
            ac_tbl = htables.get((1, ta))
            if ac_tbl is None:
                raise JpegError("missing huffman table")
            if ah == 0:
                _ac_first(reader, ac_tbl, zz, ss, se, al, state)
            else:
                _ac_refine(reader, ac_tbl, zz, ss, se, al, state)

    units = 0
    if len(sel) > 1:  # interleaved MCU scan
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if ri and units and units % ri == 0:
                    reader.align_to_marker()
                    pred = {ci: 0 for ci, _, _ in sel}
                    state["eobrun"] = 0
                for ci, td, ta in sel:
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            unit(ci, td, ta, my * c["v"] + by,
                                 mx * c["h"] + bx)
                units += 1
    else:  # non-interleaved: the component's own ceil(dim/8) grid
        ci, td, ta = sel[0]
        c = comps[ci]
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                if ri and units and units % ri == 0:
                    reader.align_to_marker()
                    pred = {ci: 0}
                    state["eobrun"] = 0
                unit(ci, td, ta, by, bx)
                units += 1
    return _next_marker(data, reader.pos)


@_guarded
def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 array (h, w, c), c in {1, 3} (grayscale or
    RGB via the JFIF YCbCr transform).

    Handles baseline (SOF0/SOF1) files and PROGRESSIVE (SOF2)
    multi-scan files: coefficients accumulate across scans — DC
    first/refine, AC first/refine with spectral selection, successive
    approximation and EOB runs per T.81 §G.1.2 — then dequantize +
    IDCT once at the end.  Non-interleaved scans cover each
    component's own ceil(dim/8) block grid; restart intervals reset
    predictors and EOB runs in every scan kind."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("bad SOI")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    sof = None
    comps = None
    progressive = False
    coefs = None
    geom = None
    seen_scan = False
    pos = 2
    n = len(data)
    while True:
        if pos + 2 > n:
            raise JpegError("missing EOI")
        if data[pos] != 0xFF:
            raise JpegError("marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", data, pos + 2)
        s, e = pos + 4, pos + 2 + length
        if e > n:
            raise JpegError("truncated segment")
        if marker == 0xDB:  # DQT
            p = s
            while p < e:
                pq, tq = data[p] >> 4, data[p] & 0xF
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(data, np.uint8, 64, p).astype(np.int64)
                    p += 64
                else:
                    tbl = np.frombuffer(data, ">u2", 64, p).astype(np.int64)
                    p += 128
                qtables[tq] = tbl
        elif marker == 0xC4:  # DHT
            p = s
            while p < e:
                tc, th = data[p] >> 4, data[p] & 0xF
                bits = list(data[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(data[p + 17 : p + 17 + nv])
                htables[(tc, th)] = _decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", data, s)
        elif marker in _SOF_ALL:
            if marker not in _SOF_BASELINE and marker != 0xC2:
                raise JpegError(f"unsupported SOF marker 0xFF{marker:02X}")
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", data, s)
            if prec != 8:
                raise JpegError(f"unsupported precision {prec}")
            if w == 0 or h == 0:
                raise JpegError("zero dimension")
            if nc not in (1, 3):
                raise JpegError(f"unsupported component count {nc}")
            if h * w > MAX_DECODE_PIXELS:
                raise JpegError(f"implausible geometry {w}x{h}")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", data, s + 6 + 3 * i)
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            for c in comps:
                if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
                    raise JpegError("bad sampling factors")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            coefs = []
            for c in comps:
                cw = -(-(w * c["h"]) // hmax)   # component width (ceil)
                ch_ = -(-(h * c["v"]) // vmax)  # component height (ceil)
                c["bw"] = -(-cw // 8)
                c["bh"] = -(-ch_ // 8)
                coefs.append(
                    np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), np.int64)
                )
            sof = (h, w, nc, hmax, vmax)
            geom = (mcus_x, mcus_y)
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise JpegError("SOS before SOF")
            ns = data[s]
            sel = []
            for i in range(ns):
                cs, tt = data[s + 1 + 2 * i], data[s + 2 + 2 * i]
                ci = next(
                    (j for j, c in enumerate(comps) if c["id"] == cs), None
                )
                if ci is None:
                    raise JpegError("scan selects unknown component")
                sel.append((ci, tt >> 4, tt & 0xF))
            p2 = s + 1 + 2 * ns
            ss, se, ahal = data[p2], data[p2 + 1], data[p2 + 2]
            ah, al = ahal >> 4, ahal & 0xF
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise JpegError("bad sequential scan header")
            if progressive:
                if ss == 0 and se != 0:
                    raise JpegError("progressive DC scan must have Se=0")
                if ss > 0 and (len(sel) != 1 or ss > se or se > 63):
                    raise JpegError("bad progressive AC scan header")
            pos = _decode_scan(
                data, e, sel, comps, coefs, ss, se, ah, al,
                restart_interval, htables, progressive, geom,
            )
            seen_scan = True
            continue
        # APPn / COM / unknown length-bearing segments skip via e
        pos = e

    if sof is None or not seen_scan:
        raise JpegError("missing SOF/SOS")
    h, w, nc, hmax, vmax = sof
    for c in comps:
        if c["tq"] not in qtables:
            raise JpegError("missing quant table")
        c["q"] = qtables[c["tq"]]

    planes = []
    for c, cf in zip(comps, coefs):
        plane = np.zeros((cf.shape[0] * 8, cf.shape[1] * 8), np.float64)
        for by in range(cf.shape[0]):
            for bx in range(cf.shape[1]):
                zz = cf[by, bx]
                block = np.zeros(64, dtype=np.int64)
                block[ZIGZAG] = zz * c["q"]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = idct2(
                    block.reshape(8, 8).astype(np.float64)
                )
        if c["h"] != hmax or c["v"] != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
            )
        planes.append(plane[:h, :w] + 128.0)

    if nc == 1:
        rgb = planes[0][:, :, None]
    else:
        y, cb, cr = planes
        cb = cb - 128.0
        cr = cr - 128.0
        rgb = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=2,
        )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ----------------------------------------------------------- encoder


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QUANT_LUMA, QUANT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    qtable: np.ndarray,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    coeffs = dct2(block.astype(np.float64) - 128.0)
    q = np.round(coeffs.reshape(64) / qtable).astype(np.int64)
    zz = q[ZIGZAG]
    dc = int(zz[0])
    diff = dc - pred
    size = int(abs(diff)).bit_length()
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
    k = 1
    while k <= last_nz:
        run = 0
        while zz[k] == 0:
            run += 1
            k += 1
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        v = int(zz[k])
        size = abs(v).bit_length()
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << size) - 1, size)
        k += 1
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    """uint8 (h, w), (h, w, 1) or (h, w, 3) -> baseline JFIF bytes
    (4:4:4, tables embedded)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise JpegError(f"unsupported array shape {px.shape}")
    h, w, nc = px.shape
    if h == 0 or w == 0:
        raise JpegError("zero dimension")

    qluma, qchroma = _quality_tables(quality)
    if nc == 3:
        f = px.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        qtabs = [qluma, qchroma, qchroma]
        qsel = [0, 1, 1]
    else:
        planes = [px[:, :, 0].astype(np.float64)]
        qtabs = [qluma]
        qsel = [0]

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    bh, bw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = []
    for plane in planes:
        p = np.empty((bh, bw), dtype=np.float64)
        p[:h, :w] = plane
        p[h:, :w] = plane[-1:, :]  # edge-replicate padding
        p[:, w:] = p[:, w - 1 : w]
        padded.append(p)

    writer = _BitWriter()
    pred = [0] * nc
    for my in range(bh // 8):
        for mx in range(bw // 8):
            for ci in range(nc):
                block = padded[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                pred[ci] = _encode_block(
                    writer, block, qtabs[ci], pred[ci], dc_codes, ac_codes
                )
    entropy = writer.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tq, tbl in enumerate([qluma, qchroma][: max(qsel) + 1]):
        body = bytes([tq]) + bytes(int(v) for v in tbl[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += struct.pack(">BBB", ci + 1, 0x11, qsel[ci])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
    sos = bytes([nc])
    for ci in range(nc):
        sos += struct.pack(">BB", ci + 1, 0x00)
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------- progressive encoder


def _trunc_shift(v: int, al: int) -> int:
    """AC point transform: magnitude shift, rounding toward zero."""
    return (v >> al) if v >= 0 else -((-v) >> al)


def _emit_ac_first_block(writer, ac_codes, vals, ss, se):
    nz = [k for k in range(ss, se + 1) if vals[k]]
    if not nz:
        code, length = ac_codes[0x00]
        writer.write(code, length)
        return
    last = nz[-1]
    k = ss
    while k <= last:
        run = 0
        while vals[k] == 0:
            run += 1
            k += 1
        while run > 15:
            code, length = ac_codes[0xF0]
            writer.write(code, length)
            run -= 16
        v = int(vals[k])
        size = abs(v).bit_length()
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << size) - 1, size)
        k += 1
    if last < se:
        code, length = ac_codes[0x00]
        writer.write(code, length)


def _emit_ac_refine_block(writer, ac_codes, full, approx, ss, se):
    """Mirror of ``_ac_refine``: emit rs, then the sign bit (for
    insertions), then the correction bits the decoder's advance loop
    will consume in positional order."""
    k = ss
    while k <= se:
        run = 0
        pending = []
        target = None
        j = k
        while j <= se:
            if approx[j] != 0:
                pending.append(abs(int(full[j])) & 1)
            elif full[j] != 0:
                target = j
                break
            else:
                run += 1
                if run == 16:
                    break
            j += 1
        if run == 16 and target is None:  # ZRL: 16 zero-history coefs
            code, length = ac_codes[0xF0]
            writer.write(code, length)
            for bit in pending:
                writer.write(bit, 1)
            k = j + 1
            continue
        if target is None:  # rest of block: corrections only
            code, length = ac_codes[0x00]
            writer.write(code, length)
            for bit in pending:
                writer.write(bit, 1)
            return
        code, length = ac_codes[(run << 4) | 1]
        writer.write(code, length)
        writer.write(1 if full[target] > 0 else 0, 1)
        for bit in pending:
            writer.write(bit, 1)
        k = target + 1


def encode_jpeg_progressive(pixels: np.ndarray, quality: int = 90) -> bytes:
    """uint8 (h, w), (h, w, 1) or (h, w, 3) -> PROGRESSIVE (SOF2) JFIF
    bytes, 4:4:4, with the scan script [interleaved DC first Al=1]
    [DC refine Al=0] then per component [AC 1-63 first Al=1]
    [AC 1-63 refine Al=0] — every progressive scan kind is exercised.
    Quantized coefficients are identical to ``encode_jpeg`` at the same
    quality, so baseline and progressive encodes of one image decode to
    IDENTICAL pixels (the cross-codec equality test)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise JpegError(f"unsupported array shape {px.shape}")
    h, w, nc = px.shape
    if h == 0 or w == 0:
        raise JpegError("zero dimension")

    qluma, qchroma = _quality_tables(quality)
    if nc == 3:
        f = px.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        qtabs = [qluma, qchroma, qchroma]
        qsel = [0, 1, 1]
    else:
        planes = [px[:, :, 0].astype(np.float64)]
        qtabs = [qluma]
        qsel = [0]

    bh, bw = -(-h // 8), -(-w // 8)
    coefs = []
    for plane, q in zip(planes, qtabs):
        p = np.empty((bh * 8, bw * 8), dtype=np.float64)
        p[:h, :w] = plane
        p[h:, :w] = plane[-1:, :]
        p[:, w:] = p[:, w - 1 : w]
        cz = np.empty((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                qq = np.round(
                    dct2(block - 128.0).reshape(64) / q
                ).astype(np.int64)
                cz[by, bx] = qq[ZIGZAG]
        coefs.append(cz)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    def sos(sel, ss, se, ah, al):
        body = bytes([len(sel)])
        for cid, td, ta in sel:
            body += struct.pack(">BB", cid, (td << 4) | ta)
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tq, tbl in enumerate([qluma, qchroma][: max(qsel) + 1]):
        body = bytes([tq]) + bytes(int(v) for v in tbl[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    sofseg = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sofseg += struct.pack(">BBB", ci + 1, 0x11, qsel[ci])
    out += b"\xff\xc2" + struct.pack(">H", len(sofseg) + 2) + sofseg
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)

    # scan 1: DC first (Al=1), interleaved over all components
    out += sos([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 0, 1)
    wtr = _BitWriter()
    pred = [0] * nc
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                dc1 = int(coefs[ci][by, bx, 0]) >> 1  # arithmetic shift
                diff = dc1 - pred[ci]
                pred[ci] = dc1
                size = abs(diff).bit_length()
                code, length = dc_codes[size]
                wtr.write(code, length)
                if size:
                    wtr.write(
                        diff if diff >= 0 else diff + (1 << size) - 1, size
                    )
    out += wtr.flush()

    # scan 2: DC refine (Ah=1, Al=0) — raw bits, no huffman table
    out += sos([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 1, 0)
    wtr = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                wtr.write(int(coefs[ci][by, bx, 0]) & 1, 1)
    out += wtr.flush()

    for ci in range(nc):
        # AC first (Al=1) then AC refine (Ah=1, Al=0), one component each
        out += sos([(ci + 1, 0, 0)], 1, 63, 0, 1)
        wtr = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                vals = [
                    _trunc_shift(int(v), 1) for v in coefs[ci][by, bx]
                ]
                _emit_ac_first_block(wtr, ac_codes, vals, 1, 63)
        out += wtr.flush()

        out += sos([(ci + 1, 0, 0)], 1, 63, 1, 0)
        wtr = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                full = coefs[ci][by, bx]
                approx = [_trunc_shift(int(v), 1) for v in full]
                _emit_ac_refine_block(wtr, ac_codes, full, approx, 1, 63)
        out += wtr.flush()

    out += b"\xff\xd9"
    return bytes(out)
