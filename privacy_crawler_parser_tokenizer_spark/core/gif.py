"""Pure-stdlib GIF (87a/89a) codec: decode / encode / frame metadata.

GIF is a real multi-frame animation container expressible without
external libraries (LZW + palettes, no DCT, no entropy ranges).

Supported: GIF87a/GIF89a, global + local color tables, interlaced
images, graphic-control extensions (transparency, disposal methods
0-3), any sub-block layout, NETSCAPE/application/comment extensions
(skipped).  Frames are composited per the 89a spec onto an RGB canvas
(disposal 2 restores the background color, 3 restores the prior
canvas).  Anything structurally invalid raises ``GifError``.

Encoder: GIF89a with one global color table built from the frames'
unique colors (≤256 or ``GifError``).

Kernel-module rules apply: plain Python + numpy, no Spark imports.
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    pass


# ---------------------------------------------------------------- LZW ----

_MAX_CODE_WIDTH = 12


def lzw_decode(min_code_size: int, data: bytes) -> bytearray:
    """GIF-variant LZW: variable width LSB-first codes -> index stream."""
    if not 2 <= min_code_size <= 11:
        raise GifError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        return [bytes((i,)) for i in range(clear)] + [b"", b""]

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise GifError(f"LZW code {code} out of range")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < _MAX_CODE_WIDTH:
                    width += 1
            prev = entry
    return out  # missing end code: tolerated like mainstream decoders


def lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Index stream -> GIF LZW bytes (always emits leading clear + end)."""
    if not 2 <= min_code_size <= 11:
        raise GifError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    run = b""
    for b in indices:
        cand = run + bytes((b,))
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < _MAX_CODE_WIDTH:
            width += 1
        if next_code == (1 << _MAX_CODE_WIDTH):
            emit(clear)
            table = {bytes((i,)): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = bytes((b,))
    if run:
        emit(table[run])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ------------------------------------------------------------- parsing ----

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _color_table(data: bytes, pos: int, flag_field: int) -> tuple[np.ndarray | None, int]:
    if not flag_field & 0x80:
        return None, pos
    n = 2 << (flag_field & 0x07)
    raw = data[pos : pos + 3 * n]
    if len(raw) != 3 * n:
        raise GifError("truncated color table")
    return np.frombuffer(raw, dtype=np.uint8).reshape(n, 3).copy(), pos + 3 * n


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        if pos >= len(data):
            raise GifError("truncated sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        chunk = data[pos : pos + n]
        if len(chunk) != n:
            raise GifError("truncated sub-block")
        chunks.append(chunk)
        pos += n


def _header(data: bytes):
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("bad GIF signature")
    width, height, flags, bg_index, _aspect = struct.unpack_from("<HHBBB", data, 6)
    if width == 0 or height == 0:
        raise GifError("zero logical screen size")
    gct, pos = _color_table(data, 13, flags)
    return width, height, gct, bg_index, pos


def _walk(data: bytes):
    """Yield ('gce', payload) / ('image', descriptor-dict) events."""
    width, height, gct, bg_index, pos = _header(data)
    while pos < len(data):
        marker = data[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            return
        if marker == 0x21:  # extension
            if pos >= len(data):
                raise GifError("truncated extension")
            label = data[pos]
            payload, pos = _subblocks(data, pos + 1)
            if label == 0xF9:
                yield "gce", payload
            continue
        if marker == 0x2C:  # image descriptor
            if pos + 9 > len(data):
                raise GifError("truncated image descriptor")
            left, top, fw, fh, flags = struct.unpack_from("<HHHHB", data, pos)
            pos += 9
            lct, pos = _color_table(data, pos, flags)
            if pos >= len(data):
                raise GifError("missing LZW data")
            mcs = data[pos]
            lzw, pos = _subblocks(data, pos + 1)
            if fw == 0 or fh == 0 or left + fw > width or top + fh > height:
                raise GifError("frame outside logical screen")
            yield "image", {
                "left": left, "top": top, "w": fw, "h": fh,
                "interlaced": bool(flags & 0x40), "lct": lct,
                "mcs": mcs, "lzw": lzw,
            }
            continue
        raise GifError(f"unknown block marker 0x{marker:02x}")
    raise GifError("missing trailer")


def gif_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_channels=3) from the logical screen descriptor."""
    width, height, _gct, _bg, _pos = _header(data)
    return width, height, 3


def gif_frames_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) — walks the container, skips pixel work."""
    width, height, _gct, _bg, _pos = _header(data)
    n = sum(1 for kind, _ in _walk(data) if kind == "image")
    if n == 0:
        raise GifError("no image blocks")
    return width, height, n


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]
    out = np.empty_like(rows)
    out[order] = rows
    return out


from .png import MAX_DECODE_PIXELS  # shared executor-memory DoS guard


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> uint8 array (n_frames, height, width, 3), frames
    composited per the 89a disposal/transparency rules."""
    width, height, gct, bg_index, _pos = _header(data)
    if width * height > MAX_DECODE_PIXELS:
        raise GifError(f"implausible canvas {width}x{height}")
    budget = MAX_DECODE_PIXELS  # TOTAL output (frames x canvas) budget
    if gct is not None and bg_index < len(gct):
        bg = gct[bg_index]
    else:
        bg = np.zeros(3, dtype=np.uint8)
    canvas = np.broadcast_to(bg, (height, width, 3)).astype(np.uint8).copy()
    frames = []
    disposal, transparent = 0, None
    for kind, item in _walk(data):
        if kind == "gce":
            if len(item) < 4:
                raise GifError("short graphic-control extension")
            flags = item[0]
            disposal = (flags >> 2) & 0x07
            transparent = item[3] if flags & 0x01 else None
            continue
        palette = item["lct"] if item["lct"] is not None else gct
        if palette is None:
            raise GifError("frame has no color table")
        idx = np.frombuffer(
            lzw_decode(item["mcs"], item["lzw"]), dtype=np.uint8
        )[: item["w"] * item["h"]]
        if idx.size != item["w"] * item["h"]:
            raise GifError("LZW data short of frame size")
        if int(idx.max(initial=0)) >= len(palette):
            raise GifError("pixel index outside color table")
        idx = idx.reshape(item["h"], item["w"])
        if item["interlaced"]:
            idx = _deinterlace(idx)
        t, l = item["top"], item["left"]
        region = (slice(t, t + item["h"]), slice(l, l + item["w"]))
        saved = canvas[region].copy() if disposal == 3 else None
        rgb = palette[idx]
        if transparent is not None:
            mask = idx != transparent
            canvas[region][mask] = rgb[mask]
        else:
            canvas[region] = rgb
        if (len(frames) + 1) * width * height > budget:
            raise GifError("animation exceeds the decode pixel budget")
        frames.append(canvas.copy())
        if disposal == 2:
            canvas[region] = bg
        elif disposal == 3:
            canvas[region] = saved
        disposal, transparent = 0, None
    if not frames:
        raise GifError("no image blocks")
    return np.stack(frames)


# ------------------------------------------------------------- encoder ----

def encode_gif(frames: np.ndarray, delay_cs: int = 10) -> bytes:
    """uint8 array (h, w), (h, w, 3) or (n, h, w, 3) -> GIF89a bytes.

    One global color table from the unique colors across all frames;
    >256 distinct colors raises ``GifError`` (re-encoding decoded GIF
    frames is palette-bounded by construction)."""
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.ndim == 3:
        arr = arr[None]
    if arr.ndim != 4 or arr.shape[3] != 3:
        raise GifError(f"unsupported array shape {np.asarray(frames).shape}")
    n, h, w, _ = arr.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise GifError(f"bad frame geometry {w}x{h}")
    flat = arr.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise GifError(f"{len(palette)} colors exceed one color table")
    depth = max((len(palette) - 1).bit_length(), 1)
    table = np.zeros((2 << (depth - 1), 3), dtype=np.uint8)
    table[: len(palette)] = palette
    indices = inverse.astype(np.uint8).reshape(n, h * w)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) & 0x07), 0, 0)
    out += table.tobytes()
    if n > 1:  # NETSCAPE loop-forever, as animation tools emit
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    mcs = max(depth, 2)
    for frame_idx in indices:
        out += b"\x21\xf9\x04" + bytes((0,)) + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(mcs)
        lzw = lzw_encode(mcs, frame_idx.tobytes())
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
