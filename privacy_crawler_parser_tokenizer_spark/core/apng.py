"""Pure-stdlib APNG (animated PNG) codec over ``core.png``.

APNG is plain PNG plus three chunks (public spec, now part of the W3C
PNG 3rd edition) —

  * ``acTL``  animation control: num_frames, num_plays;
  * ``fcTL``  per-frame control: sequence, region (w, h, x, y), delay,
    dispose_op (0 none / 1 background / 2 previous), blend_op
    (0 source / 1 over);
  * ``fdAT``  frame data: sequence + the identical zlib'd
    filtered-scanline stream IDAT carries (``png.decode_idat``).

``decode_apng`` composites every frame onto the canvas per the
dispose/blend rules and returns the rendered animation as
``(n_frames, height, width, 4)`` RGBA — the same frames a browser
shows.  ``encode_apng`` writes full-canvas SOURCE/NONE frames (the
round-trip writer for tests).

Kernel-module rules apply: plain Python + numpy, no Spark imports.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .png import SIGNATURE, _CHANNELS, PngError, _chunk, _chunks, decode_idat


class ApngError(PngError):
    pass


def _to_rgba(px: np.ndarray) -> np.ndarray:
    """(h, w, ch) uint8 with ch in {1,2,3,4} -> RGBA."""
    h, w, ch = px.shape
    if ch == 4:
        return px
    out = np.empty((h, w, 4), dtype=np.uint8)
    if ch == 1:
        out[:, :, :3] = px
        out[:, :, 3] = 255
    elif ch == 2:
        out[:, :, :3] = px[:, :, :1]
        out[:, :, 3] = px[:, :, 1]
    else:  # RGB
        out[:, :, :3] = px
        out[:, :, 3] = 255
    return out


def _parse(data: bytes):
    if not data.startswith(SIGNATURE):
        raise ApngError("bad signature")
    ihdr = plte = actl = None
    frames: list[list] = []  # [fctl_tuple, bytearray, is_idat_frame]
    seqs: list[int] = []
    seen_idat = False
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"acTL":
            if seen_idat:
                raise ApngError("acTL after IDAT")
            actl = struct.unpack(">II", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"fcTL":
            if len(body) != 26:
                raise ApngError("bad fcTL length")
            seqs.append(struct.unpack(">I", body[:4])[0])
            frames.append(
                [struct.unpack(">IIIIHHBB", body[4:]), bytearray(), not seen_idat]
            )
        elif ctype == b"IDAT":
            seen_idat = True
            if frames and frames[0][2]:
                # first fcTL preceded IDAT: the default image is frame 0
                frames[0][1].extend(body)
        elif ctype == b"fdAT":
            if not frames:
                raise ApngError("fdAT before any fcTL")
            if len(body) < 4:
                raise ApngError("short fdAT")
            seqs.append(struct.unpack(">I", body[:4])[0])
            frames[-1][1].extend(body[4:])
    if actl is None:
        raise ApngError("not an APNG (no acTL)")
    if ihdr is None:
        raise ApngError("no IHDR")
    if len(frames) != actl[0]:
        raise ApngError(f"acTL says {actl[0]} frames, found {len(frames)}")
    if seqs != list(range(len(seqs))):
        raise ApngError(f"bad fcTL/fdAT sequence numbers {seqs}")
    return ihdr, plte, actl, frames


def apng_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) — cheap header path."""
    ihdr, _plte, actl, _frames = _parse(data)
    return int(ihdr[0]), int(ihdr[1]), int(actl[0])


def decode_apng(data: bytes) -> np.ndarray:
    """APNG bytes -> uint8 (n_frames, height, width, 4) RGBA, frames
    composited per the fcTL dispose/blend rules."""
    ihdr, plte, _actl, frames = _parse(data)
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ApngError(f"unsupported bit depth {depth}")
    if color not in _CHANNELS:
        raise ApngError(f"unknown color type {color}")
    if comp != 0 or filt != 0:
        raise ApngError("unknown compression/filter method")
    if interlace != 0:
        raise ApngError("interlaced (Adam7) not supported")
    from .png import MAX_DECODE_PIXELS
    if w * h > MAX_DECODE_PIXELS:
        raise ApngError(f"implausible canvas {w}x{h}")
    canvas = np.zeros((h, w, 4), dtype=np.uint8)
    out = []
    for i, (fctl, zdata, _) in enumerate(frames):
        fw, fh, fx, fy, _dn, _dd, dispose, blend = fctl
        if fw == 0 or fh == 0 or fx + fw > w or fy + fh > h:
            raise ApngError("frame region out of canvas bounds")
        if not zdata:
            raise ApngError(f"frame {i} has no data")
        sub = _to_rgba(decode_idat(bytes(zdata), fw, fh, color, plte))
        if dispose == 2 and i == 0:
            dispose = 1  # spec: PREVIOUS on frame 0 acts as BACKGROUND
        region = canvas[fy : fy + fh, fx : fx + fw]
        saved = region.copy() if dispose == 2 else None
        if blend == 0 or i == 0:  # frame 0 always blends SOURCE per spec
            region[:] = sub
        elif blend == 1:  # straight-alpha OVER
            sa = sub[:, :, 3:4].astype(np.float32) / 255.0
            da = region[:, :, 3:4].astype(np.float32) / 255.0
            oa = sa + da * (1.0 - sa)
            rgb = sub[:, :, :3].astype(np.float32) * sa + region[
                :, :, :3
            ].astype(np.float32) * da * (1.0 - sa)
            safe = np.where(oa == 0.0, 1.0, oa)
            region[:, :, :3] = np.clip(rgb / safe + 0.5, 0, 255).astype(np.uint8)
            region[:, :, 3] = np.clip(oa[:, :, 0] * 255.0 + 0.5, 0, 255).astype(
                np.uint8
            )
        else:
            raise ApngError(f"unknown blend_op {blend}")
        if (len(out) + 1) * w * h > MAX_DECODE_PIXELS:
            raise ApngError("animation exceeds the decode pixel budget")
        out.append(canvas.copy())
        if dispose == 1:
            canvas[fy : fy + fh, fx : fx + fw] = 0
        elif dispose == 2:
            canvas[fy : fy + fh, fx : fx + fw] = saved
        elif dispose != 0:
            raise ApngError(f"unknown dispose_op {dispose}")
    return np.stack(out)


def encode_apng(frames: np.ndarray, num_plays: int = 0,
                delay: tuple[int, int] = (1, 10), level: int = 6) -> bytes:
    """uint8 (n, h, w) or (n, h, w, ch) -> APNG bytes: full-canvas
    frames, blend SOURCE, dispose NONE, frame 0 in IDAT."""
    px = np.asarray(frames, dtype=np.uint8)
    if px.ndim == 3:
        px = px[:, :, :, None]
    if px.ndim != 4 or px.shape[3] not in (1, 2, 3, 4):
        raise ApngError(f"unsupported array shape {px.shape}")
    n, h, w, ch = px.shape
    if n == 0:
        raise ApngError("no frames")
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def zstream(frame: np.ndarray) -> bytes:
        rows = np.concatenate(
            [np.zeros((h, 1), dtype=np.uint8), frame.reshape(h, w * ch)],
            axis=1,
        )
        return zlib.compress(rows.tobytes(), level)

    seq = 0

    def fctl() -> bytes:
        nonlocal seq
        body = struct.pack(
            ">IIIIIHHBB", seq, w, h, 0, 0, delay[0], delay[1], 0, 0
        )
        seq += 1
        return _chunk(b"fcTL", body)

    out = [
        SIGNATURE,
        _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)),
        _chunk(b"acTL", struct.pack(">II", n, num_plays)),
        fctl(),
        _chunk(b"IDAT", zstream(px[0])),
    ]
    for i in range(1, n):
        out.append(fctl())
        body = struct.pack(">I", seq) + zstream(px[i])
        seq += 1
        out.append(_chunk(b"fdAT", body))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)
