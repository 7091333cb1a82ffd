"""Pure-stdlib AVI (RIFF) video container codec: decode / encode / metadata.

Decodes REAL frames from a real video container.  Two
in-sandbox-decodable codecs are supported:

- **MJPEG** (`'00dc'` chunks, fourcc ``MJPG``): each frame is a baseline
  JPEG, decoded by the existing pure-stdlib DCT path in ``core/jpeg.py``.
  This is the classic pre-H.264 capture format and the only *compressed*
  video codec expressible without external entropy/transform libraries.
- **Uncompressed DIB** (`'00db'` chunks, ``BI_RGB``): bottom-up BGR24
  rows, stride padded to 4 bytes — AVI's raw full-frame mode.

Container coverage: RIFF 'AVI ' → LIST hdrl (avih MainAVIHeader, LIST
strl → strh AVIStreamHeader / strf BITMAPINFOHEADER) → LIST movi frame
chunks (word-aligned, optional 'rec ' sub-lists) → optional idx1
(skipped).  Non-video streams (e.g. an audio 'auds' strl) are skipped;
the first 'vids' stream is decoded.  Anything structurally invalid, or
a video codec outside the two above (H.264 etc. need licensed entropy
decoders), raises ``AviError`` rather than returning fake frames.

Encoder: writes a spec-valid single-video-stream AVI (avih + strh/strf
+ movi + idx1) in either codec, used by round-trip tests; container
tests additionally hand-pack AVI bytes with ``struct`` so the parser is
verified against an independent writer.

Kernel-module rules apply: plain Python + numpy, no Spark imports.
"""

from __future__ import annotations

import struct

import numpy as np

from . import jpeg


class AviError(ValueError):
    pass


_U32 = struct.Struct("<I")


def _u32(data: bytes, pos: int) -> int:
    if pos + 4 > len(data):
        raise AviError("truncated dword")
    return _U32.unpack_from(data, pos)[0]


def _chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, payload_start, payload_size) within [pos, end)."""
    while pos + 8 <= end:
        fcc = data[pos : pos + 4]
        size = _u32(data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise AviError(f"chunk {fcc!r} overruns its parent")
        yield fcc, body, size
        pos = body + size + (size & 1)  # word alignment


def _riff_body(data: bytes) -> tuple[int, int]:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise AviError("not a RIFF AVI file")
    size = _u32(data, 4)
    end = min(8 + size, len(data))
    return 12, end


def _parse_headers(data: bytes) -> dict:
    """First 'vids' stream geometry/codec + movi span.

    Returns dict with width, height, n_frames, codec ('mjpeg'|'rgb'),
    stream_index (for '##dc'/'##db' prefixes), movi (start, end).
    """
    pos, end = _riff_body(data)
    info: dict = {"movi": None, "codec": None, "stream_index": None}
    stream_no = 0
    for fcc, body, size in _chunks(data, pos, end):
        if fcc != b"LIST":
            continue
        kind = data[body : body + 4]
        if kind == b"movi":
            info["movi"] = (body + 4, body + size)
        elif kind == b"hdrl":
            for h_fcc, h_body, h_size in _chunks(data, body + 4, body + size):
                if h_fcc == b"avih":
                    if h_size < 40:
                        raise AviError("short avih")
                    (info["n_frames"],) = struct.unpack_from("<I", data, h_body + 16)
                    info["width"], info["height"] = struct.unpack_from(
                        "<II", data, h_body + 32
                    )
                elif h_fcc == b"LIST" and data[h_body : h_body + 4] == b"strl":
                    fcc_type = handler = compression = None
                    bits = 24
                    for s_fcc, s_body, s_size in _chunks(
                        data, h_body + 4, h_body + h_size
                    ):
                        if s_fcc == b"strh" and s_size >= 8:
                            fcc_type = data[s_body : s_body + 4]
                            handler = data[s_body + 4 : s_body + 8]
                        elif s_fcc == b"strf" and s_size >= 20:
                            # BITMAPINFOHEADER: biBitCount @14, biCompression @16
                            (bits,) = struct.unpack_from("<H", data, s_body + 14)
                            compression = data[s_body + 16 : s_body + 20]
                    if fcc_type == b"vids" and info["codec"] is None:
                        info["stream_index"] = stream_no
                        info["codec"] = _codec_name(handler, compression, bits)
                    stream_no += 1
    if info["movi"] is None:
        raise AviError("no movi list")
    if info.get("codec") is None:
        raise AviError("no video stream")
    for key in ("width", "height", "n_frames"):
        if key not in info:
            raise AviError("missing avih header")
    return info


def _codec_name(handler: bytes | None, compression: bytes | None, bits: int) -> str:
    tags = set()
    for t in (handler, compression):
        if t:
            tags.add(bytes(t).upper())
    if tags & {b"MJPG", b"MJPA", b"JPEG"}:
        return "mjpeg"
    rgb_tags = {b"DIB ", b"RGB ", b"RAW ", b"\x00\x00\x00\x00"}
    if tags <= rgb_tags | {b"", b"    "} and bits == 24:
        return "rgb"
    raise AviError(f"unsupported video codec {sorted(tags)!r}")


def avi_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_channels=3) — image-shaped, like gif_meta."""
    info = _parse_headers(data)
    return info["width"], info["height"], 3


def avi_frames_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) from the container headers."""
    info = _parse_headers(data)
    return info["width"], info["height"], info["n_frames"]


def _frame_chunks(data: bytes, info: dict):
    """Yield raw frame payloads of the selected video stream, in
    DOCUMENT order — 'rec ' sub-lists recurse in place (a breadth-first
    queue would replay a movi that mixes 'rec ' groups with bare frame
    chunks out of temporal order)."""
    prefix = b"%02d" % info["stream_index"]

    def walk(s, e):
        for fcc, body, size in _chunks(data, s, e):
            if fcc == b"LIST" and data[body : body + 4] == b"rec ":
                yield from walk(body + 4, body + size)
            elif fcc[:2] == prefix and fcc[2:4] in (b"dc", b"db"):
                yield data[body : body + size]

    yield from walk(*info["movi"])


def _decode_dib(raw: bytes, width: int, height: int) -> np.ndarray:
    stride = (width * 3 + 3) & ~3
    if len(raw) < stride * height:
        raise AviError("short DIB frame")
    rows = np.frombuffer(raw[: stride * height], dtype=np.uint8)
    rows = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    # bottom-up BGR -> top-down RGB
    return rows[::-1, :, ::-1].copy()


def decode_avi(data: bytes) -> np.ndarray:
    """AVI bytes -> uint8 array (n_frames, height, width, 3)."""
    info = _parse_headers(data)
    w, h = info["width"], info["height"]
    frames = []
    for raw in _frame_chunks(data, info):
        if info["codec"] == "mjpeg":
            try:
                px = jpeg.decode_jpeg(raw)
            except jpeg.JpegError as exc:
                raise AviError(f"bad MJPEG frame: {exc}") from exc
            if px.ndim == 2:
                px = np.repeat(px[:, :, None], 3, axis=2)
            if px.shape[0] != h or px.shape[1] != w:
                raise AviError("MJPEG frame geometry != container geometry")
            frames.append(px)
        else:
            frames.append(_decode_dib(raw, w, h))
    if not frames:
        raise AviError("no frame chunks")
    return np.stack(frames)


# ------------------------------------------------------------- encoder ----


def _chunk(fcc: bytes, payload: bytes) -> bytes:
    return fcc + _U32.pack(len(payload)) + payload + (b"\x00" if len(payload) & 1 else b"")


def _list(kind: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", kind + payload)


def encode_avi(
    frames: np.ndarray, codec: str = "mjpeg", fps: int = 10, quality: int = 90
) -> bytes:
    """uint8 (n, h, w, 3) -> single-video-stream AVI ('mjpeg' or 'rgb')."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 4 or frames.shape[3] != 3 or frames.shape[0] == 0:
        raise AviError("frames must be non-empty (n, h, w, 3) uint8")
    n, h, w = frames.shape[0], frames.shape[1], frames.shape[2]
    if codec == "mjpeg":
        payloads = [jpeg.encode_jpeg(f, quality=quality) for f in frames]
        handler, compression, chunk_fcc = b"MJPG", b"MJPG", b"00dc"
    elif codec == "rgb":
        stride = (w * 3 + 3) & ~3
        payloads = []
        for f in frames:
            rows = np.zeros((h, stride), dtype=np.uint8)
            rows[:, : w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)
            payloads.append(rows.tobytes())
        handler, compression, chunk_fcc = b"DIB ", b"\x00\x00\x00\x00", b"00db"
    else:
        raise AviError(f"unknown codec {codec!r}")
    buf_size = max(len(p) for p in payloads)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // max(fps, 1),  # dwMicroSecPerFrame
        buf_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        buf_size,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", handler,
        0, 0, 0, 0,  # flags, priority, language, initial frames
        1, fps,  # scale, rate
        0, n, buf_size,  # start, length, suggested buffer
        0xFFFFFFFF, 0,  # quality, sample size
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, compression, buf_size, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_payload = b"".join(_chunk(chunk_fcc, p) for p in payloads)
    movi = _list(b"movi", movi_payload)
    # idx1: offsets are relative to the start of the movi payload area
    idx, off = [], 4
    for p in payloads:
        idx.append(struct.pack("<4sIII", chunk_fcc, 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) & 1)
    idx1 = _chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + _U32.pack(len(body)) + body
