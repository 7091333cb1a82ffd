"""Pure-stdlib WAV (RIFF PCM) codec: decode / encode / metadata.

Reports true sample counts / channel counts / rates of WAV payloads.

Supported: RIFF/WAVE with a ``fmt `` chunk of format 1 (integer PCM,
8- or 16-bit) or 3 (IEEE float32), any channel count, chunk order
independent, word-aligned chunk padding.  Anything else raises
``WavError``.

Kernel-module rules apply: plain Python + numpy, no Spark imports.
"""

from __future__ import annotations

import struct

import numpy as np


class WavError(ValueError):
    pass


def _chunks(data: bytes):
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise WavError("bad RIFF/WAVE signature")
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise WavError("truncated chunk")
        yield cid, body
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def _parse(data: bytes):
    fmt = None
    pcm = None
    for cid, body in _chunks(data):
        if cid == b"fmt ":
            if len(body) < 16:
                raise WavError("short fmt chunk")
            audio_fmt, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = (audio_fmt, channels, rate, bits)
        elif cid == b"data":
            pcm = body
    if fmt is None or pcm is None:
        raise WavError("missing fmt/data chunk")
    audio_fmt, channels, rate, bits = fmt
    if channels == 0 or rate == 0:
        raise WavError("zero channels/rate")
    if (audio_fmt, bits) not in ((1, 8), (1, 16), (3, 32)):
        raise WavError(f"unsupported format {audio_fmt}/{bits}-bit")
    return audio_fmt, channels, rate, bits, pcm


def wav_meta(data: bytes) -> tuple[int, int, int]:
    """(n_frames, n_channels, sample_rate) from the headers."""
    audio_fmt, channels, rate, bits, pcm = _parse(data)
    frames = len(pcm) // (channels * bits // 8)
    return frames, channels, rate


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (samples array of shape (frames, channels) in the
    stream's native dtype (uint8 / int16 / float32), sample_rate)."""
    audio_fmt, channels, rate, bits, pcm = _parse(data)
    dtype = {(1, 8): np.uint8, (1, 16): np.dtype("<i2"),
             (3, 32): np.dtype("<f4")}[(audio_fmt, bits)]
    step = channels * bits // 8
    frames = len(pcm) // step
    samples = np.frombuffer(pcm, dtype=dtype, count=frames * channels)
    return samples.reshape(frames, channels).copy(), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(frames,) or (frames, channels) array -> WAV bytes.  uint8 and
    float32 inputs keep their format; everything else goes out as
    16-bit integer PCM."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise WavError(f"unsupported array shape {arr.shape}")
    if rate <= 0:
        raise WavError("bad sample rate")
    if arr.dtype == np.uint8:
        audio_fmt, bits = 1, 8
    elif arr.dtype == np.float32:
        audio_fmt, bits = 3, 32
    else:
        arr = arr.astype("<i2")
        audio_fmt, bits = 1, 16
    frames, channels = arr.shape
    pcm = np.ascontiguousarray(arr).tobytes()
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", audio_fmt, channels, rate, rate * block_align,
        block_align, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
        + (b"\x00" if len(pcm) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
