"""WAV codec tests (core/wav.py).

Decode is verified against files built BY THE TEST (hand-assembled
RIFF chunks, including out-of-order and padded chunks) plus
encode->decode roundtrips for all three supported sample formats.
"""

import struct

import numpy as np
import pytest

from privacy_crawler_parser_tokenizer_spark.core import wav as W


def _build_wav(pcm: bytes, channels: int, rate: int, bits: int,
               audio_fmt: int = 1, extra_chunk: bool = False) -> bytes:
    """Independent minimal RIFF writer (separate from encode_wav)."""
    fmt = struct.pack("<HHIIHH", audio_fmt, channels, rate,
                      rate * channels * bits // 8, channels * bits // 8, bits)
    chunks = b""
    if extra_chunk:  # LIST chunk with odd size -> exercises word padding
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


@pytest.mark.parametrize("dtype,channels", [
    (np.int16, 1), (np.int16, 2), (np.uint8, 1), (np.float32, 3),
])
def test_roundtrip(dtype, channels):
    rng = np.random.default_rng(channels)
    if dtype == np.float32:
        samples = rng.uniform(-1, 1, (100, channels)).astype(np.float32)
    elif dtype == np.uint8:
        samples = rng.integers(0, 256, (100, channels)).astype(np.uint8)
    else:
        samples = rng.integers(-32768, 32768, (100, channels)).astype(np.int16)
    blob = W.encode_wav(samples, 8000)
    assert W.wav_meta(blob) == (100, channels, 8000)
    back, rate = W.decode_wav(blob)
    assert rate == 8000
    assert back.dtype == samples.dtype and np.array_equal(back, samples)


def test_mono_1d_input_and_odd_data_padding():
    samples = np.arange(7, dtype=np.int16)          # 14 bytes: even
    blob = W.encode_wav(samples, 44100)
    assert W.wav_meta(blob) == (7, 1, 44100)
    # odd data size (uint8, 7 samples) must pad to word alignment
    blob8 = W.encode_wav(samples.astype(np.uint8), 44100)
    assert len(blob8) % 2 == 0
    back, _ = W.decode_wav(blob8)
    assert np.array_equal(back[:, 0], samples.astype(np.uint8))


def test_decode_independent_writer_with_extra_chunks():
    rng = np.random.default_rng(4)
    samples = rng.integers(-1000, 1000, (50, 2)).astype("<i2")
    blob = _build_wav(samples.tobytes(), 2, 22050, 16, extra_chunk=True)
    assert W.wav_meta(blob) == (50, 2, 22050)
    back, rate = W.decode_wav(blob)
    assert rate == 22050 and np.array_equal(back, samples)


def test_error_paths():
    bad = [
        b"",
        b"RIFF\x00\x00\x00\x00WAVX",                       # not WAVE
        _build_wav(b"\x00" * 8, 1, 8000, 24),              # 24-bit PCM
        _build_wav(b"\x00" * 8, 0, 8000, 16),              # zero channels
        b"RIFF" + struct.pack("<I", 4) + b"WAVE",          # no chunks
    ]
    for b in bad:
        with pytest.raises(W.WavError):
            W.wav_meta(b)
    with pytest.raises(W.WavError):
        W.encode_wav(np.zeros((2, 2, 2)), 8000)
    with pytest.raises(W.WavError):
        W.encode_wav(np.zeros(4, dtype=np.int16), 0)
