"""Pure-stdlib AVI codec tests (core/avi.py).

The container parser is verified against AVIs hand-assembled BY THE
TEST (independent struct-packed writer, including a 'rec ' grouped
layout and an extra audio stream the encoder never emits); only the
JPEG frame codec is shared, and that has its own DCT-level tests in
test_jpeg.py.
"""

import struct

import numpy as np
import pytest

from privacy_crawler_parser_tokenizer_spark.core import avi, jpeg


def _chunk(fcc, payload):
    return fcc + struct.pack("<I", len(payload)) + payload + (
        b"\x00" if len(payload) & 1 else b""
    )


def _lst(kind, payload):
    return _chunk(b"LIST", kind + payload)


def _build_avi(w, h, frame_payloads, *, codec=b"\x00\x00\x00\x00",
               handler=b"DIB ", chunk_fcc=b"00db", bits=24,
               extra_strl=b"", rec_group=False, n_frames=None):
    """Independent AVI assembler (raw struct packing, no core/avi code)."""
    n = len(frame_payloads) if n_frames is None else n_frames
    avih = struct.pack("<10I4I", 100000, 0, 0, 0, n, 0, 1, 0, w, h, 0, 0, 0, 0)
    strh = struct.pack("<4s4sI4HIIIIIII4h", b"vids", handler, 0, 0, 0, 0, 0,
                       1, 10, 0, n, 0, 0xFFFFFFFF, 0, 0, 0, w, h)
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, bits, codec, 0, 0, 0, 0, 0)
    strl = _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf))
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih) + extra_strl + strl)
    body = b"".join(_chunk(chunk_fcc, p) for p in frame_payloads)
    if rec_group:
        body = _lst(b"rec ", body)
    movi = _lst(b"movi", body)
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _dib(frame):
    """Bottom-up BGR rows, stride padded to 4 — packed by the test."""
    h, w, _ = frame.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)
    return rows.tobytes()


# --------------------------------------------- independent-writer decode ----


def test_decode_handpacked_dib():
    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, size=(4, 6, 10, 3), dtype=np.uint8)
    data = _build_avi(10, 6, [_dib(f) for f in frames])
    assert avi.avi_meta(data) == (10, 6, 3)
    assert avi.avi_frames_meta(data) == (10, 6, 4)
    assert np.array_equal(avi.decode_avi(data), frames)


def test_decode_handpacked_dib_odd_width_padding():
    rng = np.random.default_rng(4)
    frames = rng.integers(0, 256, size=(2, 3, 5, 3), dtype=np.uint8)
    data = _build_avi(5, 3, [_dib(f) for f in frames])  # stride 16 != 15
    assert np.array_equal(avi.decode_avi(data), frames)


def test_decode_handpacked_mjpeg():
    grad = np.zeros((2, 16, 16, 3), np.uint8)
    grad[0, :, :, 0] = np.linspace(0, 255, 16, dtype=np.uint8)[None, :]
    grad[1, :, :, 2] = np.linspace(0, 255, 16, dtype=np.uint8)[:, None]
    payloads = [jpeg.encode_jpeg(f, quality=95) for f in grad]
    data = _build_avi(16, 16, payloads, codec=b"MJPG", handler=b"MJPG",
                      chunk_fcc=b"00dc")
    out = avi.decode_avi(data)
    assert out.shape == grad.shape
    assert np.abs(out.astype(int) - grad.astype(int)).mean() < 4


def test_decode_rec_grouped_and_skips_audio_stream():
    """Audio 'strl' first: the video stream is index 1, frames '01db',
    grouped inside a 'rec ' list — the reference capture layout."""
    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(3, 4, 4, 3), dtype=np.uint8)
    auds_strh = struct.pack("<4s4sI4HIIIIIII4h", b"auds", b"\x00" * 4, 0, 0,
                            0, 0, 0, 1, 8000, 0, 100, 0, 0, 2, 0, 0, 0, 0)
    auds = _lst(b"strl", _chunk(b"strh", auds_strh) + _chunk(b"strf", b"\x00" * 16))
    data = _build_avi(4, 4, [_dib(f) for f in frames], chunk_fcc=b"01db",
                      extra_strl=auds, rec_group=True)
    assert np.array_equal(avi.decode_avi(data), frames)


# ----------------------------------------------------------- round trip ----


def test_encode_decode_rgb_exact():
    rng = np.random.default_rng(6)
    frames = rng.integers(0, 256, size=(5, 9, 13, 3), dtype=np.uint8)
    data = avi.encode_avi(frames, codec="rgb")
    assert avi.avi_frames_meta(data) == (13, 9, 5)
    assert np.array_equal(avi.decode_avi(data), frames)


def test_encode_decode_mjpeg_close():
    grad = np.zeros((3, 16, 24, 3), np.uint8)
    for i in range(3):
        grad[i, :, :, 0] = np.linspace(0, 255, 24, dtype=np.uint8)[None, :]
        grad[i, :, :, 1] = 60 * i
    data = avi.encode_avi(grad, codec="mjpeg", quality=95)
    out = avi.decode_avi(data)
    assert out.shape == grad.shape
    assert np.abs(out.astype(int) - grad.astype(int)).mean() < 4


# ----------------------------------------------------------- error paths ----


def test_rejects_garbage_and_truncation():
    frames = np.zeros((1, 4, 4, 3), np.uint8)
    good = avi.encode_avi(frames, codec="rgb")
    for bad in (b"", b"RIFF\x00\x00\x00\x00WAVE", good[:30], good[:-10]):
        with pytest.raises(avi.AviError):
            avi.decode_avi(bad)


def test_rejects_unsupported_codec():
    data = _build_avi(4, 4, [b"\x00" * 64], codec=b"H264", handler=b"H264",
                      chunk_fcc=b"00dc")
    with pytest.raises(avi.AviError):
        avi.decode_avi(data)


def test_rejects_bad_mjpeg_frame_bytes():
    data = _build_avi(4, 4, [b"not a jpeg"], codec=b"MJPG", handler=b"MJPG",
                      chunk_fcc=b"00dc")
    with pytest.raises(avi.AviError):
        avi.decode_avi(data)


def test_rejects_short_dib_frame():
    data = _build_avi(8, 8, [b"\x00" * 10])
    with pytest.raises(avi.AviError):
        avi.decode_avi(data)


def test_geometry_mismatch_rejected():
    f = np.zeros((8, 8, 3), np.uint8)
    data = _build_avi(16, 16, [jpeg.encode_jpeg(f)], codec=b"MJPG",
                      handler=b"MJPG", chunk_fcc=b"00dc")
    with pytest.raises(avi.AviError):
        avi.decode_avi(data)


# ------------------------------------------------- spark-side sampling ----
