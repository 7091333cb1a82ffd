"""Codec totality + DoS guards: every pure-stdlib decoder must be TOTAL
on adversarial bytes — raise ONLY its own error class (never IndexError
/ struct.error / bare numpy ValueError, which would kill an executor
task), and must refuse implausible header geometry instead of
allocating gigabytes from attacker-controlled u16/u24 dimension fields
(the canvas for a 65535x65535 GIF is ~12 GB; a VP8X canvas can claim
16M x 16M).  Found by fuzzing: decode_gif/decode_jpeg/decode_vp8l and
the webp/apng canvases all allocated before validating."""

import struct

import numpy as np
import pytest

from privacy_crawler_parser_tokenizer_spark.core import (
    apng, avi, gif, jpeg, png, wav, webp,
)

DECODERS = [
    (png.decode_png, png.PngError),
    (gif.decode_gif, gif.GifError),
    (jpeg.decode_jpeg, jpeg.JpegError),
    (jpeg.jpeg_meta, jpeg.JpegError),
    (wav.decode_wav, wav.WavError),
    (avi.decode_avi, avi.AviError),
    (webp.decode_webp, webp.WebpError),
    (webp.webp_frames, webp.WebpError),
    # decode_apng raises base-class PngError for container-level faults
    (apng.decode_apng, png.PngError),
]

MAGICS = [b"", b"\x89PNG\r\n\x1a\n", b"BM", b"P6\n", b"GIF89a",
          b"\xff\xd8\xff", b"RIFF\x20\x00\x00\x00WAVE",
          b"RIFF\x20\x00\x00\x00AVI ", b"RIFF\x20\x00\x00\x00WEBP"]


def test_decoders_total_on_byte_soup():
    rng = np.random.default_rng(7)
    for trial in range(150):
        m = MAGICS[trial % len(MAGICS)]
        tail = rng.integers(0, 256, size=int(rng.integers(0, 100)),
                            dtype=np.uint8).tobytes()
        payload = m + tail
        for decode, err in DECODERS:
            try:
                decode(payload)
            except err:
                pass  # the ONLY acceptable failure mode


def test_gif_refuses_giant_canvas():
    # 65535x65535 logical screen: ~12 GB canvas if allocated
    data = b"GIF89a" + struct.pack("<HHBBB", 0xFFFF, 0xFFFF, 0, 0, 0) + b"\x3b"
    with pytest.raises(gif.GifError, match="implausible"):
        gif.decode_gif(data)


def test_jpeg_refuses_giant_sof():
    sof = struct.pack(">BHHB", 8, 0xFFFF, 0xFFFF, 1) + struct.pack(">BBB", 1, 0x11, 0)
    data = (b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
            + b"\xff\xd9")
    with pytest.raises(jpeg.JpegError, match="implausible"):
        jpeg.decode_jpeg(data)


def test_vp8l_refuses_giant_geometry():
    bits = (16383) | (16383 << 14)  # 16384 x 16384 = 268M pixels
    chunk = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8
    body = b"WEBPVP8L" + struct.pack("<I", len(chunk)) + chunk
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(webp.WebpError, match="implausible"):
        webp.decode_webp(data)


def test_caps_leave_real_media_untouched():
    img = np.full((64, 64, 3), 9, np.uint8)
    assert gif.decode_gif(gif.encode_gif(img)).shape == (1, 64, 64, 3)
    assert jpeg.decode_jpeg(jpeg.encode_jpeg(img)).shape == (64, 64, 3)
    assert webp.decode_webp(webp.encode_webp(img)).shape == (64, 64, 3)


def test_animation_pixel_budget_caps_total_frames():
    # near-cap canvas + many tiny ANMF frames: the cumulative
    # frames x canvas budget must refuse before ~13 GB of copies
    import struct as _s

    pl = webp.encode_vp8l(np.zeros((1, 1, 3), np.uint8))
    head = (b"\x00" * 6 + (0).to_bytes(3, "little") * 2
            + (10).to_bytes(3, "little") + b"\x02")
    sub = b"VP8L" + _s.pack("<I", len(pl)) + pl
    if len(pl) & 1:
        sub += b"\x00"
    anmf = head + sub
    body = b"WEBP"
    vp8x = b"\x02" + b"\x00" * 3 + (8189).to_bytes(3, "little") * 2
    body += b"VP8X" + _s.pack("<I", len(vp8x)) + vp8x
    body += b"ANIM" + _s.pack("<I", 6) + b"\x00" * 6
    for _ in range(50):
        body += b"ANMF" + _s.pack("<I", len(anmf)) + anmf
        if len(anmf) & 1:
            body += b"\x00"
    data = b"RIFF" + _s.pack("<I", len(body)) + body
    with pytest.raises(webp.WebpError, match="budget"):
        webp.webp_frames(data)


def test_encode_vp8l_accepts_grayscale_column():
    out = webp.decode_webp(webp.encode_webp(np.full((4, 4, 1), 7, np.uint8)))
    assert out.shape == (4, 4, 3) and (out == 7).all()
    with pytest.raises(webp.WebpError):
        webp.encode_vp8l(np.zeros((4, 4, 2), np.uint8))
