"""GIF codec tests: LZW round-trips across width-growth and
dictionary-reset territory, interlace, sub-rect frame compositing,
disposal methods, transparency, deferred-clear streams, Java ImageIO
interop fixtures (both directions were verified bit-exact at fixture
generation time; the committed Java-written files pin our decoder
here), the animated-GIF video-sampler path, and malformed-stream fuzz
guards.

GIF sits beside BMP/PNM on the still-image ingestion surface and
beside MJPEG-AVI on the short-clip sampling surface — first-class web
media for an interleaved text+media corpus (the reference's own ingest
is cv2.imread, cli.py:114; GIF is the web container just outside that
list)."""

from __future__ import annotations

import struct
from pathlib import Path

import numpy as np
import pytest

from ocr_inference_spark.gifcodec import (
    _image_block,
    _screen_and_gct,
    gif_decode,
    gif_encode,
    gif_encode_frames,
    iter_gif_frames,
)
from ocr_inference_spark.bitcodes import lzw_decode, lzw_encode
from ocr_inference_spark.imgcodec import decode_image, sniff_format

DATA = Path(__file__).parent / "data"
_GRAY_PAL = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)


def gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> np.ndarray:
    """The GIF dialect of the shared LZW decoder, as a uint8 raster."""
    out = lzw_decode(data, min_code_size, expected, lsb=True, early_change=False)
    return np.frombuffer(out, np.uint8)


def gif_lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    return lzw_encode(indices.tobytes(), min_code_size, lsb=True, early_change=False)


def _gray(h=48, w=64):
    y, x = np.mgrid[0:h, 0:w]
    return ((x * 7 + y * 13 + (x * y) % 31) % 256).astype(np.uint8)


# ---------------------------------------------------------------- round trips


@pytest.mark.parametrize("shape", [(1, 1), (5, 7), (64, 48), (200, 300)])
def test_gray_roundtrip(shape):
    img = np.random.default_rng(sum(shape)).integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(gif_decode(gif_encode(img)), img)


def test_dictionary_reset_roundtrip():
    # 511x767 random gray needs far more than 4096 codes -> the encoder
    # emits mid-stream clears and the decoder resets; low-entropy runs
    # additionally build deep prefix chains
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (511, 767), dtype=np.uint8)
    assert np.array_equal(gif_decode(gif_encode(img)), img)
    runs = np.zeros((120, 640), np.uint8)
    runs[40:80, 100:500] = 255
    assert np.array_equal(gif_decode(gif_encode(runs)), runs)


def test_interlace_roundtrip():
    img = _gray(37, 23)  # odd height exercises all four pass lengths
    assert np.array_equal(gif_decode(gif_encode(img, interlace=True)), img)


def test_rgb_roundtrip():
    rng = np.random.default_rng(11)
    img = (rng.integers(0, 6, (33, 21, 3), dtype=np.uint8) * 42 + 3).astype(np.uint8)
    out = gif_decode(gif_encode(img))
    assert out.ndim == 3 and np.array_equal(out, img)


def test_too_many_colors_raises():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)  # ~4k colors
    with pytest.raises(ValueError, match="256 colors"):
        gif_encode(img)


def test_dispatch():
    img = _gray(9, 17)
    blob = gif_encode(img)
    assert sniff_format(blob[:8]) == "gif"
    assert np.array_equal(decode_image(blob), img)


# ---------------------------------------------------------------- animation


def test_animated_frames_roundtrip():
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, (16, 24), dtype=np.uint8) for _ in range(3)]
    dec = list(iter_gif_frames(gif_encode_frames(frames)))
    assert len(dec) == 3
    for a, b in zip(dec, frames):
        assert np.array_equal(a, b)


def test_transparency_keeps_canvas():
    f0 = np.zeros((10, 10, 3), np.uint8)
    f0[:] = (200, 10, 30)
    f1 = np.zeros((10, 10, 3), np.uint8)
    f1[:] = (5, 60, 250)
    mask = np.zeros((10, 10), bool)
    mask[2:5, 2:5] = True
    dec = list(
        iter_gif_frames(
            gif_encode_frames([f0, f1], transparent_of=lambda i: mask if i else None)
        )
    )
    exp1 = f1.copy()
    exp1[mask] = (200, 10, 30)
    assert np.array_equal(dec[0], f0) and np.array_equal(dec[1], exp1)


def _two_frame(base, patch, left, top, gce=b""):
    return (
        b"GIF89a"
        + _screen_and_gct(base.shape[1], base.shape[0], _GRAY_PAL)
        + _image_block(base, 0, 0, 256, False)
        + gce
        + _image_block(patch, left, top, 256, False)
        + b"\x3b"
    )


def test_subrect_composites_over_canvas():
    base = np.full((8, 8), 100, np.uint8)
    patch = np.full((4, 4), 220, np.uint8)
    dec = list(iter_gif_frames(_two_frame(base, patch, 3, 2)))
    exp = base.copy()
    exp[2:6, 3:7] = 220
    assert np.array_equal(dec[0], base) and np.array_equal(dec[1], exp)


def _gce(disposal, transparent=-1, delay=0):
    flags = (disposal & 7) << 2 | (1 if transparent >= 0 else 0)
    return b"\x21\xf9" + bytes([4, flags]) + struct.pack("<H", delay) + bytes(
        [max(transparent, 0), 0]
    )


def test_disposal_restore_background():
    # frame 1 carries disposal=2: after it is shown, its rect reverts to
    # the background color (GCT index 0 = gray 0) for the NEXT frame
    base = np.full((8, 8), 100, np.uint8)
    patch = np.full((4, 4), 220, np.uint8)
    tail = np.full((2, 2), 50, np.uint8)
    blob = (
        b"GIF89a"
        + _screen_and_gct(8, 8, _GRAY_PAL)
        + _image_block(base, 0, 0, 256, False)
        + _gce(2)
        + _image_block(patch, 3, 2, 256, False)
        + _image_block(tail, 0, 0, 256, False)
        + b"\x3b"
    )
    dec = list(iter_gif_frames(blob))
    assert dec[1][3, 4] == 220  # patch visible in its own frame
    exp2 = base.copy()
    exp2[2:6, 3:7] = 0  # restored to background
    exp2[0:2, 0:2] = 50
    assert np.array_equal(dec[2], exp2)


def test_disposal_restore_previous():
    base = np.full((8, 8), 100, np.uint8)
    patch = np.full((4, 4), 220, np.uint8)
    tail = np.full((2, 2), 50, np.uint8)
    blob = (
        b"GIF89a"
        + _screen_and_gct(8, 8, _GRAY_PAL)
        + _image_block(base, 0, 0, 256, False)
        + _gce(3)
        + _image_block(patch, 3, 2, 256, False)
        + _image_block(tail, 0, 0, 256, False)
        + b"\x3b"
    )
    dec = list(iter_gif_frames(blob))
    exp2 = base.copy()  # patch rect restored to pre-patch canvas
    exp2[0:2, 0:2] = 50
    assert np.array_equal(dec[2], exp2)


def test_video_sampler_accepts_animated_gif():
    from ocr_inference_spark.multimodal import iter_video_frames

    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 256, (12, 20), dtype=np.uint8) for _ in range(4)]
    out = list(iter_video_frames(gif_encode_frames(frames)))
    assert len(out) == 4
    for a, b in zip(out, frames):
        assert np.array_equal(a, b)


# ------------------------------------------------------------------- LZW edge


def test_deferred_clear_stream():
    """A stream that never sends clear after the dictionary fills is
    legal ('deferred clear'); the decoder must pin the dictionary at
    4096 and keep reading 12-bit codes. Generate one by emitting only
    LITERAL codes while mirroring the decoder's width bookkeeping."""
    rng = np.random.default_rng(17)
    pixels = rng.integers(0, 256, 6000, dtype=np.uint8)
    out = bytearray()
    acc = nbits = 0

    def put(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width, next_code = 9, 258  # decoder state right after the first literal
    put(pixels[0], 9)
    for p in pixels[1:]:
        put(int(p), width)
        if next_code < 4096:  # decoder adds an entry per subsequent code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    put(257, width)  # EOI
    if nbits:
        out.append(acc & 0xFF)
    dec = gif_lzw_decode(bytes(out), 8, len(pixels))
    assert np.array_equal(dec, pixels)


def test_lzw_roundtrip_all_min_code_sizes():
    rng = np.random.default_rng(23)
    for mcs in (2, 4, 8):
        data = rng.integers(0, 1 << mcs, 5000, dtype=np.uint8)
        assert np.array_equal(
            gif_lzw_decode(gif_lzw_encode(data, mcs), mcs, len(data)), data
        )


# ------------------------------------------------------------- Java fixtures


def test_java_palette_gif_fixture():
    """Java ImageIO's GIF writer (16-color palette) decodes bit-exact."""
    out = gif_decode((DATA / "java_gif_pal16_61x47.gif").read_bytes())
    truth = np.frombuffer(
        (DATA / "java_gif_pal16_61x47.truth.bin").read_bytes(), np.uint8
    ).reshape(47, 61, 3)
    assert np.array_equal(out, truth)


def test_java_animated_gif_fixture():
    frames = list(iter_gif_frames((DATA / "java_gif_anim3_24x18.gif").read_bytes()))
    truth = np.frombuffer(
        (DATA / "java_gif_anim3_24x18.truth.bin").read_bytes(), np.uint8
    ).reshape(3, 18, 24, 3)
    assert len(frames) == 3
    for k in range(3):
        assert np.array_equal(frames[k], truth[k])


# ------------------------------------------------------------- fuzz guards


@pytest.mark.parametrize(
    "blob",
    [
        b"GIF8",  # truncated header
        b"GIF89a" + b"\x00" * 7,  # zero-sized screen
        gif_encode(_gray(4, 4))[:20],  # truncated color table / blocks
        gif_encode(_gray(16, 16))[:-10],  # truncated LZW sub-blocks
        b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x3b",  # no image
        # frame rect outside the logical screen
        b"GIF89a"
        + _screen_and_gct(4, 4, _GRAY_PAL)
        + _image_block(np.zeros((4, 4), np.uint8), 2, 2, 256, False)
        + b"\x3b",
    ],
)
def test_malformed_raises(blob):
    with pytest.raises(ValueError):
        gif_decode(blob)


def test_lzw_code_beyond_frontier_raises():
    # 9-bit stream: literal 5, then code 300 (far past next_code=258)
    acc = 5 | (300 << 9)
    blob = bytes([acc & 0xFF, (acc >> 8) & 0xFF, (acc >> 16) & 0xFF])
    with pytest.raises(ValueError, match="frontier"):
        gif_lzw_decode(blob, 8, 100)


def test_lzw_overrun_raises():
    # all-zero raster -> run entries of length 1,2,3,... (cumulative
    # 1,3,6,10,15); expected=12 lands mid-entry, which a descriptor
    # lying about its rect would produce
    stream = gif_lzw_encode(np.zeros(64, np.uint8), 8)
    with pytest.raises(ValueError, match="overrun"):
        gif_lzw_decode(stream, 8, 12)
