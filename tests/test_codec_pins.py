"""Byte and pixel pins for the GIF, TIFF and WebP codecs.

Every encoder here is deterministic, so each ``gif_encode``,
``gif_encode_frames``, ``tiff_encode`` and ``webp_encode`` output over a
small seeded matrix is pinned by md5. So is every decode of those
streams, of the Java ImageIO GIF and TIFF fixtures in ``tests/data`` and
of half-length truncations of all of them (a decode that raises
contributes its exception's repr). A refactor of the LZW coder, the bit
writers, the canonical-code builder or the inflate step must leave both
digests unchanged. Every one of those errors is a ``ValueError``: a
malformed stream never escapes as ``struct.error`` or ``zlib.error``.
"""

from __future__ import annotations

import hashlib
import itertools
from pathlib import Path

import numpy as np
import pytest

from ocr_inference_spark.gifcodec import gif_encode, gif_encode_frames, iter_gif_frames
from ocr_inference_spark.imgcodec import png_decode, png_encode, tiff_decode, tiff_encode
from ocr_inference_spark.render import render_page
from ocr_inference_spark.webpcodec import webp_decode, webp_encode

SIZES = ((1, 1), (17, 23), (33, 65))

ENCODE_MD5 = "d748cf297e4f4c3812b7153204651b10"
DECODE_MD5 = "96ae577130c5d5d68de1604db9a696f6"


def _image(h: int, w: int, channels: int) -> np.ndarray:
    """Gradient plus seeded noise with a flat left third, so run-length
    and dictionary coders see long repeats as well as busy rows."""
    rng = np.random.default_rng(h * 1000 + w * 10 + channels)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 40 + 3 * xx + 2 * yy + rng.integers(-40, 41, size=(h, w))
    base[:, : w // 3] = 128
    g = np.clip(base, 0, 255).astype(np.uint8)
    if channels == 1:
        return g
    planes = [g, np.roll(g, 5, axis=1), 255 - g, np.full_like(g, 200)]
    return np.stack(planes[:channels], axis=-1)


def _noise(h: int, w: int) -> np.ndarray:
    """Incompressible gray: enough LZW codes to fill the 4096-entry
    dictionary, so the clear-and-restart path is pinned too."""
    return np.random.default_rng(7).integers(0, 256, (h, w), dtype=np.uint8)


def _palette_image(h: int, w: int) -> np.ndarray:
    """RGB with 12 colors, so the GIF encoder takes its palette path."""
    idx = (np.add.outer(np.arange(h) // 3, np.arange(w) // 4)) % 12
    colors = np.random.default_rng(11).integers(0, 256, (12, 3), dtype=np.uint8)
    return colors[idx]


def _streams():
    """(format, case, bytes) for every encoder configuration."""
    for (h, w), inter in itertools.product(SIZES, (False, True)):
        yield "gif", ("gif", h, w, "gray", inter), gif_encode(_image(h, w, 1), inter)
        yield "gif", ("gif", h, w, "pal", inter), gif_encode(_palette_image(h, w), inter)
    yield "gif", ("gif", "noise"), gif_encode(_noise(96, 120))
    for h, w in SIZES[1:]:
        gray = [np.roll(_image(h, w, 1), k, axis=1) for k in range(3)]
        pal = [np.roll(_palette_image(h, w), k, axis=0) for k in range(3)]
        yield "gif", ("frames", h, w, "gray"), gif_encode_frames(gray)
        yield "gif", ("frames", h, w, "pal"), gif_encode_frames(
            pal, delay_cs=7, transparent_of=lambda i: (np.indices((h, w)).sum(0) + i) % 5 == 0
        )
    for (h, w), ch in itertools.product(SIZES, (1, 3)):
        img = _image(h, w, ch)
        for comp, pred, rps in itertools.product(
            ("none", "lzw", "deflate", "packbits"), (1, 2), (None, 5)
        ):
            if comp == "none" and pred == 2:
                continue
            case = ("tiff", h, w, ch, comp, pred, rps)
            yield "tiff", case, tiff_encode(img, comp, pred, rps)
    for comp in ("lzw", "deflate", "packbits"):
        yield "tiff", ("tiff", "noise", comp), tiff_encode(_noise(96, 120), comp)
    for (h, w), ch in itertools.product(SIZES, (1, 3, 4)):
        yield "webp", ("webp", h, w, ch), webp_encode(_image(h, w, ch))


def _decode(fmt: str, data: bytes):
    if fmt == "gif":
        return np.stack(list(iter_gif_frames(data)))
    if fmt == "tiff":
        return tiff_decode(data)
    return webp_decode(data)


def _decode_digest(fmt: str, data: bytes) -> str:
    try:
        out = _decode(fmt, data)
    except Exception as exc:  # noqa: BLE001 - the error itself is pinned
        return "err:" + repr(exc)
    return f"{out.shape}{out.dtype}" + hashlib.md5(out.tobytes()).hexdigest()


def _digests() -> tuple[str, str, int]:
    enc = hashlib.md5()
    dec = hashlib.md5()
    blobs = []
    for fmt, case, data in _streams():
        enc.update(repr(case).encode() + hashlib.md5(data).digest())
        blobs.append((fmt, data))
    data_dir = Path(__file__).parent / "data"
    for pattern, fmt in (("java_*.gif", "gif"), ("java_*.tif", "tiff")):
        blobs += [(fmt, p.read_bytes()) for p in sorted(data_dir.glob(pattern))]
    for fmt, data in blobs:
        for blob in (data, data[: len(data) // 2]):
            dec.update(_decode_digest(fmt, blob).encode())
    return enc.hexdigest(), dec.hexdigest(), len(blobs)


def test_codec_encoder_bytes_and_decoder_pixels_are_pinned():
    enc, dec, n = _digests()
    assert n == 113 + 7
    assert enc == ENCODE_MD5
    assert dec == DECODE_MD5


def _page() -> np.ndarray:
    return render_page(["the quick brown fox"])


def _overwrite(data: bytes, at: int) -> bytes:
    """Eight bytes of 0xFF over ``data[at:at + 8]``."""
    return data[:at] + b"\xff" * 8 + data[at + 8 :]


def _idat_overwritten() -> bytes:
    png = png_encode(_page())
    return _overwrite(png, png.index(b"IDAT") + 4 + 8)  # 8 bytes into the data


MALFORMED = {
    # an LZW page cut inside its IFD, which follows the strip data
    "tiff_lzw_cut_288": lambda: tiff_decode(tiff_encode(_page(), "lzw")[:288]),
    "tiff_lzw_cut_556": lambda: tiff_decode(tiff_encode(_page(), "lzw")[:556]),
    # corrupt zlib streams; the one strip starts after the 8-byte header
    "tiff_deflate_strip_ff": lambda: tiff_decode(
        _overwrite(tiff_encode(_page(), "deflate"), 8 + 8)
    ),
    "png_idat_ff": lambda: png_decode(_idat_overwritten()),
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_media_raises_value_error(case):
    with pytest.raises(ValueError):
        MALFORMED[case]()
