"""Byte and pixel pins for the JPEG codec.

The encoder is deterministic, so every ``jpeg_encode`` and
``jpeg_encode_progressive`` output over a small seeded matrix is pinned
by md5, and so is every ``jpeg_decode`` result over those streams, the
Java ImageIO fixtures and half-length truncations of all of them (a
decode that raises contributes its exception's repr). A refactor of the
scan geometry, the frame writer or the bit writer must leave both
digests unchanged.
"""

from __future__ import annotations

import hashlib
import itertools
from pathlib import Path

import numpy as np
import pytest

from ocr_inference_spark.jpegcodec import (
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
)

SIZES = ((1, 1), (17, 23), (33, 65))

ENCODE_MD5 = "ad407e93abf1d594ffa8cbd7371d1a59"
DECODE_MD5 = "bc9af0d751683d018ac5e0e982bdcd79"


def _image(h: int, w: int, rgb: bool) -> np.ndarray:
    """Gradient plus seeded noise, with a flat left third so progressive
    scans see all-zero bands (EOB runs) as well as busy blocks."""
    rng = np.random.default_rng(h * 1000 + w + rgb)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 40 + 3 * xx + 2 * yy + rng.integers(-40, 41, size=(h, w))
    base[:, : w // 3] = 128
    g = np.clip(base, 0, 255).astype(np.uint8)
    if not rgb:
        return g
    return np.stack([g, np.roll(g, 5, axis=1), 255 - g], axis=-1)


def _streams():
    """(case, bytes) for every encoder configuration in the matrix."""
    for (h, w), rgb in itertools.product(SIZES, (False, True)):
        img = _image(h, w, rgb)
        for sub, rst, inter, exif, q in itertools.product(
            ("444", "420", "422"), (0, 3), (True, False), (0, 6), (50, 95)
        ):
            case = ("base", h, w, rgb, sub, rst, inter, exif, q)
            yield case, jpeg_encode(
                img, quality=q, subsampling=sub, restart_interval=rst,
                interleaved=inter, exif_orientation=exif,
            )
        for sub, q in itertools.product(("444", "420"), (50, 95)):
            case = ("prog", h, w, rgb, sub, q)
            yield case, jpeg_encode_progressive(img, quality=q, subsampling=sub)


def _decode_digest(data: bytes) -> str:
    try:
        out = jpeg_decode(data)
    except Exception as exc:  # noqa: BLE001 - the error itself is pinned
        return "err:" + repr(exc)
    return f"{out.shape}{out.dtype}" + hashlib.md5(out.tobytes()).hexdigest()


def _digests() -> tuple[str, str, int]:
    enc = hashlib.md5()
    dec = hashlib.md5()
    blobs = []
    for case, data in _streams():
        enc.update(repr(case).encode() + hashlib.md5(data).digest())
        blobs.append(data)
    data_dir = Path(__file__).parent / "data"
    blobs += [p.read_bytes() for p in sorted(data_dir.glob("*.jpg"))]
    for data in blobs:
        for blob in (data, data[: len(data) // 2]):
            dec.update(_decode_digest(blob).encode())
    return enc.hexdigest(), dec.hexdigest(), len(blobs)


def test_jpeg_encoder_bytes_and_decoder_pixels_are_pinned():
    enc, dec, n = _digests()
    assert n == 312 + 2
    assert enc == ENCODE_MD5
    assert dec == DECODE_MD5


def test_cut_or_overrun_segments_raise_value_error():
    # a stream that ends inside a segment or a marker, and a Huffman
    # table whose code counts run past its own segment, are malformed
    # media: ValueError, which every caller turns into a failed row
    data = jpeg_encode(_image(17, 23, False), quality=90)
    dht = data.find(b"\xff\xc4")
    bad_counts = bytearray(data)
    bad_counts[dht + 5 : dht + 21] = bytes([255] * 16)
    for blob in (data[:150], data[: dht + 1], bytes(bad_counts)):
        with pytest.raises(ValueError):
            jpeg_decode(blob)
