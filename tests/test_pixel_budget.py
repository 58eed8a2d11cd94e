"""The page pixel budget: a header that claims more than
``imgcodec.MAX_PAGE_PIXELS`` raises before the decoder allocates, so a
decompression bomb becomes a ``failed:decode`` row, not an OOM."""

from __future__ import annotations

import struct
import time

import numpy as np
import pytest

from ocr_inference_spark.bmpcodec import bmp_encode, pnm_encode
from ocr_inference_spark.gifcodec import gif_encode
from ocr_inference_spark.imgcodec import (
    MAX_PAGE_PIXELS,
    decode_image,
    png_encode,
    tiff_encode,
)
from ocr_inference_spark.jpegcodec import jpeg_encode
from ocr_inference_spark.model import RecognitionSession, serialize_weights
from ocr_inference_spark.page import process_page
from ocr_inference_spark.webpcodec import webp_encode

W = H = 8000  # 64 MPix
SMALL = np.full((8, 8), 200, dtype=np.uint8)


def _png():
    data = bytearray(png_encode(SMALL))
    data[16:24] = struct.pack(">II", W, H)  # IHDR width, height
    return bytes(data)


def _tiff():
    data = bytearray(tiff_encode(SMALL))
    bo = "<" if data[:2] == b"II" else ">"
    (ifd,) = struct.unpack(bo + "I", data[4:8])
    (n,) = struct.unpack(bo + "H", data[ifd : ifd + 2])
    for i in range(n):
        off = ifd + 2 + 12 * i
        tag, typ = struct.unpack(bo + "HH", data[off : off + 4])
        if tag in (256, 257):  # ImageWidth, ImageLength
            fmt = bo + ("H" if typ == 3 else "I")
            data[off + 8 : off + 8 + struct.calcsize(fmt)] = struct.pack(fmt, W)
    return bytes(data)


def _jpeg():
    data = bytearray(jpeg_encode(SMALL))
    sof = data.find(b"\xff\xc0")
    data[sof + 5 : sof + 9] = struct.pack(">HH", H, W)
    return bytes(data)


def _gif():
    data = bytearray(gif_encode(SMALL))
    data[6:10] = struct.pack("<HH", W, H)  # logical screen
    return bytes(data)


def _webp():
    data = bytearray(webp_encode(SMALL))
    vp8l = data.find(b"VP8L") + 8  # chunk payload: 0x2F, then 14+14 bits
    (bits,) = struct.unpack("<I", data[vp8l + 1 : vp8l + 5])
    bits = (bits & ~((1 << 28) - 1)) | (W - 1) | ((H - 1) << 14)
    data[vp8l + 1 : vp8l + 5] = struct.pack("<I", bits)
    return bytes(data)


def _bmp():
    data = bytearray(bmp_encode(SMALL))
    data[18:26] = struct.pack("<ii", W, H)  # BITMAPINFOHEADER
    return bytes(data)


def _pnm():
    return b"P5\n%d %d\n255\n" % (W, H) + SMALL.tobytes()


BOMBS = {
    "png": _png, "tiff": _tiff, "jpeg": _jpeg, "gif": _gif,
    "webp": _webp, "bmp": _bmp, "pnm": _pnm,
}


def test_budget_admits_a_600_dpi_a4_scan():
    assert 4961 * 7016 <= MAX_PAGE_PIXELS < W * H


@pytest.mark.parametrize("fmt", sorted(BOMBS))
def test_header_over_the_budget_raises_before_decoding(fmt):
    data = BOMBS[fmt]()
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="pixel page budget"):
        decode_image(data)
    assert time.perf_counter() - t0 < 0.5
    res = process_page(data, RecognitionSession(serialize_weights()))
    assert res.status == "failed:decode"
