"""WebP lossless (VP8L) codec tests.

Round-trips pin the encoder+decoder pair; the decoder-only features
(predictor / color / color-indexing transforms, LZ77 backrefs with the
two-dimensional distance map, color cache, meta-prefix images) are
pinned by HAND-BUILT bitstreams whose expected pixels are computed by
independent scalar arithmetic inside each test — no libwebp exists in
this container (see the module docstring's validation note)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_inference_spark.bitcodes import LsbBitWriter, canonical_codes
from ocr_inference_spark.webpcodec import (
    _package_merge,
    _write_prefix_code,
    vp8l_decode,
    webp_decode,
    webp_encode,
)


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{symbol: length} -> {symbol: (code, length)}, codes assigned in
    (length, symbol) order."""
    order = sorted((l, s) for s, l in lengths.items() if l > 0)
    return {s: (c, l) for s, c, l in canonical_codes((s, l) for l, s in order)}


def _gray(h=48, w=64):
    y, x = np.mgrid[0:h, 0:w]
    return ((x * 7 + y * 13 + (x * y) % 31) % 256).astype(np.uint8)


# ----------------------------------------------------------- round trips


@pytest.mark.parametrize("shape", [(1, 1), (5, 7), (48, 64), (120, 200)])
def test_gray_roundtrip(shape):
    img = np.random.default_rng(sum(shape)).integers(0, 256, shape, dtype=np.uint8)
    out = webp_decode(webp_encode(img))
    assert out.shape == shape and np.array_equal(out, img)


def test_rgb_rgba_roundtrip():
    rng = np.random.default_rng(11)
    c = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    assert np.array_equal(webp_decode(webp_encode(c)), c)
    ca = rng.integers(0, 256, (12, 17, 4), dtype=np.uint8)
    assert np.array_equal(webp_decode(webp_encode(ca)), ca)


def test_structured_page_roundtrip():
    from ocr_inference_spark.render import render_page

    img = render_page(["the quick brown fox"])
    assert np.array_equal(webp_decode(webp_encode(img)), img)


# ------------------------------------------------- hand-built stream helpers


def _header(bw: LsbBitWriter, w: int, h: int) -> None:
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version


def _plain_codes(bw: LsbBitWriter, green_syms: dict[int, int]):
    """Write a 5-code group: a real green code over `green_syms`
    (symbol -> freq), single-symbol red=0/blue=0/alpha=255, single
    distance=0. Returns the green canonical code map."""
    lengths = _package_merge(green_syms, 15)
    _write_prefix_code(bw, lengths, 256 + 24)
    for sym in (0, 0, 255):
        _write_prefix_code(bw, {sym: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)
    return None if len(lengths) == 1 else _canonical_codes(lengths)


def _emit(bw, codes, sym):
    if codes is not None:
        c, l = codes[sym]
        bw.write_code(c, l)


def _finish(bw: LsbBitWriter) -> bytes:
    return b"\x2f" + bw.finish()


def _gpx(g: int) -> int:
    """ARGB pixel this stream family produces: a=255, r=b=0, green=g."""
    return (255 << 24) | (g << 8)


# ----------------------------------------------------------- LZ77 + cache


def test_lz77_backref_linear_distance():
    # 6x1: literals 10,20,30 then a length-3 copy at distance 3
    # distance: prefix VALUE 123 (> 120) -> dist = 3. Code 13 spans
    # values 98..129 (extra=5, offset=(2+1)<<5=96): extra bits = 26.
    bw2 = LsbBitWriter()
    _header(bw2, 6, 1)
    bw2.write(0, 1)
    bw2.write(0, 1)
    bw2.write(0, 1)
    green = {10: 1, 20: 1, 30: 1, 256 + 2: 1}
    lengths = _package_merge(green, 15)
    _write_prefix_code(bw2, lengths, 256 + 24)
    for sym in (0, 0, 255):
        _write_prefix_code(bw2, {sym: 1}, 256)
    _write_prefix_code(bw2, {13: 1}, 40)  # distance prefix code 13, 0 bits
    gcodes = _canonical_codes(lengths)
    for g in (10, 20, 30):
        c, l = gcodes[g]
        bw2.write_code(c, l)
    c, l = gcodes[256 + 2]
    bw2.write_code(c, l)  # length 3
    bw2.write(26, 5)  # extra bits: 96 + 26 + 1 = 123 -> dist 3
    px = vp8l_decode(_finish(bw2))
    assert px[:, :, 1].tolist() == [[10, 20, 30, 10, 20, 30]]  # green
    assert int(px[:, :, 0].max()) == 0 and int(px[:, :, 2].max()) == 0


def test_lz77_distance_map_copies_pixel_above():
    # 3x2 image: first row literals 5,6,7; second row = one length-3
    # copy with distance code 1 -> map (0,1) -> dist = xsize -> row above
    bw = LsbBitWriter()
    _header(bw, 3, 2)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    green = {5: 1, 6: 1, 7: 1, 256 + 2: 1}
    lengths = _package_merge(green, 15)
    _write_prefix_code(bw, lengths, 256 + 24)
    for sym in (0, 0, 255):
        _write_prefix_code(bw, {sym: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)  # distance prefix value 1 -> code 1
    gcodes = _canonical_codes(lengths)
    for g in (5, 6, 7):
        c, l = gcodes[g]
        bw.write_code(c, l)
    c, l = gcodes[256 + 2]
    bw.write_code(c, l)
    px = vp8l_decode(_finish(bw))
    assert px[:, :, 1].tolist() == [[5, 6, 7], [5, 6, 7]]


def test_color_cache_hit():
    # cache_bits=4: literal green=200 inserts ARGB ff00c800 at index
    # (0x1e35a7bd * px) >> 28 (computed independently here), then the
    # cache symbol re-emits it
    px_val = (255 << 24) | (200 << 8)
    idx = ((0x1E35A7BD * px_val) & 0xFFFFFFFF) >> 28
    bw = LsbBitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # cache present
    bw.write(4, 4)  # cache_bits=4
    bw.write(0, 1)  # no meta
    green = {200: 1, 256 + 24 + idx: 1}
    lengths = _package_merge(green, 15)
    _write_prefix_code(bw, lengths, 256 + 24 + 16)
    for sym in (0, 0, 255):
        _write_prefix_code(bw, {sym: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)
    gcodes = _canonical_codes(lengths)
    for s in (200, 256 + 24 + idx):
        c, l = gcodes[s]
        bw.write_code(c, l)
    px = vp8l_decode(_finish(bw))
    assert px[:, :, 1].tolist() == [[200, 200]]


# ----------------------------------------------------------- transforms


def _subimage_bits(bw: LsbBitWriter, pixels: list[int]):
    """Entropy-code a tiny ARGB subimage (tile/palette stream): no
    cache, literal-only, one code group; each pixel is (a,r,g,b)."""
    greens = {}
    reds = {}
    blues = {}
    alphas = {}
    for p in pixels:
        a, r, g, b = (p >> 24) & 255, (p >> 16) & 255, (p >> 8) & 255, p & 255
        for d, v in ((greens, g), (reds, r), (blues, b), (alphas, a)):
            d[v] = d.get(v, 0) + 1
    bw.write(0, 1)  # no cache
    maps = []
    for freqs, alphabet in (
        (greens, 256 + 24), (reds, 256), (blues, 256), (alphas, 256)
    ):
        lengths = _package_merge(freqs, 15)
        _write_prefix_code(bw, lengths, alphabet)
        maps.append(None if len(lengths) == 1 else _canonical_codes(lengths))
    _write_prefix_code(bw, {0: 1}, 40)
    gm, rm, bm, am = maps
    for p in pixels:
        a, r, g, b = (p >> 24) & 255, (p >> 16) & 255, (p >> 8) & 255, p & 255
        _emit(bw, gm, g)
        _emit(bw, rm, r)
        _emit(bw, bm, b)
        _emit(bw, am, a)


def test_predictor_transform_mode_left():
    # 4x1 image, one tile, mode 1 (L): residuals 10,5,250,3 ->
    # cumulative sums mod 256; pixel 0 predicts opaque black
    bw = LsbBitWriter()
    _header(bw, 4, 1)
    bw.write(1, 1)  # transform present
    bw.write(0, 2)  # PREDICTOR
    bw.write(2, 3)  # size_bits = 4 -> one 16-px tile
    _subimage_bits(bw, [(0xFF << 24) | (1 << 8)])  # tile green=mode 1
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    codes = _plain_codes(bw, {10: 1, 5: 1, 250: 1, 3: 1})
    for g in (10, 5, 250, 3):
        _emit(bw, codes, g)
    px = vp8l_decode(_finish(bw))
    # greens: 10, 15, (15+250)%256=9, 12 — independent scalar arithmetic
    assert px.ndim == 3  # alpha residual chain makes r/b differ from g
    assert px[0, :, 1].tolist() == [10, 15, 9, 12]


def test_predictor_mode_top_and_clamped():
    # 2x2, mode 12 (ClampAddSubtractFull); hand-computed per channel:
    # (0,0): pred black -> g=200, a = 0+255 = 255
    # (0,1) top row: pred L -> g = (200+100)%256 = 44
    # (1,0) left col: pred T -> g = (200+30)%256 = 230
    # (1,1): pred = clamp(L + T - TL) = clamp(230+44-200)=74; g=74+2=76
    bw = LsbBitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)
    bw.write(0, 2)
    bw.write(0, 3)  # size_bits=2 -> tile covers 4x4
    _subimage_bits(bw, [(0xFF << 24) | (12 << 8)])
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    # all non-green residuals 0: predictions already carry opaque
    # black alpha, so residual-0 chains keep alpha=255 everywhere
    codes = _plain_codes(bw, {200: 1, 100: 1, 30: 1, 2: 1})
    for g in (200, 100, 30, 2):
        _emit(bw, codes, g)
    px = vp8l_decode(_finish(bw))
    assert px[:, :, 1].tolist() == [[200, 44], [230, 76]]


def test_color_transform_arithmetic():
    # one tile: green_to_red=2 (blue byte), green_to_blue=255 (green
    # byte, = -1 as int8), red_to_blue=0; pixel g=100, r_res=10, b_res=50
    # delta(2, 100)  = (2*100)>>5  = 6   -> r = 16
    # delta(-1, 100) = (-100)>>5   = -4 (arithmetic) -> b = (50-4)+d2
    # delta(0, r=16) = 0           -> b = 46
    bw = LsbBitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR transform
    bw.write(0, 3)  # size_bits=2
    cte = (0xFF << 24) | (0 << 16) | (255 << 8) | 2
    _subimage_bits(bw, [cte])
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    greens = {100: 1}
    _write_prefix_code(bw, _package_merge(greens, 15), 256 + 24)
    _write_prefix_code(bw, {10: 1}, 256)  # red residual
    _write_prefix_code(bw, {50: 1}, 256)  # blue residual
    _write_prefix_code(bw, {255: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)
    px = vp8l_decode(_finish(bw))
    assert px.tolist() == [[[16, 100, 46]]]


def test_color_indexing_with_bundling():
    # palette of 4 grays -> 2-bit indices, 4 per byte; width 9 ->
    # packed width 3. indices row: 0 1 2 3 0 1 2 3 0
    pal = [0, 85, 170, 255]
    bw = LsbBitWriter()
    _header(bw, 9, 1)
    bw.write(1, 1)
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(3, 8)  # palette_size - 1
    # palette subimage: byte-delta coded left to right
    deltas = []
    prev = (0, 0, 0, 0)
    for v in pal:
        cur = (255, v, v, v)
        deltas.append(tuple((c - p) & 0xFF for c, p in zip(cur, prev)))
        prev = cur
    _subimage_bits(
        bw,
        [(a << 24) | (r << 16) | (g << 8) | b for a, r, g, b in deltas],
    )
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    # packed greens: bundles LSB-first: [0|1<<2|2<<4|3<<6, same, 0]
    packed = [0b11100100, 0b11100100, 0b00000000]
    codes = _plain_codes(bw, {packed[0]: 2, 0: 1})
    for v in packed:
        _emit(bw, codes, v)
    px = vp8l_decode(_finish(bw))
    assert px.tolist() == [[0, 85, 170, 255, 0, 85, 170, 255, 0]]


def test_meta_prefix_groups():
    # 2x1 image, meta tile bits=2 is impossible for 2 tiles at width 2:
    # use meta_bits=0? spec minimum is 2 -> need width > 4 for 2 tiles;
    # 8x1 with meta_bits=2 -> 2 tiles of 4px. Group 0 emits green=11,
    # group 1 emits green=22 (each single-symbol, zero pixel bits).
    bw = LsbBitWriter()
    _header(bw, 8, 1)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta-prefix present
    bw.write(0, 3)  # meta_bits = 2
    # meta image 2x1: pixels (red<<8)|green = group ids 0 and 1
    _subimage_bits(bw, [(0xFF << 24) | (0 << 8), (0xFF << 24) | (1 << 8)])
    # group 0
    _plain_codes(bw, {11: 1})
    # group 1
    _plain_codes(bw, {22: 1})
    px = vp8l_decode(_finish(bw))
    assert px[:, :, 1].tolist() == [[11, 11, 11, 11, 22, 22, 22, 22]]


# ----------------------------------------------------------- container


def test_container_dispatch_and_lossy_boundary():
    from ocr_inference_spark.imgcodec import decode_image, sniff_format

    img = _gray(9, 13)
    blob = webp_encode(img)
    assert sniff_format(blob[:12]) == "webp"
    assert np.array_equal(decode_image(blob), img)
    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + struct.pack("<I", 0)
    with pytest.raises(NotImplementedError):
        webp_decode(lossy)


@pytest.mark.parametrize(
    "blob",
    [
        b"RIFF",
        b"RIFF\x04\x00\x00\x00WAVE",
        b"RIFF\x0c\x00\x00\x00WEBPJUNK\x00\x00\x00\x00",
        b"RIFF\x10\x00\x00\x00WEBPVP8L\x04\x00\x00\x00\x00\x00\x00\x00",  # bad sig
    ],
)
def test_malformed_raises(blob):
    with pytest.raises(ValueError):
        webp_decode(blob)


def test_truncated_stream_raises():
    blob = webp_encode(_gray(16, 16))
    with pytest.raises(ValueError, match="truncated"):
        webp_decode(blob[:-8])
