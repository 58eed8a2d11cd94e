"""JPEG/TIFF codecs + format sniffing (reference ingests jpg/jpeg/png/tif
scans, reference cli.py:16; our engine decodes them inside the Arrow
batch via imgcodec.decode_image)."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_inference_spark.imgcodec import (
    decode_image,
    png_encode,
    sniff_format,
    tiff_decode,
    tiff_encode,
)
from ocr_inference_spark.jpegcodec import jpeg_decode, jpeg_encode


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _test_image_gray(h=72, w=96, seed=3):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = 128 + 90 * np.sin(xx / 9.0) * np.cos(yy / 7.0)
    img += rng.normal(0, 4, size=(h, w))
    return np.clip(img, 0, 255).astype(np.uint8)


def _test_image_rgb(h=64, w=80, seed=5):
    g = _test_image_gray(h, w, seed)
    rgb = np.stack([g, np.roll(g, 7, axis=1), 255 - g], axis=-1)
    return rgb.astype(np.uint8)


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------


def test_jpeg_roundtrip_gray_high_quality():
    img = _test_image_gray()
    out = jpeg_decode(jpeg_encode(img, quality=95))
    assert out.shape == img.shape and out.dtype == np.uint8
    assert _psnr(img, out) > 35.0


def test_jpeg_roundtrip_rgb():
    img = _test_image_rgb()
    out = jpeg_decode(jpeg_encode(img, quality=92))
    assert out.shape == img.shape
    assert _psnr(img, out) > 30.0


def test_jpeg_quality_monotonic():
    img = _test_image_gray()
    lo = len(jpeg_encode(img, quality=30))
    hi = len(jpeg_encode(img, quality=95))
    assert lo < hi
    # low quality still decodes to roughly the same picture
    assert _psnr(img, jpeg_decode(jpeg_encode(img, quality=30))) > 22.0


def test_jpeg_non_multiple_of_8_dimensions():
    img = _test_image_gray(h=37, w=53)
    out = jpeg_decode(jpeg_encode(img, quality=95))
    assert out.shape == (37, 53)
    assert _psnr(img, out) > 33.0


def test_jpeg_flat_image_exact():
    img = np.full((24, 40), 180, dtype=np.uint8)
    out = jpeg_decode(jpeg_encode(img, quality=90))
    assert int(np.abs(out.astype(int) - 180).max()) <= 1


def test_jpeg_rejects_unsupported_process_markers():
    """Lossless (SOF3) and arithmetic-coded (SOF9) processes raise a
    clear error; a baseline stream whose SOF is flipped to SOF2 is
    caught by progressive scan-header validation (its full-band scan is
    illegal for a progressive DC scan)."""
    img = _test_image_gray(16, 16)
    for bad in (0xC3, 0xC9):
        data = bytearray(jpeg_encode(img, quality=90))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = bad
        with pytest.raises(ValueError, match="process"):
            jpeg_decode(bytes(data))
    data = bytearray(jpeg_encode(img, quality=90))
    data[data.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        jpeg_decode(bytes(data))


def test_jpeg_progressive_matches_baseline_exactly():
    """Progressive (SOF2, spectral selection + successive approximation)
    carries the SAME quantized coefficients as baseline — decode must be
    bit-identical to the baseline decode, for gray / 4:4:4 / 4:2:0 and
    non-multiple-of-8 shapes."""
    from ocr_inference_spark.jpegcodec import jpeg_encode_progressive

    cases = [
        (_test_image_gray(), "444"),
        (_test_image_gray(37, 53), "444"),
        (_test_image_rgb(), "444"),
        (_test_image_rgb(50, 66), "420"),
    ]
    for img, sub in cases:
        base = jpeg_decode(jpeg_encode(img, quality=90, subsampling=sub))
        data = jpeg_encode_progressive(img, quality=90, subsampling=sub)
        assert b"\xff\xc2" in data  # really SOF2
        assert np.array_equal(jpeg_decode(data), base), (img.shape, sub)


def test_jpeg_progressive_java_imageio_fixtures():
    """Real-world progressive streams: fixtures written by Java
    ImageIO's JPEG encoder (independent libjpeg-convention scan
    scripts); expected pixels are Java's own decode. Differences beyond
    IDCT/upsampling rounding mean the scan machinery is wrong."""
    import os

    here = os.path.join(os.path.dirname(__file__), "data")
    for name, shape, tol in [
        ("java_prog_gray_64x48", (48, 64), 1),
        ("java_prog_rgb_64x48", (48, 64, 3), 3),
    ]:
        with open(os.path.join(here, name + ".jpg"), "rb") as f:
            data = f.read()
        assert b"\xff\xc2" in data
        mine = jpeg_decode(data)
        with open(os.path.join(here, name + ".expected.bin"), "rb") as f:
            exp = np.frombuffer(f.read(), dtype=np.uint8).reshape(shape)
        assert mine.shape == exp.shape
        assert int(np.abs(mine.astype(int) - exp.astype(int)).max()) <= tol


def test_jpeg_noninterleaved_baseline_matches_interleaved():
    """One-SOS-per-component baseline (T.81 A.2.2: single-component
    scans walk ceil(w_c/8) x ceil(h_c/8), sampling factors ignored)
    decodes identically to the interleaved layout, with and without
    restart markers."""
    for img, sub in [
        (_test_image_rgb(), "444"),
        (_test_image_rgb(37, 53), "444"),
        (_test_image_rgb(50, 66), "420"),
    ]:
        inter = jpeg_decode(jpeg_encode(img, quality=90, subsampling=sub))
        ni = jpeg_decode(
            jpeg_encode(img, quality=90, subsampling=sub, interleaved=False)
        )
        assert np.array_equal(inter, ni), (img.shape, sub)
    img = _test_image_rgb(48, 80)
    a = jpeg_decode(jpeg_encode(img, quality=95, interleaved=False))
    b = jpeg_decode(
        jpeg_encode(img, quality=95, interleaved=False, restart_interval=5)
    )
    assert np.array_equal(a, b)


@pytest.mark.parametrize("cut", [0.2, 0.5, 0.8])
def test_jpeg_progressive_truncated_terminates(cut):
    """A truncated progressive stream (fewer refinement scans) must
    terminate — either a clear error or a coarser image of the declared
    shape (that is the point of progressive encoding)."""
    from ocr_inference_spark.jpegcodec import jpeg_encode_progressive

    img = _test_image_gray(40, 56)
    data = jpeg_encode_progressive(img, quality=90)
    try:
        out = jpeg_decode(data[: int(len(data) * cut)])
        assert out.shape == img.shape and out.dtype == np.uint8
    except Exception:
        pass


def test_jpeg_exif_orientation_applied_like_cv2():
    """Exif orientation 2-8 (APP1) is applied on decode by default —
    matching cv2.imread, the reference's loader — and can be disabled.
    For each orientation the encoder stores the INVERSE-transformed
    pixels; decode must return the upright original."""
    from ocr_inference_spark.jpegcodec import _apply_orientation

    img = _test_image_gray(40, 56)
    # characterize the published Exif mapping on an asymmetric array
    probe = np.arange(12).reshape(3, 4)
    assert np.array_equal(_apply_orientation(probe, 3), probe[::-1, ::-1])
    assert np.array_equal(_apply_orientation(probe, 5), probe.T)
    assert np.array_equal(_apply_orientation(probe, 6), np.rot90(probe, -1))
    assert np.array_equal(_apply_orientation(probe, 8), np.rot90(probe, 1))

    inverse = {
        1: lambda a: a, 2: lambda a: a[:, ::-1], 3: lambda a: a[::-1, ::-1],
        4: lambda a: a[::-1], 5: lambda a: a.T, 6: lambda a: np.rot90(a, 1),
        7: lambda a: a[::-1, ::-1].T, 8: lambda a: np.rot90(a, -1),
    }
    for o, inv in inverse.items():
        stored = np.ascontiguousarray(inv(img))
        data = jpeg_encode(stored, quality=95, exif_orientation=o)
        assert b"Exif\x00\x00" in data
        out = jpeg_decode(data)
        assert out.shape == img.shape, o
        assert _psnr(img, out) > 33.0, o
        raw = jpeg_decode(data, apply_exif_orientation=False)
        assert raw.shape == stored.shape, o
    # no Exif segment -> identical either way
    plain = jpeg_encode(img, quality=95)
    assert np.array_equal(jpeg_decode(plain), jpeg_decode(plain, False))


def test_jpeg_rejects_garbage():
    with pytest.raises(ValueError):
        jpeg_decode(b"\x00\x01\x02garbage")


# ---------------------------------------------------------------------------
# TIFF
# ---------------------------------------------------------------------------


def test_tiff_roundtrip_gray_exact():
    img = _test_image_gray()
    out = tiff_decode(tiff_encode(img))
    assert np.array_equal(out, img)


def test_tiff_roundtrip_rgb_exact():
    img = _test_image_rgb()
    out = tiff_decode(tiff_encode(img))
    assert np.array_equal(out, img)


def test_tiff_big_endian_decode():
    """Hand-built MM (big-endian) grayscale TIFF decodes correctly."""
    import struct

    img = _test_image_gray(10, 12)
    pixels = img.tobytes()
    ifd_off = 8 + len(pixels)
    entries = []

    def entry(tag, typ, count, raw4):
        entries.append(struct.pack(">HHI4s", tag, typ, count, raw4))

    entry(256, 4, 1, struct.pack(">I", 12))
    entry(257, 4, 1, struct.pack(">I", 10))
    entry(258, 3, 1, struct.pack(">HH", 8, 0))
    entry(259, 3, 1, struct.pack(">HH", 1, 0))
    entry(262, 3, 1, struct.pack(">HH", 1, 0))
    entry(273, 4, 1, struct.pack(">I", 8))
    entry(277, 3, 1, struct.pack(">HH", 1, 0))
    entry(279, 4, 1, struct.pack(">I", len(pixels)))
    ifd = struct.pack(">H", len(entries)) + b"".join(entries) + struct.pack(">I", 0)
    data = b"MM\x00*" + struct.pack(">I", ifd_off) + pixels + ifd
    assert np.array_equal(tiff_decode(data), img)


def test_tiff_rejects_unsupported_compression():
    import struct

    data = bytearray(tiff_encode(_test_image_gray(8, 8)))
    # flip the compression SHORT (tag 259) to 7 (JPEG-in-TIFF)
    ifd_off = struct.unpack("<I", bytes(data[4:8]))[0]
    n = struct.unpack("<H", bytes(data[ifd_off : ifd_off + 2]))[0]
    for i in range(n):
        off = ifd_off + 2 + i * 12
        tag = struct.unpack("<H", bytes(data[off : off + 2]))[0]
        if tag == 259:
            data[off + 8 : off + 10] = struct.pack("<H", 7)
    with pytest.raises(ValueError, match="compression"):
        tiff_decode(bytes(data))


@pytest.mark.parametrize("comp,pred,rps", [
    ("lzw", 1, None),
    ("lzw", 2, None),
    ("lzw", 2, 16),
    ("deflate", 1, None),
    ("deflate", 2, 13),
    ("lzw", 2, 1),
])
def test_tiff_compressed_roundtrip_exact(comp, pred, rps):
    """LZW (TIFF 6.0 §13, early-change widths) and Deflate strips, with
    and without the horizontal-differencing predictor, single- and
    multi-strip — all byte-exact through encode->decode."""
    for img in (_test_image_gray(61, 83), _test_image_rgb(37, 59)):
        data = tiff_encode(img, compression=comp, predictor=pred, rows_per_strip=rps)
        assert sniff_format(data) == "tiff"
        assert np.array_equal(tiff_decode(data), img)
        if pred == 2 and rps is None:
            # differenced scanlines of this smooth image must compress
            assert len(data) < len(tiff_encode(img))


def test_tiff_lzw_java_imageio_fixture_interop():
    """Real-world LZW convention pin: these fixtures were written by
    Java ImageIO's TIFF plugin (an independent libtiff-convention
    implementation); content is the deterministic (3x+5y)%256 /
    channel-mixed pattern recomputed here. Guards the early-change
    code-width pairing against self-consistent-but-wrong drift."""
    import os

    here = os.path.join(os.path.dirname(__file__), "data")
    y, x = np.mgrid[0:48, 0:64]
    gray = ((3 * x + 5 * y) % 256).astype(np.uint8)
    with open(os.path.join(here, "java_lzw_gray_64x48.tif"), "rb") as f:
        assert np.array_equal(tiff_decode(f.read()), gray)
    rgb = np.stack(
        [(2 * x + y) % 256, (x + 3 * y) % 256, (7 * x + 11 * y) % 256], axis=-1
    ).astype(np.uint8)[:24, :32]
    with open(os.path.join(here, "java_lzw_rgb_32x24.tif"), "rb") as f:
        assert np.array_equal(tiff_decode(f.read()), rgb)


def test_png_all_filters_roundtrip_and_adaptive():
    """Row filters Sub/Up/Average/Paeth (encode forced per filter) all
    roundtrip exactly; adaptive selection beats filter-0 on noisy
    content. Filter encoding is cross-validated against Java ImageIO's
    reader (see imgcodec docstring); this pins the self-consistency."""
    from ocr_inference_spark.imgcodec import png_decode

    rng = np.random.default_rng(5)
    gray = np.clip(
        _test_image_gray(48, 64).astype(int) + rng.integers(-30, 30, (48, 64)),
        0, 255,
    ).astype(np.uint8)
    rgb = np.stack([gray, np.roll(gray, 7, axis=1), 255 - gray], axis=-1)
    for img in (gray, rgb):
        for fm in (1, 2, 3, 4, "adaptive"):
            assert np.array_equal(png_decode(png_encode(img, filter_mode=fm)), img)
    assert len(png_encode(gray, filter_mode="adaptive")) < len(png_encode(gray))


def test_png_java_imageio_fixtures_interlaced_and_palette():
    """Real-world PNG layouts from an independent writer (Java
    ImageIO): Adam7 interlacing (expected = the deterministic
    (3x+5y)%256 pattern the fixture was rendered from) and a palette
    (PLTE) image (expected = Java's own raster dump)."""
    import os

    from ocr_inference_spark.imgcodec import png_decode

    here = os.path.join(os.path.dirname(__file__), "data")
    yy, xx = np.mgrid[0:48, 0:64]
    pattern = ((3 * xx + 5 * yy) % 256).astype(np.uint8)
    with open(os.path.join(here, "java_png_gray_adam7.png"), "rb") as f:
        data = f.read()
    assert data[28] == 1  # IHDR interlace flag: really Adam7
    got = png_decode(data)
    assert got.ndim == 2 and np.array_equal(got, pattern)

    with open(os.path.join(here, "java_png_indexed.png"), "rb") as f:
        data = f.read()
    assert b"PLTE" in data[:200]
    got = png_decode(data)
    with open(os.path.join(here, "java_png_indexed.truth.bin"), "rb") as f:
        truth = np.frombuffer(f.read(), dtype=np.uint8).reshape(48, 64, 3)
    assert np.array_equal(got, truth)


def _build_png(width, height, bit_depth, color_type, rows, extra=b""):
    """Minimal PNG from pre-packed scanline bytes (filter 0)."""
    import struct
    import zlib

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + r for r in rows)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_png_low_bit_depth_and_alpha_variants():
    """Sub-8-bit grayscale (1/4-bit, scaled to full range), 16-bit
    (high byte, cv2-style), gray+alpha and RGBA (alpha stripped),
    and palette indices below 8 bits."""
    from ocr_inference_spark.imgcodec import png_decode

    # 1-bit gray, 10px wide: bits 1010101010 -> 255/0 alternating
    rows = [bytes([0b10101010, 0b10000000])] * 3
    out = png_decode(_build_png(10, 3, 1, 0, rows))
    assert out.shape == (3, 10)
    assert out[0].tolist() == [255, 0] * 5

    # 4-bit gray: values 0..15 scaled by 17
    packed = bytes([0x01, 0x23, 0x45])  # pixels 0,1,2,3,4,5
    out = png_decode(_build_png(6, 1, 4, 0, [packed]))
    assert out[0].tolist() == [0, 17, 34, 51, 68, 85]

    # 16-bit gray: high byte wins
    import struct as _s

    row = b"".join(_s.pack(">H", v) for v in (0x1234, 0xFF00, 0x00FF))
    out = png_decode(_build_png(3, 1, 16, 0, [row]))
    assert out[0].tolist() == [0x12, 0xFF, 0x00]

    # gray+alpha (type 4): alpha stripped
    row = bytes([200, 255, 100, 0])  # two pixels
    out = png_decode(_build_png(2, 1, 8, 4, [row]))
    assert out[0].tolist() == [200, 100]

    # RGBA (type 6): alpha stripped
    row = bytes([1, 2, 3, 255, 4, 5, 6, 0])
    out = png_decode(_build_png(2, 1, 8, 6, [row]))
    assert out[0].tolist() == [[1, 2, 3], [4, 5, 6]]

    # 2-bit palette: indices 0..3 -> PLTE colors
    import zlib as _z

    plte_payload = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    plte = (
        _s.pack(">I", len(plte_payload)) + b"PLTE" + plte_payload
        + _s.pack(">I", _z.crc32(b"PLTE" + plte_payload) & 0xFFFFFFFF)
    )
    packed = bytes([0b00011011])  # indices 0,1,2,3
    out = png_decode(_build_png(4, 1, 2, 3, [packed], extra=plte))
    assert out[0].tolist() == [[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]]


def test_tiff_packbits_roundtrip():
    """PackBits (TIFF 6.0 §9, compression 32773) — bidirectionally
    validated against Java ImageIO during development; this pins the
    self-roundtrip incl. multi-strip and the raw codec edge cases."""
    from ocr_inference_spark.imgcodec import (
        packbits_decode,
        packbits_encode,
        tiff_decode,
        tiff_encode,
    )

    rng = np.random.default_rng(7)
    for payload in (b"", b"a", b"aaaaab" * 100, b"\x00" * 1000,
                    bytes(rng.integers(0, 256, 5000, dtype=np.uint8))):
        assert packbits_decode(packbits_encode(payload), len(payload)) == payload
    assert packbits_decode(b"\x80", 0) == b""  # -128 noop per spec
    for img in (_test_image_gray(61, 83), _test_image_rgb(37, 59)):
        data = tiff_encode(img, compression="packbits", rows_per_strip=16)
        assert np.array_equal(tiff_decode(data), img)
    # a run-heavy image must actually compress
    flat = np.full((64, 64), 7, dtype=np.uint8)
    assert len(tiff_encode(flat, compression="packbits")) < len(tiff_encode(flat))


def _bilevel_pattern(h=48, w=64):
    yy, xx = np.mgrid[0:h, 0:w]
    return (((3 * xx + 5 * yy) % 17 < 9)).astype(np.uint8)  # 1 = white


def test_t4_tables_derived_and_prefix_free():
    """The MH tables were machine-derived from Java ImageIO's CCITT
    encoder (scripts/derive_t4_tables.py); pin their shape: terminating
    codes 0-63 + makeups 64..2560 step 64, prefix-free per colour,
    bit lengths within the published 2..13 range."""
    from ocr_inference_spark._t4_tables import BLACK_CODES, WHITE_CODES

    for codes in (WHITE_CODES, BLACK_CODES):
        assert set(codes) == set(range(64)) | {64 * k for k in range(1, 41)}
        assert all(2 <= len(v) <= 13 and set(v) <= {"0", "1"} for v in codes.values())
        vals = sorted(codes.values())
        for a, b in zip(vals, vals[1:]):
            assert not b.startswith(a), (a, b)


def test_fax_mh_and_g4_roundtrip():
    """CCITT RLE (T.4 1-D) and Group 4 (T.6 2-D) self-roundtrips on
    structured and adversarial bilevel content (all-white, all-black,
    single-pixel transitions, row-start black runs)."""
    from ocr_inference_spark.faxcodec import g4_decode, g4_encode, mh_decode, mh_encode

    rng = np.random.default_rng(9)
    cases = [
        _bilevel_pattern(),
        np.ones((5, 40), dtype=np.uint8),
        np.zeros((5, 40), dtype=np.uint8),
        (rng.random((30, 71)) < 0.5).astype(np.uint8),
        np.eye(17, 23, dtype=np.uint8),
    ]
    first_black = np.ones((4, 30), dtype=np.uint8)
    first_black[:, 0] = 0
    cases.append(first_black)
    for img in cases:
        h, w = img.shape
        assert np.array_equal(mh_decode(mh_encode(img), w, h), img)
        assert np.array_equal(g4_decode(g4_encode(img), w, h), img)


def test_tiff_fax_container_roundtrip():
    """Bilevel TIFF end to end: grayscale thresholded to 1-bit
    WhiteIsZero strips in 'g4' / 'ccitt-rle' / uncompressed layouts,
    decoded back to {0,255} gray, incl. multi-strip (fax reference
    line resets per strip)."""
    img = np.where(_bilevel_pattern(61, 83) == 1, 255, 0).astype(np.uint8)
    for compression, rps in (("g4", None), ("g4", 16), ("ccitt-rle", 13)):
        data = tiff_encode(img, compression=compression, rows_per_strip=rps)
        assert sniff_format(data) == "tiff"
        assert np.array_equal(tiff_decode(data), img)
    # G4 must compress well below the raw 8-bit layout even on this
    # transition-dense pattern (real scan pages do far better)
    assert len(tiff_encode(img, compression="g4")) < len(tiff_encode(img)) // 3


def test_fax_g3_roundtrip_and_container():
    """T.4/G3 (compression 3): EOL-per-row streams with and without
    the 2-D tag bit roundtrip; the TIFF container carries T4Options.
    (Java ImageIO's T.4 writer emits 2-D-coded rows; decoding those is
    covered by the dev-time cross-validation and the shared
    _decode_2d_row path the G4 fixtures pin.)"""
    from ocr_inference_spark.faxcodec import g3_decode, g3_encode

    rng = np.random.default_rng(4)
    img = (rng.random((40, 75)) < 0.6).astype(np.uint8)
    assert np.array_equal(g3_decode(g3_encode(img, two_d=True), 75, 40, two_d=True), img)
    assert np.array_equal(
        g3_decode(g3_encode(img, two_d=False), 75, 40, two_d=False), img
    )
    gray = np.where(img == 1, 255, 0).astype(np.uint8)
    data = tiff_encode(gray, compression="g3")
    assert np.array_equal(tiff_decode(data), gray)


def test_tiff_fax_java_imageio_fixtures():
    """Real G4 / RLE streams from Java ImageIO's independent CCITT
    encoder (committed fixtures of the deterministic bilevel pattern)
    decode pixel-exact; my G4 output was symmetrically verified against
    Java's reader when the fixtures were generated."""
    import os

    here = os.path.join(os.path.dirname(__file__), "data")
    want = np.where(_bilevel_pattern() == 1, 255, 0).astype(np.uint8)
    for name in ("java_g4_48x64.tif", "java_ccittrle_48x64.tif",
                 "java_t4_48x64.tif"):
        with open(os.path.join(here, name), "rb") as f:
            got = tiff_decode(f.read())
        assert np.array_equal(got, want), name


def test_lzw_stream_roundtrip_with_table_reset():
    """Payload large/diverse enough to push the code table past 4093
    entries forces a mid-stream ClearCode reset; roundtrip stays exact.
    Truncated streams terminate with partial output, never hang."""
    from functools import partial as bind

    from ocr_inference_spark.bitcodes import lzw_decode, lzw_encode

    tiff = {"lsb": False, "early_change": True}
    rng = np.random.default_rng(3)
    payload = bytes(rng.integers(0, 256, 300_000, dtype=np.uint8))
    enc = lzw_encode(payload, 8, **tiff)
    decode = bind(lzw_decode, min_code_size=8, max_out=len(payload), **tiff)
    assert decode(enc) == payload
    partial = decode(enc[: len(enc) // 3])
    assert payload.startswith(partial) and len(partial) > 0
    assert decode(lzw_encode(b"", 8, **tiff)) == b""


def test_tiff_lzw_truncated_raises():
    img = _test_image_gray(32, 32)
    data = tiff_encode(img, compression="lzw", predictor=2)
    # cut inside the strip data: decode must terminate (short strip ->
    # clear error, no hang)
    with pytest.raises(Exception):
        tiff_decode(data[:60] + data[-200:])


# ---------------------------------------------------------------------------
# Dispatcher
# ---------------------------------------------------------------------------


def test_sniff_and_dispatch_all_formats():
    img = _test_image_gray()
    png = png_encode(img)
    jpg = jpeg_encode(img, quality=95)
    tif = tiff_encode(img)
    assert sniff_format(png) == "png"
    assert sniff_format(jpg) == "jpeg"
    assert sniff_format(tif) == "tiff"
    assert sniff_format(b"plainly not an image") == "unknown"
    assert np.array_equal(decode_image(png), img)
    assert np.array_equal(decode_image(tif), img)
    assert _psnr(img, decode_image(jpg)) > 35.0
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"bogus bytes here")


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 chroma subsampling (the common scanner layout) decodes
    through the upsampling path; luma detail survives."""
    img = _test_image_rgb(h=50, w=66)  # non-multiple-of-16 on purpose
    data = jpeg_encode(img, quality=92, subsampling="420")
    out = jpeg_decode(data)
    assert out.shape == img.shape
    # luma must round-trip well even though chroma is quarter-res
    def luma(a):
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    assert _psnr(luma(img), luma(out)) > 28.0
    # 4:2:0 carries fewer coefficients than 4:4:4
    assert len(data) < len(jpeg_encode(img, quality=92, subsampling="444"))


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn path: predictors reset and the bitstream re-aligns at
    every restart interval; decode equals the no-restart decode."""
    img = _test_image_gray(h=48, w=80)
    plain = jpeg_decode(jpeg_encode(img, quality=95))
    with_rst = jpeg_encode(img, quality=95, restart_interval=3)
    assert b"\xff\xd0" in with_rst or b"\xff\xd1" in with_rst
    out = jpeg_decode(with_rst)
    assert np.array_equal(out, plain)


def test_jpeg_422_subsampling_roundtrip():
    """4:2:2 (16x8 MCU, half-width chroma — the classic scanner/video
    layout) exercises the decoder's horizontal-only upsampling path
    with real streams (cross-validated against Java ImageIO at
    creation); luma survives, file is smaller than 4:4:4."""
    for shape in ((64, 80), (50, 66), (37, 53)):
        img = _test_image_rgb(*shape)
        data = jpeg_encode(img, quality=92, subsampling="422")
        out = jpeg_decode(data)
        assert out.shape == img.shape

        def luma(a):
            return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

        assert _psnr(luma(img), luma(out)) > 28.0
        assert len(data) < len(jpeg_encode(img, quality=92, subsampling="444"))
    # non-interleaved variant decodes identically
    img = _test_image_rgb(48, 66)
    a = jpeg_decode(jpeg_encode(img, quality=92, subsampling="422"))
    b = jpeg_decode(jpeg_encode(img, quality=92, subsampling="422", interleaved=False))
    assert np.array_equal(a, b)


def test_jpeg_420_gray_is_identity_option():
    """subsampling flag is a no-op for grayscale input."""
    img = _test_image_gray(24, 24)
    assert jpeg_encode(img, quality=90, subsampling="420") == jpeg_encode(
        img, quality=90, subsampling="444"
    )


@pytest.mark.parametrize("cut", [0.1, 0.3, 0.6, 0.9])
def test_jpeg_truncated_stream_terminates(cut):
    """Truncated scans must TERMINATE: header-truncation raises (the
    page kernel maps it to failed:decode); entropy-truncation zero-pads
    past the end per the spec's bit-reader behavior and yields a
    partial image of the declared shape (libjpeg's lenient contract).
    Either way — never a loop or hang."""
    img = _test_image_gray(40, 56)
    data = jpeg_encode(img, quality=90)
    truncated = data[: int(len(data) * cut)]
    try:
        out = jpeg_decode(truncated)
        assert out.shape == img.shape and out.dtype == np.uint8
    except Exception:
        pass


def test_tiff_truncated_stream_raises():
    img = _test_image_gray(16, 16)
    data = tiff_encode(img)
    with pytest.raises(Exception):
        tiff_decode(data[:40])


@pytest.mark.parametrize("comp", ["g4", "ccitt-rle", "g3"])
def test_fax_truncated_and_bitflipped_terminate(comp):
    """Malformed fax streams must TERMINATE — clear error or garbage
    pixels of the declared shape, never a hang (the page kernel maps
    raised errors to failed:decode rows)."""
    rng = np.random.default_rng(13)
    img = np.where(_bilevel_pattern(40, 64) == 1, 255, 0).astype(np.uint8)
    data = tiff_encode(img, compression=comp)
    for cut in (0.3, 0.6, 0.9):
        try:
            out = tiff_decode(data[: int(len(data) * cut)] + data[-180:])
            assert out.dtype == np.uint8
        except Exception:
            pass
    for _ in range(10):
        flipped = bytearray(data)
        for _ in range(6):
            i = int(rng.integers(8, len(flipped)))
            flipped[i] ^= 1 << int(rng.integers(0, 8))
        try:
            out = tiff_decode(bytes(flipped))
            assert out.dtype == np.uint8
        except Exception:
            pass


def test_png_truncated_and_bitflipped_terminate():
    """Same termination guarantee for the widened PNG surface
    (filters, palette, interlace): zlib/CRC/filter errors raise,
    anything that decodes has a sane shape."""
    from ocr_inference_spark.imgcodec import png_decode

    rng = np.random.default_rng(17)
    imgs = [
        png_encode(_test_image_gray(32, 48), filter_mode="adaptive"),
        png_encode(_test_image_rgb(24, 40), filter_mode=4),
    ]
    for data in imgs:
        for cut in (0.3, 0.7):
            try:
                png_decode(data[: int(len(data) * cut)])
            except Exception:
                pass
        for _ in range(10):
            flipped = bytearray(data)
            for _ in range(4):
                i = int(rng.integers(8, len(flipped)))
                flipped[i] ^= 1 << int(rng.integers(0, 8))
            try:
                out = png_decode(bytes(flipped))
                assert out.dtype == np.uint8
            except Exception:
                pass


def test_decode_image_bitflip_garbage_terminates():
    """Random bit flips inside a valid JPEG either decode (Huffman
    resync luck) or raise — both acceptable; the requirement is
    termination with no hang."""
    rng = np.random.default_rng(11)
    img = _test_image_gray(32, 48)
    data = bytearray(jpeg_encode(img, quality=85))
    for _ in range(20):
        i = int(rng.integers(2, len(data)))
        data[i] ^= 1 << int(rng.integers(0, 8))
    try:
        out = jpeg_decode(bytes(data))
        assert out.dtype == np.uint8
    except Exception:
        pass  # raising is fine; hanging is not (pytest timeout guards)


def test_tiff_fax_photometric_blackiszero_inverts():
    """A fax TIFF tagged photometric=1 (BlackIsZero) is legal if rare;
    libtiff/Java ImageIO decode it inverted relative to the normal
    WhiteIsZero fax convention, and so must we (ADVICE r4)."""
    img = np.where(_bilevel_pattern(40, 72) == 1, 255, 0).astype(np.uint8)
    data = tiff_encode(img, compression="g4")
    # flip the photometric IFD entry value 0 -> 1 (tag 262, SHORT, count 1)
    entry0 = bytes.fromhex("060103000100000000000000")
    entry1 = bytes.fromhex("060103000100000001000000")
    assert data.count(entry0) == 1
    flipped = data.replace(entry0, entry1)
    assert np.array_equal(tiff_decode(flipped), 255 - img)
    # and the unflipped container still decodes upright
    assert np.array_equal(tiff_decode(data), img)
