import numpy as np

from ocr_inference_spark.glyphs import BAND_H, GLYPH_GAP, GLYPH_W, encode_text
from ocr_inference_spark.kernels.binarize import binarize, to_gray
from ocr_inference_spark.kernels.components import connected_components
from ocr_inference_spark.kernels.deskew import estimate_page_angle, shear_shift
from ocr_inference_spark.kernels.dewarp import (
    apply_column_shift,
    distortion_ratio,
    fit_page_shift,
)
from ocr_inference_spark.kernels.linecrop import get_line_image, mask_n_crop
from ocr_inference_spark.kernels.morphology import line_segmentation_mask
from ocr_inference_spark.render import INK, PAPER, render_line_band, render_page


def test_to_gray():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[..., 0] = 255  # pure red
    g = to_gray(img)
    assert g[0, 0] == 255 * 299 // 1000


def test_binarize_finds_ink():
    page = render_page(["abc"])
    ink = binarize(page)
    band = render_line_band("abc")
    # the rendered band's ink must be recovered exactly within its box
    sub = ink[48 : 48 + BAND_H, 48 : 48 + band.shape[1]]
    assert np.array_equal(sub, band)


def test_render_band_width():
    band = render_line_band("ab")
    assert band.shape == (BAND_H, 2 * (GLYPH_W + GLYPH_GAP))
    assert band[0].all()  # strut row solid


def test_segmentation_mask_one_component_per_line():
    page = render_page(["hello world", "second line", "third one"])
    ink = binarize(page)
    mask = line_segmentation_mask(ink)
    comps = [c for c in connected_components(mask) if c.area > 50]
    assert len(comps) == 3


def test_shear_roundtrip_exact():
    page = render_page(["hello world foo bar"], skew_deg=3.0)
    ink = binarize(page)
    fixed = apply_column_shift(ink, shear_shift(ink.shape[1], 3.0))
    flat = binarize(render_page(["hello world foo bar"]))
    # the strut rows must be perfectly horizontal after correction
    comps = connected_components(line_segmentation_mask(fixed))
    angle = estimate_page_angle(comps, fixed.shape)
    assert abs(angle) < 0.2
    assert flat.sum() == ink.sum()  # shear moved ink, never destroyed it


def test_column_shift_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 2, (40, 30), dtype=np.uint8)
    img[:5] = 0
    img[-5:] = 0  # margins so shifts don't clip
    shift = rng.integers(-4, 5, 30)
    back = apply_column_shift(apply_column_shift(img, shift), -shift)
    assert np.array_equal(back, img)


def test_distortion_gate_and_fit():
    flat = render_page(["hello world foo bar", "the second line here"])
    warped = render_page(
        ["hello world foo bar", "the second line here"], warp_amp=40
    )
    for page, expect in [(flat, False), (warped, True)]:
        ink = binarize(page)
        comps = [
            c
            for c in connected_components(line_segmentation_mask(ink))
            if c.area > 50
        ]
        ratio, _ = distortion_ratio(comps)
        assert (ratio > 0.25) == expect
    # the fitted shift must recover the sine within ~2 px over the content
    ink = binarize(warped)
    comps = [
        c for c in connected_components(line_segmentation_mask(ink)) if c.area > 50
    ]
    shift = fit_page_shift(comps, ink.shape[1])
    flat_ink = apply_column_shift(ink, shift)
    comps2 = [
        c
        for c in connected_components(line_segmentation_mask(flat_ink))
        if c.area > 50
    ]
    ratio2, _ = distortion_ratio(comps2)
    assert ratio2 <= 0.25


def test_mask_n_crop_keeps_interior_gaps():
    img = np.zeros((10, 10), dtype=np.uint8)
    img[2, 2:8] = 1
    img[7, 2:8] = 1  # interior rows 3-6 blank, must be preserved
    crop = mask_n_crop(img)
    assert crop.shape == (6, 6)
    assert crop[0].all() is not None
    assert crop[1:5].sum() == 0


def test_get_line_image_adapts_k():
    page = render_page(["abc def"])
    ink = binarize(page)
    comps = connected_components(line_segmentation_mask(ink))
    img, k = get_line_image(ink, comps[0], k_factor=1.2)
    assert img.shape[0] <= comps[0].h * 2.5
    assert img.any()


def test_ink_paper_levels():
    page = render_page(["x"])
    assert set(np.unique(page)) == {INK, PAPER}


def test_encode_text_unknown_maps_to_space():
    ids = encode_text("a~b")
    sp = encode_text(" ")[0]
    assert ids[1] == sp
