"""True 2-D thin-plate-spline warp (I21, kernels/tps.py)."""

from __future__ import annotations

import numpy as np

from ocr_inference_spark.kernels.tps import tps_fit, tps_transform, tps_warp


def test_tps_identity():
    rng = np.random.default_rng(0)
    img = (rng.random((40, 60)) > 0.7).astype(np.uint8)
    pts = np.array([[10.0, 10.0], [50.0, 10.0], [30.0, 30.0]])
    out = tps_warp(img, pts, pts)
    assert np.array_equal(out, img)


def test_tps_fit_interpolates_control_points():
    src = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0], [5.0, 5.0]])
    dst = src + np.array([2.0, -1.0])  # pure translation
    params = tps_fit(src, dst, alpha=0.0)
    got = tps_transform(params, src)
    assert np.allclose(got, dst, atol=1e-8)


def test_tps_corrects_horizontal_shear():
    """The capability the vertical column-shift CANNOT express: a
    horizontal displacement field (x shifted proportionally to y)."""
    img = np.zeros((80, 200), dtype=np.uint8)
    img[20:28, 40:160] = 1  # a straight band
    sheared = np.zeros_like(img)
    for y in range(80):
        dx = int(round(0.3 * (y - 40)))  # x-shear
        src_cols = np.arange(200)
        dst_cols = src_cols + dx
        ok = (dst_cols >= 0) & (dst_cols < 200)
        sheared[y, dst_cols[ok]] = img[y, src_cols[ok]]
    # control points: where known features landed -> where they belong.
    # Two x-columns of points, NOT one: with a single column the TPS
    # affine x-slope is unidentifiable (all constraints share one x), so
    # the solved warp depends on which null-space member the LAPACK
    # build returns — an environment-flaky fixture. Non-collinear points
    # pin the affine part uniquely and the inverse shear is exact.
    ys = np.array([10.0, 24.0, 40.0, 56.0, 70.0])
    cols = []
    for x0 in (60.0, 140.0):
        cols.append(
            (
                np.stack([x0 + 0.3 * (ys - 40.0), ys], axis=1),
                np.stack([np.full(ys.shape, x0), ys], axis=1),
            )
        )
    input_pts = np.vstack([c[0] for c in cols])
    output_pts = np.vstack([c[1] for c in cols])
    fixed = tps_warp(sheared, input_pts, output_pts, add_corners=False)
    inter = np.logical_and(fixed, img).sum()
    union = np.logical_or(fixed, img).sum()
    assert inter / union > 0.85  # shear substantially undone


def test_process_page_global2d_extracts_exact_text():
    from ocr_inference_spark.imgcodec import png_encode
    from ocr_inference_spark.model import RecognitionSession, serialize_weights
    from ocr_inference_spark.page import PipelineOptions, process_page
    from ocr_inference_spark.render import render_page

    global2d = PipelineOptions(tps_mode="global2d")
    lines = ["hello world again", "the quick brown fox", "final content line"]
    sess = RecognitionSession(serialize_weights())
    for kw in ({}, {"skew_deg": 2.0}):
        res = process_page(
            png_encode(render_page(lines, **kw)), sess, options=global2d
        )
        assert res.status == "success", (kw, res.error)
        assert res.texts == lines, kw
    # warped page: the reference's global TPS drives the warp from ONE
    # best line's 5 control points + corner anchors
    # (apply_global_tps, BDRC/image_dewarping.py:267-289) — approximate
    # on multi-line pages by construction, so assert structure, not
    # exact text (the default column-shift mode, which jointly fits ALL
    # lines, stays the exact path — see test_page.py)
    res = process_page(
        png_encode(render_page(lines, warp_amp=40)), sess, options=global2d
    )
    assert res.status == "success", res.error
    assert res.dewarp_applied
    assert res.n_lines == len(lines)
