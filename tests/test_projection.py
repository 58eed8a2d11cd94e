"""Projection-profile segmentation + LineSorting.PEAKS
(north star: "connected-component + projection-profile segmentation";
reference enum BDRC/data.py:53-64 — declared, never implemented there)."""

from __future__ import annotations

import numpy as np

from ocr_inference_spark.kernels.components import Component, connected_components
from ocr_inference_spark.kernels.projection import (
    band_of,
    peaks_sort_lines,
    profile_bands,
    split_merged_components,
)


def _bar_ink(bars, h=60, w=100):
    """bars: list of (y0, y1, x0, x1) filled rectangles -> binary ink."""
    ink = np.zeros((h, w), dtype=np.uint8)
    for y0, y1, x0, x1 in bars:
        ink[y0:y1, x0:x1] = 1
    return ink


def test_profile_bands_finds_each_line():
    ink = _bar_ink([(10, 18, 5, 95), (30, 38, 5, 95), (50, 58, 5, 95)])
    bands = profile_bands(ink, smooth=1)
    assert len(bands) == 3
    assert bands[0][0] <= 10 and bands[0][1] >= 18
    assert bands[1][0] <= 30 and bands[2][0] <= 50


def test_profile_bands_blank_page():
    assert profile_bands(np.zeros((40, 40), dtype=np.uint8)) == []


def test_band_of_nearest_for_valley_rows():
    ink = _bar_ink([(10, 18, 5, 95), (30, 38, 5, 95)])
    bands = profile_bands(ink, smooth=1)
    assert band_of(12, bands) == 0
    assert band_of(33, bands) == 1
    assert band_of(22, bands) == 0  # valley row -> nearest band
    assert band_of(27, bands) == 1


def test_peaks_sort_orders_top_to_bottom_then_x():
    ink = _bar_ink([(10, 18, 50, 90), (10, 18, 5, 45), (30, 38, 5, 95)])
    comps = connected_components(ink)
    rows = peaks_sort_lines(comps, ink)
    assert len(rows) == 2
    assert [c.x for c in rows[0]] == sorted(c.x for c in rows[0])
    assert rows[0][0].y < rows[1][0].y


def test_split_merged_components_splits_fused_lines():
    """A single component spanning two profile bands (touching lines)
    is split at the valley."""
    ink = _bar_ink([(10, 18, 5, 95), (30, 38, 5, 95)])
    # build ONE fused component holding both bars' runs (what CC yields
    # when descenders touch ascenders)
    runs = [(y, 5, 95) for y in range(10, 18)] + [(y, 5, 95) for y in range(30, 38)]
    fused = Component(runs=runs, x=5, y=10, w=90, h=28, area=len(runs) * 90)
    out = split_merged_components([fused], ink)
    assert len(out) == 2
    ys = sorted(c.y for c in out)
    assert ys == [10, 30]
    assert all(c.h == 8 for c in out)


def test_split_noop_on_single_band():
    ink = _bar_ink([(10, 18, 5, 95)])
    comps = connected_components(ink)
    assert split_merged_components(comps, ink) == comps


def test_peaks_matches_threshold_on_clean_page():
    """On a clean rendered page both sorters yield the same reading
    order (texts), so PEAKS is a drop-in mode."""
    from ocr_inference_spark.imgcodec import png_encode
    from ocr_inference_spark.model import RecognitionSession, serialize_weights
    from ocr_inference_spark.page import PipelineOptions, process_page
    from ocr_inference_spark.render import render_page

    lines = ["the quick brown fox", "jumps over the dog", "a third line"]
    content = png_encode(render_page(lines))
    sess = RecognitionSession(serialize_weights())
    a = process_page(content, sess)
    b = process_page(content, sess, options=PipelineOptions(line_sorting="peaks"))
    assert a.status == b.status == "success"
    assert a.texts == b.texts == lines
