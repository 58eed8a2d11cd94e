"""Span-sequence fixtures at the page level: rendered pages decode back
to their exact source lines in reading order (the reference's
line-segmentation + text-extraction fixture role, SURVEY.md §5)."""

import pytest

from ocr_inference_spark.imgcodec import png_encode
from ocr_inference_spark.model import RecognitionSession, serialize_weights
from ocr_inference_spark.page import PipelineOptions, process_page
from ocr_inference_spark.render import render_page

SESSION = RecognitionSession(serialize_weights())

LINES = ["hello world", "the quick brown fox", "pyspark native engine 42"]

CASES = [
    ("plain", {}),
    ("skew_pos", {"skew_deg": 2.0}),
    ("skew_neg", {"skew_deg": -3.5}),
    ("warp", {"warp_amp": 40}),
    ("skew_warp", {"skew_deg": 1.5, "warp_amp": 40}),
    ("warp_two_periods", {"warp_amp": 48, "warp_period": 200}),
    ("skew_warp_offperiod", {"skew_deg": -2.5, "warp_amp": 44, "warp_period": 300}),
]


@pytest.mark.parametrize("name,kw", CASES, ids=[c[0] for c in CASES])
def test_page_roundtrip(name, kw):
    res = process_page(png_encode(render_page(LINES, **kw)), SESSION)
    assert res.status == "success"
    assert res.texts == LINES
    assert res.n_lines == len(LINES)
    assert all(0 < c <= 1 for c in res.confs)


def test_deskew_flag_set():
    res = process_page(png_encode(render_page(LINES, skew_deg=2.0)), SESSION)
    assert abs(res.angle) > 0.5


def test_dewarp_flag_set():
    res = process_page(png_encode(render_page(LINES, warp_amp=40)), SESSION)
    assert res.dewarp_applied
    assert res.distortion_ratio > 0.25


def test_single_char_page():
    res = process_page(png_encode(render_page(["x"])), SESSION)
    assert res.texts == ["x"]


def test_garbage_bytes_fail_soft():
    res = process_page(b"definitely not a png", SESSION)
    assert res.status == "failed:decode"
    assert res.texts == []


def test_undecodable_page_has_one_status_tag_on_every_entry_point(spark):
    """process_page, detect_page (detect_lines) and detect_layout tag an
    undecodable page the same way, so a bad page's status does not
    depend on which job ran it."""
    from ocr_inference_spark.layout import detect_layout
    from ocr_inference_spark.page import detect_page

    pages = spark.createDataFrame([("bad", b"junk")], "media_ref string, content binary")
    (layout_row,) = detect_layout(spark, pages).collect()
    assert process_page(b"junk", SESSION).status == "failed:decode"
    assert detect_page(b"junk")["status"] == "failed:decode"
    assert layout_row["status"] == "failed:decode"


def test_doubled_chars_roundtrip():
    lines = ["aabb ccdd", "zzz 1100"]
    res = process_page(png_encode(render_page(lines)), SESSION)
    assert res.texts == lines


def test_local_tps_mode():
    """TPSMode.LOCAL: per-line rectification instead of global dewarp.

    Like the reference (which sorts lines BEFORE its local TPS,
    BDRC/inference.py:591-616), local mode leaves reading-order grouping
    on warped geometry, so the cases here keep the warp within grouping
    tolerance; the global mode covers the extreme-warp fixtures."""
    for kw in ({"warp_amp": 36, "warp_period": 250}, {"warp_amp": 48, "warp_period": 200}, {}):
        res = process_page(
            png_encode(render_page(LINES, **kw)), SESSION,
            options=PipelineOptions(tps_mode="local"),
        )
        assert res.status == "success"
        assert res.texts == LINES
        assert res.dewarp_applied is False  # global warp never applied


def test_blank_page_yields_no_lines():
    import numpy as np

    from ocr_inference_spark.imgcodec import png_encode as enc

    blank = np.full((200, 300), 235, dtype=np.uint8)
    res = process_page(enc(blank), SESSION)
    assert res.texts == []
    assert res.n_lines == 0
    assert res.status == "success"
