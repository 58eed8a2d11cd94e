"""K6 artifact/debug sink (artifacts.py)."""

from __future__ import annotations

import json

import pytest

from ocr_inference_spark.bmpcodec import bmp_encode, pnm_encode
from ocr_inference_spark.gifcodec import gif_encode
from ocr_inference_spark.imgcodec import png_decode, png_encode, tiff_encode
from ocr_inference_spark.jpegcodec import jpeg_encode
from ocr_inference_spark.render import render_page

LINES = ["hello world", "second line here"]


def test_debug_page_artifacts_stage_coverage():
    from ocr_inference_spark.artifacts import debug_page_artifacts

    arts = debug_page_artifacts(png_encode(render_page(LINES, skew_deg=2.0)))
    names = {(a["stage"], a["name"]) for a in arts}
    assert ("detection", "line_mask.png") in names
    assert ("detection", "contours.json") in names
    assert ("dewarping", "tps_analysis.json") in names
    assert ("lines", "line_data.json") in names
    assert ("lines", "line_000.png") in names and ("lines", "line_001.png") in names
    assert ("results", "line_preview.png") in names
    # payloads are real: mask decodes, contour json parses with 2 lines
    by_name = {(a["stage"], a["name"]): a for a in arts}
    mask = png_decode(by_name[("detection", "line_mask.png")]["payload"])
    assert mask.ndim == 2 and mask.max() == 255
    det = json.loads(by_name[("detection", "contours.json")]["payload"])
    assert det["num_contours"] == len(LINES)
    assert len(det["contours"]) == len(LINES)
    tps = json.loads(by_name[("dewarping", "tps_analysis.json")]["payload"])
    assert abs(tps["page_angle"]) > 0.5  # the rendered skew was detected
    prev = png_decode(by_name[("results", "line_preview.png")]["payload"])
    assert prev.ndim == 3 and prev.shape[2] == 3  # RGB overlay
    # line regions are red-blended: red channel exceeds green there
    assert (prev[:, :, 0].astype(int) - prev[:, :, 1].astype(int)).max() > 80


CONTAINERS = {
    "tiff": (tiff_encode, True),
    "jpeg_q95": (lambda im: jpeg_encode(im, quality=95), False),
    "gif": (gif_encode, True),
    "bmp": (bmp_encode, True),
    "pnm": (pnm_encode, True),
}


@pytest.mark.parametrize("container", list(CONTAINERS))
def test_debug_page_artifacts_every_container(container):
    """The sink decodes like process_page: a page in any container gives
    the PNG page's artifacts, byte-equal for the lossless ones."""
    from ocr_inference_spark.artifacts import debug_page_artifacts

    img = render_page(LINES, skew_deg=2.0)
    encode, lossless = CONTAINERS[container]
    want = debug_page_artifacts(png_encode(img))
    got = debug_page_artifacts(encode(img))
    names = [(a["stage"], a["name"]) for a in got]
    assert ("results", "error.txt") not in names
    assert set(names) == {(a["stage"], a["name"]) for a in want}
    if lossless:
        assert [a["payload"] for a in got] == [a["payload"] for a in want]


def test_debug_page_artifacts_bad_payload_is_an_error_artifact():
    from ocr_inference_spark.artifacts import debug_page_artifacts

    arts = debug_page_artifacts(b"not an image")
    assert [(a["stage"], a["name"]) for a in arts] == [("results", "error.txt")]


def test_debug_artifacts_table_and_job_dir(spark, tmp_path):
    from pyspark.sql import Row

    from ocr_inference_spark.artifacts import (
        debug_artifacts,
        manifest,
        materialize_job_dir,
    )
    from ocr_inference_spark.schemas import PAGES_SCHEMA

    img = png_encode(render_page(LINES))
    pages = spark.createDataFrame(
        [Row(media_ref=f"p{i}", content=img, width=0, height=0) for i in range(2)],
        schema=PAGES_SCHEMA,
    )
    art = debug_artifacts(spark, pages)
    rows = art.collect()
    assert {r["media_ref"] for r in rows} == {"p0", "p1"}
    m = manifest(art)
    assert {"media_ref", "stage", "name", "type", "path", "bytes", "ts"} <= set(m.columns)
    assert m.where("bytes <= 0").count() == 0

    job_dir = materialize_job_dir(art, str(tmp_path), "job42")
    man = json.loads((tmp_path / "job42" / "manifest.json").read_text())
    assert man["job_id"] == "job42"
    assert len(man["artifacts"]) == len(rows)
    assert (tmp_path / "job42" / "p0" / "detection" / "line_mask.png").exists()
    assert (tmp_path / "job42" / "p1" / "lines" / "line_data.json").exists()
