"""Bit-identity pin for the page kernel, no Spark.

Renders bench-shaped pages in-process (the synthesizer's line split and
per-page style draw: skew, warp, noise, captions) from fixed text, runs
every ``process_page`` option family, ``detect_page`` and the debug
sink's ``debug_page_artifacts`` over them, and hashes every output
field with the formatting of ``scripts/kernel_bitcheck.py``. A kernel
rewrite that is meant to leave the output alone must leave this md5
where it is; a deliberate output change re-pins it and says why.
"""

from __future__ import annotations

import hashlib

import pytest

from ocr_inference_spark.artifacts import debug_page_artifacts
from ocr_inference_spark.imgcodec import png_encode
from ocr_inference_spark.model import RecognitionSession, serialize_weights
from ocr_inference_spark.page import PipelineOptions, detect_page, process_page
from ocr_inference_spark.render import render_page
from ocr_inference_spark.synth import _style_for, page_lines_for

N_PAGES = 48

TEXTS = (
    "the quick brown fox jumps over the lazy dog while the cat naps",
    "pyspark native engine 42 reads pages, decodes lines and writes spans",
    "a-b c.d e'f 0123456789 hello world, again and again and again",
    "reading order sorts lines top to bottom by their bbox centers here",
)

OPTIONS = (
    ("default", PipelineOptions()),
    ("no_contours", PipelineOptions(emit_contours=False)),
    ("peaks", PipelineOptions(line_sorting="peaks")),
    ("global2d", PipelineOptions(tps_mode="global2d")),
    ("local", PipelineOptions(tps_mode="local")),
)

# md5 of every field below over the pages above, per option family and
# for detect_page; computed on the kernel before its array-native rewrite.
# The artifact pin was computed on the sink's own stage copy, before it
# was folded into ``page.page_stages``.
PINNED = {
    "default": "536f7b2ad3565c744cdd2c212130e9c5",
    "no_contours": "4ad9302df9722746ea3a25631a088468",
    "peaks": "536f7b2ad3565c744cdd2c212130e9c5",
    "global2d": "f3545815a8ee3c8c187ecf90fde9ddc1",
    "local": "a37cd314329f3c4d61387514e1bd9c13",
    "detect": "7357a65bebfa1cd24af6c03468fc66e2",
    "artifacts": "8855c7529e3244afc984ab7788ded5f0",
}


def _pages() -> list[bytes]:
    out = []
    for i in range(N_PAGES):
        text = f"{TEXTS[i % len(TEXTS)]} {i} " * 2
        lines = page_lines_for(text, 2 + i % 4)
        out.append(png_encode(render_page(lines, **_style_for(f"page_{i:08d}_00"))))
    return out


def _page_record(res) -> bytes:
    return repr(
        (
            res.status,
            res.texts,
            [f"{c:.9e}" for c in res.confs],
            f"{res.angle:.9e}",
            res.dewarp_applied,
            res.n_lines,
            res.contours,
        )
    ).encode()


def _artifacts_record(arts: list[dict]) -> bytes:
    return b"".join(repr((a["stage"], a["name"], a["payload"])).encode() for a in arts)


def _detect_record(d: dict) -> bytes:
    return repr(
        (d["status"], d["width"], d["height"], d["bboxes"], d["contours"], d["rbboxes"])
    ).encode()


@pytest.fixture(scope="module")
def results() -> dict:
    pages = _pages()
    session = RecognitionSession(serialize_weights())
    out = {
        name: [process_page(p, session, options=opts) for p in pages]
        for name, opts in OPTIONS
    }
    out["detect"] = [detect_page(p) for p in pages]
    out["artifacts"] = [debug_page_artifacts(p) for p in pages]
    return out


@pytest.mark.parametrize("name", list(PINNED))
def test_kernel_output_pinned(results, name):
    record = {"detect": _detect_record, "artifacts": _artifacts_record}.get(
        name, _page_record
    )
    h = hashlib.md5()
    for r in results[name]:
        h.update(record(r))
    assert h.hexdigest() == PINNED[name]


def test_pages_exercise_every_kernel_branch(results):
    """The sample must reach deskew, dewarp and the plain path, or the
    pin would not cover the code it guards."""
    res = results["default"]
    assert all(r.status == "success" for r in res)
    assert any(abs(r.angle) > 0.5 for r in res)
    assert any(r.dewarp_applied for r in res)
    assert any(not r.dewarp_applied and abs(r.angle) <= 0.5 for r in res)
