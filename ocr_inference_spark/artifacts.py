"""K6 artifact/debug sink — per-stage intermediates as a TABLE.

The reference's ArtifactManager writes per-page stage artifacts (line
mask, contour JSON, TPS analysis, line list, final text) into a job
directory with a manifest (reference: BDRC/artifact_manager.py:23-139),
saved from the same pipeline run that produces the text
(run_ocr_with_artifacts, BDRC/pipeline.py:30-195). Here too the
artifacts are serialised from the states ``page``'s stage sequence
(``page.page_stages``, the one ``process_page`` runs) leaves behind, so
a page decodes, detects and rectifies exactly as it does for OCR.
The cluster-native re-expression is an ARTIFACT TABLE — one row per
(media_ref, stage, name, type, payload) — written as parquet from the
executors; ``materialize_job_dir`` lays the table out as the
reference's job directory (subdirs detection/dewarping/lines/results +
manifest.json) for human inspection of small debug runs.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .imgcodec import png_encode
from .kernels.contours import contour_points
from .page import PageState, PipelineOptions, page_stages
from .worker import map_rows

ARTIFACT_SCHEMA = (
    "media_ref string, stage string, name string, type string, payload binary"
)


def _art(stage: str, name: str, typ: str, payload: bytes) -> dict:
    return {"stage": stage, "name": name, "type": typ, "payload": payload}


def _png(img: np.ndarray) -> bytes:
    return png_encode((img * 255).astype(np.uint8))


def _boxes(comps) -> list[dict]:
    return [{"x": c.x, "y": c.y, "w": c.w, "h": c.h} for c in comps]


def _stage_artifacts(stage: str, st: PageState) -> list[dict]:
    """The artifacts of one finished stage (cf. run_ocr_with_artifacts
    stage saves, BDRC/pipeline.py:81-187)."""
    if stage == "detect":
        return [_art("detection", "line_mask.png", "image", _png(st.mask))]
    if stage == "dewarp":
        contours = {
            "num_contours": len(st.candidates),
            "bboxes": _boxes(st.candidates),
            "contours": [contour_points(c) for c in st.candidates],
        }
        tps = {
            "page_angle": st.angle,
            "tps_ratio": st.ratio,
            "applied": st.applied,
            "max_yd": st.dys,
        }
        out = [
            _art("detection", "contours.json", "json", json.dumps(contours).encode()),
            _art("dewarping", "tps_analysis.json", "json", json.dumps(tps).encode()),
        ]
        if st.rectified:
            out.append(_art("dewarping", "rectified_mask.png", "image", _png(st.mask)))
        return out
    if stage == "extract":
        lines = {"threshold": st.threshold, "lines": _boxes(st.ordered)}
        out = [_art("lines", "line_data.json", "json", json.dumps(lines).encode())]
        out += [
            _art("lines", f"line_{i:03d}.png", "image", _png(img))
            for i, img in enumerate(st.line_imgs)
        ]
        # I38 preview/overlay render (generate_line_preview + the
        # addWeighted overlays, reference BDRC/utils.py:704-710,918-962):
        # detected line regions blended red over the (rectified) page
        page = np.where(st.ink > 0, np.uint8(25), np.uint8(235))
        preview = np.stack([page] * 3, axis=-1).astype(np.float64)
        red = np.array([255.0, 0.0, 0.0])
        for c in st.ordered:
            for row, x0, x1 in c.runs.tolist():
                preview[row, x0:x1] = 0.5 * preview[row, x0:x1] + 0.5 * red
        out.append(
            _art("results", "line_preview.png", "image",
                 png_encode(np.clip(preview, 0, 255).astype(np.uint8)))
        )
        return out
    return []


def debug_page_artifacts(content: bytes) -> list[dict]:
    """The reference's per-stage artifacts of one page, from
    ``page_stages`` under the default ``PipelineOptions()``. A page that
    fails a stage keeps the artifacts of the stages before it, plus
    ``results/error.txt``. Pure function of the page bytes."""
    st = PageState()
    out: list[dict] = []
    try:
        for stage in page_stages(content, PipelineOptions(), st):
            out += _stage_artifacts(stage, st)
    except Exception as exc:
        out.append(_art("results", "error.txt", "text", str(exc)[:500].encode()))
    return out


def debug_artifacts(spark: SparkSession, pages_df: DataFrame) -> DataFrame:
    """pages -> artifact table (ARTIFACT_SCHEMA). Debug-mode only: meant
    for a filtered handful of pages, not full corpora (payloads are
    per-stage images)."""

    def rows(r):
        for a in debug_page_artifacts(bytes(r.content)):
            yield r.media_ref, a["stage"], a["name"], a["type"], a["payload"]

    return map_rows(pages_df.select("media_ref", "content"), ARTIFACT_SCHEMA, lambda: rows)


def manifest(art_df: DataFrame) -> DataFrame:
    """Manifest view of an artifact table (name/type/path/ts — cf.
    generate_manifest, BDRC/artifact_manager.py:104-110)."""
    return art_df.select(
        "media_ref",
        "stage",
        "name",
        "type",
        F.concat_ws("/", "media_ref", "stage", "name").alias("path"),
        F.length("payload").alias("bytes"),
        F.current_timestamp().alias("ts"),
    )


def materialize_job_dir(art_df: DataFrame, out_dir: str, job_id: str) -> str:
    """Lay an artifact table out as the reference's job directory:
    <out_dir>/<job_id>/<page>/<stage>/<name> + manifest.json. Collects
    to the driver — debug runs over a filtered handful of pages only."""
    import pathlib

    rows = art_df.collect()
    job_dir = pathlib.Path(out_dir) / job_id
    entries = []
    for r in rows:
        p = job_dir / r["media_ref"] / r["stage"] / r["name"]
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(bytes(r["payload"]))
        entries.append(
            {"name": r["name"], "type": r["type"], "path": str(p)}
        )
    job_dir.mkdir(parents=True, exist_ok=True)
    (job_dir / "manifest.json").write_text(
        json.dumps({"job_id": job_id, "artifacts": entries}, indent=2)
    )
    return str(job_dir)
