"""K6 artifact/debug sink — per-stage intermediates as a TABLE.

The reference's ArtifactManager writes per-page stage artifacts (line
mask, contour JSON, TPS analysis, line list, final text) into a job
directory with a manifest (reference: BDRC/artifact_manager.py:23-139;
driven per stage by run_ocr_with_artifacts, BDRC/pipeline.py:30-195).
The cluster-native re-expression is an ARTIFACT TABLE — one row per
(media_ref, stage, name, type, payload) — written as parquet from the
executors; ``materialize_job_dir`` lays the table out as the
reference's job directory (subdirs detection/dewarping/lines/results +
manifest.json) for human inspection of small debug runs.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ARTIFACT_SCHEMA = (
    "media_ref string, stage string, name string, type string, payload binary"
)

# reference SUBDIR_NAMES (BDRC/artifact_manager.py:17)
STAGE_SUBDIRS = ("detection", "dewarping", "lines", "results")


def debug_page_artifacts(content: bytes, session) -> list[dict]:
    """Run the page stages, collecting the reference's per-stage
    artifacts (cf. run_ocr_with_artifacts stage saves,
    BDRC/pipeline.py:81-187). Pure function of the page bytes."""
    import numpy as np

    from .imgcodec import png_decode, png_encode
    from .kernels.binarize import binarize, to_gray
    from .kernels.contours import contour_points
    from .kernels.deskew import ROTATE_THRESHOLD, estimate_page_angle, shear_shift
    from .kernels.dewarp import TPS_THRESHOLD, apply_column_shift, distortion_ratio, fit_page_shift
    from .kernels.linecrop import extract_line_images
    from .kernels.reading_order import sort_lines_by_threshold
    from .page import _detect, _line_comps

    def art(stage: str, name: str, typ: str, payload: bytes) -> dict:
        return {"stage": stage, "name": name, "type": typ, "payload": payload}

    out: list[dict] = []
    try:
        gray = to_gray(png_decode(content))
    except Exception as exc:
        return [art("results", "error.txt", "text", str(exc)[:500].encode())]
    ink = binarize(gray)
    width = ink.shape[1]
    mask, comps = _detect(ink)
    out.append(
        art("detection", "line_mask.png", "image", png_encode((mask * 255).astype(np.uint8)))
    )
    line_comps = _line_comps(comps, width)
    out.append(
        art(
            "detection",
            "contours.json",
            "json",
            json.dumps(
                {
                    "num_contours": len(line_comps),
                    "bboxes": [{"x": c.x, "y": c.y, "w": c.w, "h": c.h} for c in line_comps],
                    "contours": [contour_points(c) for c in line_comps],
                }
            ).encode(),
        )
    )
    angle = estimate_page_angle(comps, mask.shape)
    base = shear_shift(width, angle) if abs(angle) > ROTATE_THRESHOLD else None
    ratio, dys = distortion_ratio(line_comps, base)
    applied = ratio > TPS_THRESHOLD and bool(line_comps)
    out.append(
        art(
            "dewarping",
            "tps_analysis.json",
            "json",
            json.dumps(
                {"page_angle": angle, "tps_ratio": ratio, "applied": applied, "max_yd": dys}
            ).encode(),
        )
    )
    total = base
    if applied:
        s2 = fit_page_shift(line_comps, width, base_shift=base)
        total = s2 if base is None else base + s2
    if total is not None:
        ink = apply_column_shift(ink, total)
        mask, comps = _detect(ink)
        line_comps = _line_comps(comps, width)
        out.append(
            art("dewarping", "rectified_mask.png", "image",
                png_encode((mask * 255).astype(np.uint8)))
        )
    ordered, thr = sort_lines_by_threshold(line_comps, mask.shape)
    out.append(
        art(
            "lines",
            "line_data.json",
            "json",
            json.dumps(
                {
                    "threshold": thr,
                    "lines": [{"x": c.x, "y": c.y, "w": c.w, "h": c.h} for c in ordered],
                }
            ).encode(),
        )
    )
    line_imgs = extract_line_images(ink, ordered)
    for i, img in enumerate(line_imgs):
        out.append(
            art("lines", f"line_{i:03d}.png", "image",
                png_encode((img * 255).astype(np.uint8)))
        )
    # I38 preview/overlay render (generate_line_preview + the
    # addWeighted overlays, reference BDRC/utils.py:704-710,918-962):
    # detected line regions blended red over the (rectified) page
    page = np.where(ink > 0, np.uint8(25), np.uint8(235))
    preview = np.stack([page] * 3, axis=-1).astype(np.float64)
    red = np.array([255.0, 0.0, 0.0])
    for c in ordered:
        for row, x0, x1 in c.runs.tolist():
            preview[row, x0:x1] = 0.5 * preview[row, x0:x1] + 0.5 * red
    out.append(
        art("results", "line_preview.png", "image",
            png_encode(np.clip(preview, 0, 255).astype(np.uint8)))
    )
    return out


def debug_artifacts(spark: SparkSession, pages_df: DataFrame, session_weights=None) -> DataFrame:
    """pages -> artifact table (ARTIFACT_SCHEMA). Debug-mode only: meant
    for a filtered handful of pages, not full corpora (payloads are
    per-stage images)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = {k: [] for k in ("media_ref", "stage", "name", "type", "payload")}
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                for a in debug_page_artifacts(bytes(content), None):
                    rows["media_ref"].append(ref)
                    rows["stage"].append(a["stage"])
                    rows["name"].append(a["name"])
                    rows["type"].append(a["type"])
                    rows["payload"].append(a["payload"])
            yield pd.DataFrame(rows)

    return pages_df.select("media_ref", "content").mapInPandas(
        kernel, schema=ARTIFACT_SCHEMA
    )


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
