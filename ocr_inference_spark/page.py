"""The fused per-page kernel: encoded page bytes -> ordered line texts.

This is the engine's per-partition kernel contract (SURVEY.md EP2):
``(page_bytes, weights) -> (texts, confs, angle, dewarp_applied,
status)`` — pure, no I/O, no wall clock. The Spark pipeline
(pipeline.py) calls it from a single ``mapInPandas`` so stages 1-5 run
fused per Arrow batch (one Python worker round trip, not five —
SURVEY.md §4 "operator fusion").

Stage order mirrors the reference pipeline (BDRC/pipeline.py:30-195):
  1. line detection (binarize -> segmentation mask -> components)
  2. deskew (angle estimate, rotate when |angle| > 0.5°)
  3. dewarp (distortion gate at ratio > 0.25, polynomial baseline fit)
  4. reading-order sort + line extraction
  5. CTC text recognition
Every stage carries an (OpStatus, payload) error channel like the
reference (BDRC/pipeline.py:83-85) — a failed page yields status !=
'success' instead of failing the task.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .glyphs import decode_ids
from .imgcodec import decode_image
from .kernels.binarize import binarize, to_gray
from .kernels.components import (
    connected_components,
    filter_area,
    filter_in_text_area,
    filter_line_contours,
    get_text_area,
)
from .kernels.ctc import beam_decode, ctc_confidence, greedy_decode
from .kernels.deskew import ROTATE_THRESHOLD, estimate_page_angle, shear_shift
from .kernels.dewarp import (
    TPS_THRESHOLD,
    apply_column_shift,
    distortion_ratio,
    fit_page_shift,
)
from .kernels.linecrop import extract_line_images
from .kernels.morphology import H_RADIUS, V_RADIUS, line_segmentation_mask
from .kernels.reading_order import sort_lines_by_threshold
from .model import RecognitionSession


@dataclass(frozen=True)
class PipelineOptions:
    """Reference-CLI-parity knobs (reference cli.py:20-38): the options
    a user of the reference tunes per run, threaded through the Spark
    kernel as one picklable value. Defaults reproduce the fixture-pinned
    behavior exactly.

    - ``k_factor``: vertical slack multiplier around each line crop
      (reference --k-factor / extract_line's dilation factor).
    - ``tps_mode``: 'global' | 'global2d' | 'local' (reference --dewarp
      + TPSMode, BDRC/data.py:74-78).
    - ``line_sorting``: 'threshold' | 'peaks' (LineSorting enum).
    - ``dewarp``: False disables the TPS/dewarp stage entirely
      (reference runs dewarping only when --dewarp is passed).
    - ``merge_lines``: group same-row chunks into one line (reference
      --merge-lines / group_line_chunks).
    - ``emit_contours``: per-line rectified contour polygons in the OCR
      rows (PageXML Coords parity — the reference exports them from the
      same inference run). Costs 1-3 ms/page (BENCH/NOTES_r4.md §1).
      Honoured by ``pipeline.recognize_pages`` and so by the exporters
      that read its ``contour`` column (PageXML Coords);
      ``extract_spans`` and ``checkpoint.run_resumable`` keep only text
      and always run with it off (``pipeline.text_only``)."""

    k_factor: float = 1.2  # linecrop.DEFAULT_K_FACTOR
    tps_mode: str = "global"
    line_sorting: str = "threshold"
    dewarp: bool = True
    merge_lines: bool = True
    emit_contours: bool = True


@dataclass
class PageResult:
    """Per-page output (cf. OCResult, BDRC/data.py:228-236)."""

    texts: list[str] = field(default_factory=list)
    confs: list[float] = field(default_factory=list)
    angle: float = 0.0
    dewarp_applied: bool = False
    distortion_ratio: float = 0.0
    n_lines: int = 0
    status: str = "success"
    error: str = ""
    beams: list = field(default_factory=list)  # eval_mode: top-k (text, logp) per line
    # per-line simplified contour polygons, SAME rectified geometry as
    # the recognized text (the reference exports contours from the same
    # inference run — a separate detect_page pass on the un-rectified
    # ink can disagree in line count/order on skewed pages)
    contours: list = field(default_factory=list)
    # per-stage wall-clock ms (audit/metrics plane ONLY — never data;
    # cf. AuditLogger stage records, BDRC/audit_logger.py:41-64)
    stage_ms: dict = field(default_factory=dict)


def _detect(ink: np.ndarray):
    mask = line_segmentation_mask(ink)
    comps = connected_components(mask)
    comps = filter_area(comps, mask.shape[0] * mask.shape[1] * 0.001)
    return mask, comps


def _line_comps(comps, width: int):
    """Line candidates = size filter (F2) + text-area spatial filter
    (I36/F3): size strips sub-line furniture, the main-content rect
    strips line-SHAPED furniture outside the text block (captions,
    marginal rules) — the reference's post_process_prediction order
    (text-area crop, then contour filtering; BDRC/utils.py:684-701)."""
    area = get_text_area(comps)
    sized = filter_line_contours(comps, width, deflate_w=H_RADIUS, deflate_h=V_RADIUS)
    return filter_in_text_area(sized, area)


def detect_page(content: bytes) -> dict:
    """Detection-only kernel (EP3 analogue, infer_lines_cli.py): page
    bytes -> line bboxes + simplified contour polygons in reading order
    under LINE_DETECTION_SCHEMA semantics (Config.py:90-115; polygons
    Douglas-Peucker-simplified like optimize_countour,
    BDRC/line_detection.py:47-59)."""
    from .kernels.contours import contour_points
    from .kernels.geometry import component_rotated_bbox

    try:
        gray = to_gray(decode_image(content))
    except Exception as exc:
        return {"status": "decode_failed", "error": str(exc)[:200], "bboxes": [],
                "contours": [], "rbboxes": [], "width": 0, "height": 0}
    ink = binarize(gray)
    mask, comps = _detect(ink)
    line_comps = _line_comps(comps, ink.shape[1])
    ordered, _ = sort_lines_by_threshold(line_comps, mask.shape)
    return {
        "status": "success",
        "error": "",
        "width": int(gray.shape[1]),
        "height": int(gray.shape[0]),
        "bboxes": [
            {"x": c.x, "y": c.y, "w": c.w, "h": c.h} for c in ordered
        ],
        "contours": [contour_points(c) for c in ordered],
        # rotated boxes (A8: get_union_bbox's RotatedBBox,
        # reference BDRC/utils.py:1081-1097)
        "rbboxes": [component_rotated_bbox(c) for c in ordered],
    }


def process_page(
    content: bytes,
    session: RecognitionSession,
    eval_mode: bool = False,
    tps_mode: str = "global",
    line_sorting: str = "threshold",
    options: PipelineOptions | None = None,
) -> PageResult:
    """``tps_mode``: 'global' applies the page-level polynomial
    rectification (apply_global_tps analogue, vertical column shift);
    'global2d' uses the true 2-D thin-plate-spline warp (I21,
    kernels/tps.py) through the best line's control points, materializing
    the deskew first like the reference's rotate-then-TPS order; 'local'
    skips page rectification and rectifies each extracted line
    individually (TPSMode.LOCAL, BDRC/data.py:74-78).

    ``line_sorting``: 'threshold' is the reference's
    sort_lines_by_threshold ordering (fixture equality depends on it);
    'peaks' orders by projection-profile bands (LineSorting.PEAKS,
    reference BDRC/data.py:53-64 — enum only there) and additionally
    splits CC-fused touching lines at profile valleys.

    ``options`` (a :class:`PipelineOptions`) overrides the individual
    kwargs and adds k_factor / dewarp / merge_lines."""
    from time import perf_counter

    if options is None:
        options = PipelineOptions(tps_mode=tps_mode, line_sorting=line_sorting)
    tps_mode = options.tps_mode
    line_sorting = options.line_sorting

    stage_ms: dict[str, float] = {}
    t0 = perf_counter()

    def _mark(stage: str) -> None:
        nonlocal t0
        t1 = perf_counter()
        stage_ms[stage] = stage_ms.get(stage, 0.0) + (t1 - t0) * 1000.0
        t0 = t1

    stage = "decode"
    try:
        gray = to_gray(decode_image(content))
    except Exception as exc:  # malformed media payload -> failed row
        _mark("decode")  # partial time of the failing stage -> audit row
        return PageResult(status="failed:decode", error=str(exc)[:200], stage_ms=stage_ms)
    _mark("decode")
    try:
        stage = "detect"
        ink = binarize(gray)
        width = ink.shape[1]
        # stage 1: detection
        mask, comps = _detect(ink)
        _mark("detect")

        # stage 2: deskew (reference: BDRC/line_detection.py:212-244) —
        # the correction is a per-column shift, SCHEDULED here and
        # composed with the dewarp shift below so the ink is
        # re-materialized (and re-detected) at most once
        stage = "deskew"
        angle = estimate_page_angle(comps, mask.shape)
        base = shear_shift(width, angle) if abs(angle) > ROTATE_THRESHOLD else None
        _mark("deskew")

        # stage 3: dewarp gate + fit on analytically-deskewed geometry
        # (reference: BDRC/inference.py:535-589)
        stage = "dewarp"
        line_comps = _line_comps(comps, width)
        ratio, _dys = distortion_ratio(line_comps, base)
        applied = (
            options.dewarp
            and ratio > TPS_THRESHOLD
            and bool(line_comps)
            and tps_mode in ("global", "global2d")
        )
        if tps_mode == "global2d":
            # reference order (BDRC/inference.py:535-589): materialize the
            # rotation, re-detect, then thin-plate-spline on the rotated ink
            from .kernels.dewarp import apply_global_tps_2d

            if base is not None:
                ink = apply_column_shift(ink, base)
                mask, comps = _detect(ink)
                line_comps = _line_comps(comps, width)
            if applied:
                ratio2, dys2 = distortion_ratio(line_comps)
                if line_comps:
                    ink = apply_global_tps_2d(ink, line_comps, dys2)
            if base is not None or applied:
                mask, comps = _detect(ink)
                line_comps = _line_comps(comps, width)
        else:
            total = base
            if applied:
                s2 = fit_page_shift(line_comps, width, base_shift=base)
                total = s2 if base is None else base + s2
            if total is not None:
                ink = apply_column_shift(ink, total)
                mask, comps = _detect(ink)
                line_comps = _line_comps(comps, width)
        _mark("dewarp")

        # stage 4: reading order + extraction
        stage = "extract"
        if line_sorting == "peaks":
            # LineSorting.PEAKS (reference enum BDRC/data.py:53-64, no
            # reference implementation): projection-profile bands order
            # the lines and split CC-fused touching lines first
            from .kernels.projection import peaks_sort_lines, split_merged_components
            from .kernels.reading_order import merge_row

            # profile over the segmentation MASK (solid per line) — the
            # raw glyph ink has sparse rows that would fracture bands
            split = split_merged_components(line_comps, mask)
            rows = peaks_sort_lines(split, mask)
            if options.merge_lines:
                ordered = [merge_row(r) for r in rows if r]
            else:
                ordered = [c for r in rows for c in r]
        else:
            ordered, _thr = sort_lines_by_threshold(
                line_comps, mask.shape, group_lines=options.merge_lines
            )
        line_imgs = extract_line_images(
            ink, ordered, local_tps=tps_mode == "local", k_factor=options.k_factor
        )
        if options.emit_contours:
            from .kernels.contours import contour_points

            line_contours = [contour_points(c) for c in ordered]
        else:
            line_contours = []
        _mark("extract")

        stage = "recognize"
        # stage 5: recognition (eval_mode switches to beam decode with
        # top-k + confidences, cf. run_text_recognition_eval,
        # BDRC/inference.py:668-726)
        logits_list = session.forward_batch(line_imgs)
        texts: list[str] = []
        confs: list[float] = []
        beams_out: list[list[tuple[str, float]]] = []
        for logits in logits_list:
            if eval_mode:
                beams = beam_decode(logits)
                ids = beams[0][0]
                score = beams[0][1]
                beams_out.append(
                    [(decode_ids(b_ids), b_score) for b_ids, b_score in beams]
                )
            else:
                ids, score = greedy_decode(logits)
            text = decode_ids(ids)
            texts.append(text)
            confs.append(ctc_confidence(score, len(text)))
        _mark("recognize")
        return PageResult(
            beams=beams_out,
            texts=texts,
            confs=confs,
            contours=line_contours,
            angle=float(angle),
            dewarp_applied=bool(applied),
            distortion_ratio=float(ratio),
            n_lines=len(texts),
            stage_ms=stage_ms,
        )
    except Exception as exc:
        # stage-tagged failure, mirroring AuditLogger.log_stage_error
        # (reference: BDRC/audit_logger.py:41-64); partial stage time kept
        _mark(stage)
        return PageResult(
            status=f"failed:{stage}", error=str(exc)[:200], stage_ms=stage_ms
        )
