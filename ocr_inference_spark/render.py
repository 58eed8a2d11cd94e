"""Deterministic fixture page renderer.

Renders known text lines into synthetic page images so the expected
span sequence is exact ground truth (FIXTURES.md §2): each line is a
band with a solid strut rule on top and a glyph strip encoding the
characters (glyphs.py). Optional seeded skew (< 5°, within the
reference's acceptance window, BDRC/line_detection.py:110) and a
vertical sine warp (exercises the dewarp gate,
BDRC/image_dewarping.py:196-227).

The renderer intentionally applies the *forward* distortions the
pipeline must undo — rotation and per-column vertical shift — using the
same resampling primitives (kernels/deskew.py, kernels/dewarp.py), so
fixture equality tests the inverse kernels end to end.
"""

from __future__ import annotations

import math

import numpy as np

from .glyphs import (
    BAND_H,
    GLYPH_GAP,
    GLYPH_H,
    GLYPH_TOP,
    GLYPH_W,
    STRUT_H,
    TEMPLATES,
    encode_text,
    line_pixel_width,
)
from .kernels.dewarp import apply_column_shift

INK = 25
PAPER = 235

# page-geometry defaults for render_page — importable (queries._q34_oracle
# derives closed-form page dimensions from these; keeping them named
# means a renderer change cannot silently diverge the oracle SQL)
PAGE_MARGIN = 48
LINE_SPACING = 56


def render_line_band(text: str) -> np.ndarray:
    """Text -> (BAND_H, width) ink bitmap {0,1}."""
    ids = encode_text(text)
    width = line_pixel_width(len(ids))
    band = np.zeros((BAND_H, width), dtype=np.uint8)
    band[:STRUT_H, :] = 1  # the strut rule: full-width, keeps the band connected
    for i, cid in enumerate(ids):
        x0 = i * (GLYPH_W + GLYPH_GAP)
        col = TEMPLATES[cid].astype(np.uint8)  # (GLYPH_H,)
        band[GLYPH_TOP : GLYPH_TOP + GLYPH_H, x0 : x0 + GLYPH_W] = col[:, None]
    return band


CAPTION_GAP = 320  # far enough below the block that the text-area
# clustering (±55 px reach) cannot merge it even under max skew+warp


def render_page(
    lines: list[str],
    margin: int = PAGE_MARGIN,
    spacing: int = LINE_SPACING,
    skew_deg: float = 0.0,
    warp_amp: int = 0,
    warp_period: int | None = None,
    noise: bool = False,
    caption: bool = False,
) -> np.ndarray:
    """Known text lines -> uint8 grayscale page image (dark ink on paper).

    Skew is applied as integer vertical shear (the small-angle model of
    page tilt — see kernels/deskew.py:shear_shift) and warp as a
    vertical sine shift: both are per-column displacements, the
    distortion family the pipeline's deskew + baseline-dewarp stages
    invert.
    """
    bands = [render_line_band(t) for t in lines]
    content_w = max((b.shape[1] for b in bands), default=64)
    width = content_w + 2 * margin
    xs = np.arange(width, dtype=np.float64)
    shift_down = np.zeros(width, dtype=np.float64)
    if warp_amp:
        period = warp_period or width
        shift_down += warp_amp * np.sin(2.0 * math.pi * xs / period)
    if skew_deg:
        cx = (width - 1) / 2.0
        shift_down += (xs - cx) * math.tan(math.radians(skew_deg))
    s = np.rint(shift_down).astype(np.int64)
    pad = int(max(-s.min(), s.max(), 0)) + 1 if s.any() else 0
    height = 2 * (margin + pad) + len(bands) * BAND_H + max(len(bands) - 1, 0) * spacing
    if caption:
        height += CAPTION_GAP + BAND_H
    ink = np.zeros((height, width), dtype=np.uint8)
    y = margin + pad
    for band in bands:
        ink[y : y + BAND_H, margin : margin + band.shape[1]] = band
        y += BAND_H + spacing
    if caption:
        # LINE-SHAPED furniture outside the text block: a caption-like
        # solid band that PASSES the line-size filter (full line height,
        # >1% page width) — only the text-area spatial filter (I36/F3,
        # reference BDRC/utils.py:576-608,661-681) can strip it
        cy = (y - spacing) + CAPTION_GAP
        cw = max(int(content_w * 0.6), 48)
        ink[cy : cy + BAND_H, margin : margin + cw] = 1
    if noise:
        # non-content page furniture — the analogue of the reference's
        # margin / header / pagenr layout classes (Config.py:37-48),
        # which the pipeline must strip (BDRC/inference.py:499-505
        # selects only the `line` channel). Sub-line-height/width by
        # construction, so the line-size filter (F2) discards them the
        # way the reference's class selection + area filters do.
        # offsets keep the three elements farther apart than the
        # segmentation closing radii, so they stay separate components
        ink[26:, 2:4] = 1                                  # margin rule (vertical)
        ink[2:5, 30:] = 1                                  # header rule
        ink[height - 14 : height - 6, width - 20 : width - 6] = 1  # page number blob
    if s.any():
        # shift DOWN by s(x): apply_column_shift moves columns up by
        # +shift, so pass the negated values
        ink = apply_column_shift(ink, -s, fill=0)
    return np.where(ink > 0, np.uint8(INK), np.uint8(PAPER))
