"""Deskew: page-rotation estimation and the shear that corrects it.

The reference estimates the page angle as the mean of per-contour
``cv2.minAreaRect`` angles, split into low/high branches within ±5°
(reference: BDRC/line_detection.py:107-142), and rotates only when
|angle| > 0.5° (BDRC/line_detection.py:212-244). Without OpenCV we
estimate each line component's angle by least-squares fitting its
per-column top edge (the strut rule of a text band is a straight line
under pure rotation) — same quantity minAreaRect would report for a
long thin band.

The correction is not a resampling rotation but an integer vertical
shear: ``shear_shift`` gives each column's up-shift, and the page path
(``page.page_stages``) composes it with the dewarp shift and applies
both in one ``dewarp.apply_column_shift``. For |angle| < 5° the shear
equals rotation up to a sub-pixel horizontal term, and because it moves
columns whole, per-column features are preserved exactly.
"""

from __future__ import annotations

import math

import numpy as np

from .components import Component

MAX_ANGLE = 5.0  # reference: BDRC/line_detection.py:110 max_angle
ROTATE_THRESHOLD = 0.5  # reference: BDRC/line_detection.py:228
_EPS = np.finfo(np.float64).eps


def component_angle(comp: Component) -> float:
    """Angle (degrees) of the component's top edge via least squares.

    The line fit is ``np.polyfit(xs, top, 1)`` written out: the same
    column-scaled Vandermonde matrix and the same ``lstsq`` call with
    polyfit's ``rcond``, so the slope is bit-identical without the
    wrapper's per-call overhead (the columns are distinct, so the
    2-column matrix always has full rank and polyfit would not warn)."""
    top = comp.top_profile()
    valid = top >= 0
    xs = np.flatnonzero(valid).astype(np.float64)
    if xs.size < 2:
        return 0.0
    lhs = np.empty((xs.size, 2))
    lhs[:, 0] = xs
    lhs[:, 1] = 1.0
    scale = np.sqrt((lhs * lhs).sum(axis=0))
    lhs /= scale
    coef = np.linalg.lstsq(lhs, top[valid].astype(np.float64), xs.size * _EPS)[0]
    slope = coef[0] / scale[0]
    return math.degrees(math.atan(slope))


def estimate_page_angle(comps: list[Component], shape: tuple[int, int]) -> float:
    """Mean of per-component angles over area-filtered components
    (area > 0.1% of the mask, reference: BDRC/line_detection.py:124-125),
    clamped to the reference's ±MAX_ANGLE acceptance window."""
    mask_threshold = shape[0] * shape[1] * 0.001
    angles = [
        component_angle(c)
        for c in comps
        if c.area > mask_threshold
    ]
    angles = [a for a in angles if a != 0.0 and abs(a) < MAX_ANGLE]
    if not angles:
        return 0.0
    return float(np.mean(angles))


def shear_shift(width: int, angle_deg: float) -> np.ndarray:
    """Per-column up-shift (int32) that deskews a page of ``width`` by
    ``angle_deg`` via vertical shear: round((x - cx)·tan(angle))."""
    cx = (width - 1) / 2.0
    return np.rint(
        (np.arange(width) - cx) * math.tan(math.radians(angle_deg))
    ).astype(np.int32)
