"""Deskew: page-rotation estimation and correction.

The reference estimates the page angle as the mean of per-contour
``cv2.minAreaRect`` angles, split into low/high branches within ±5°
(reference: BDRC/line_detection.py:107-142), and rotates only when
|angle| > 0.5° (BDRC/line_detection.py:212-244). Without OpenCV we
estimate each line component's angle by least-squares fitting its
per-column top edge (the strut rule of a text band is a straight line
under pure rotation) — same quantity minAreaRect would report for a
long thin band.
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


def shear_correct(img: np.ndarray, angle_deg: float, fill: int = 0) -> np.ndarray:
    """Small-angle deskew by integer vertical shear: column x shifts up by
    round((x - cx)·tan(angle)). For |angle| < 5° this equals rotation up
    to a sub-pixel horizontal term (h·tanθ differential across a glyph is
    << 1 px), but — unlike resampling rotation — translates columns
    whole, so downstream per-column features are exactly preserved.
    Used as the pipeline's deskew step; ``rotate_image`` below is the
    general-angle kernel (reference: rotate_from_angle,
    BDRC/line_detection.py:62-76)."""
    if angle_deg == 0.0:
        return img
    from .dewarp import apply_column_shift

    return apply_column_shift(img, shear_shift(img.shape[1], angle_deg), fill=fill)


def rotate_image(
    img: np.ndarray, angle_deg: float, fill: int = 0
) -> np.ndarray:
    """Rotate about the image center by ``angle_deg`` (counter-clockwise
    in image coordinates), nearest-neighbour inverse mapping, same output
    size — the affine-rotation semantics of the reference's
    ``rotate_from_angle`` (BDRC/line_detection.py:62-76)."""
    if angle_deg == 0.0:
        return img
    h, w = img.shape[:2]
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    theta = math.radians(angle_deg)
    cos_t, sin_t = math.cos(theta), math.sin(theta)
    ys, xs = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    xr = xs - cx
    yr = ys - cy
    # inverse rotation: source = R(-theta) . dest
    src_x = np.rint(cos_t * xr - sin_t * yr + cx).astype(np.int64)
    src_y = np.rint(sin_t * xr + cos_t * yr + cy).astype(np.int64)
    inside = (src_x >= 0) & (src_x < w) & (src_y >= 0) & (src_y < h)
    out = np.full_like(img, fill)
    out[inside] = img[src_y[inside], src_x[inside]]
    return out
