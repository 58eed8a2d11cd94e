"""Contour extraction + Douglas-Peucker simplification.

The reference derives line contours from ``cv2.findContours`` and
simplifies them with ``cv2.approxPolyDP(eps=0.001*arcLength)``
(``optimize_countour``, reference: BDRC/line_detection.py:47-59); the
detection parquet persists ``contours: list<list<struct<x,y>>>``
(LINE_DETECTION_SCHEMA, reference: Config.py:90-115, written by
write_result_parquet, BDRC/utils.py:1119-1139).

Here contours derive from run-based components: the boundary polygon
walks the left run extremes top-to-bottom, then the right extremes
bottom-to-top — exact for the horizontally-convex blobs line
segmentation produces (per-row x holes are interior detail OpenCV's
outer contour also skips). Douglas-Peucker is the classic recursive
max-deviation split with the reference's epsilon rule.
"""

from __future__ import annotations

import numpy as np

from .components import Component


def component_contour(comp: Component) -> np.ndarray:
    """Boundary polygon of a component as an (N, 2) int array of (x, y):
    left edge top-to-bottom, right edge bottom-to-top (closed
    implicitly, like an OpenCV contour)."""
    # runs are row-major with disjoint ascending runs per row, so each
    # row's min x0 is its FIRST run and max x1 its LAST run
    a = comp.runs
    rows = a[:, 0]
    urows, first = np.unique(rows, return_index=True)
    last = np.append(first[1:], rows.size) - 1
    m = urows.size
    out = np.empty((2 * m, 2), dtype=np.int64)
    out[:m, 0] = a[first, 1]  # left edge top-to-bottom
    out[:m, 1] = urows
    out[m:, 0] = a[last, 2][::-1] - 1  # right edge bottom-to-top
    out[m:, 1] = urows[::-1]
    return out


def _perp_dist(pts: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Perpendicular distance of each point to segment a-b (degenerate
    segment -> euclidean distance to a)."""
    ab = b - a
    denom = float(np.hypot(*ab))
    if denom == 0.0:
        return np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
    return np.abs((pts[:, 0] - a[0]) * ab[1] - (pts[:, 1] - a[1]) * ab[0]) / denom


def _dp(pts: np.ndarray, eps: float) -> list[int]:
    """Indices kept by Douglas-Peucker on an open polyline (iterative
    stack — no recursion limit on long contours)."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[i + 1 : j]
        d = _perp_dist(seg, pts[i], pts[j])
        k = int(np.argmax(d))
        if d[k] > eps:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return np.flatnonzero(keep).tolist()


def simplify_contour(pts: np.ndarray, eps_frac: float = 0.001) -> np.ndarray:
    """Douglas-Peucker with eps = eps_frac * closed arc length
    (reference: optimize_countour, BDRC/line_detection.py:47-59). The
    closed polygon is split at its two mutually-farthest anchor points
    (point 0 and the point farthest from it) and each half simplified as
    an open polyline."""
    n = len(pts)
    if n <= 3:
        return pts
    closed = np.vstack([pts, pts[:1]])
    arclen = float(np.hypot(*np.diff(closed, axis=0).T).sum())
    eps = eps_frac * arclen
    far = int(np.argmax(np.hypot(pts[:, 0] - pts[0, 0], pts[:, 1] - pts[0, 1])))
    if far == 0:
        return pts[:1]
    first = pts[: far + 1]
    second = np.vstack([pts[far:], pts[:1]])
    kept1 = _dp(first, eps)
    kept2 = _dp(second, eps)
    idx = kept1 + [far + k for k in kept2[1:-1]]
    return pts[np.array(idx, dtype=np.int64)]


def contour_points(comp: Component, eps_frac: float = 0.001) -> list[dict]:
    """Simplified boundary as [{'x': int, 'y': int}, ...] rows for the
    detection table's ``contours`` column."""
    pts = simplify_contour(component_contour(comp), eps_frac)
    return [{"x": int(x), "y": int(y)} for x, y in pts]
