"""Rotated minimum-area bounding rectangles (A8 fidelity).

The reference's ``get_union_bbox`` returns, alongside the axis-aligned
box, a ``RotatedBBox(center, width, height, angle, points)`` from
``cv2.minAreaRect`` (reference: BDRC/utils.py:1081-1097,
BDRC/data.py:105-118) — downstream consumers of skewed-page line
geometry need the angle. This is a from-scratch implementation of the
classic computational-geometry pair behind minAreaRect: Andrew's
monotone-chain convex hull + rotating calipers (the minimum-area
enclosing rectangle has a side collinear with a hull edge — Freeman &
Shapira 1975).

Convention (documented, deterministic — NOT OpenCV's historical
quirk): ``angle`` is the orientation of the rectangle's LONGER side in
degrees within (-90, 90], so a text line skewed by +3° reports ≈ +3°;
``width`` >= ``height`` always. ``points`` are the 4 corners in a
deterministic order (start = lowest (y, x) corner, counter-clockwise
in image coordinates).
"""

from __future__ import annotations

import numpy as np

from .components import Component


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain. (N,2) float/int -> (H,2) CCW hull
    (in standard orientation; no duplicate endpoint)."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    n = len(pts)
    if n <= 2:
        return pts
    # lexicographic sort by (x, y)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list[np.ndarray] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[np.ndarray] = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.array(lower[:-1] + upper[:-1])


def min_area_rect(
    points: np.ndarray,
) -> tuple[tuple[float, float], float, float, float, np.ndarray]:
    """Minimum-area enclosing rectangle of a point set.

    Returns ``(center, width, height, angle_deg, corners)`` with
    ``width >= height``, ``angle`` = long-side orientation in
    (-90, 90] degrees, ``corners`` an (4,2) float array."""
    pts = np.asarray(points, dtype=np.float64)
    if pts.size == 0:
        raise ValueError("min_area_rect of empty point set")
    hull = convex_hull(pts)
    if len(hull) == 1:
        p = hull[0]
        corners = np.tile(p, (4, 1))
        return (float(p[0]), float(p[1])), 0.0, 0.0, 0.0, corners
    if len(hull) == 2:
        a, b = hull
        d = b - a
        length = float(np.hypot(*d))
        ang = float(np.degrees(np.arctan2(d[1], d[0])))
        if ang <= -90.0:
            ang += 180.0
        elif ang > 90.0:
            ang -= 180.0
        center = ((a + b) / 2.0).astype(float)
        corners = np.array([a, b, b, a], dtype=np.float64)
        return (float(center[0]), float(center[1])), length, 0.0, ang, corners

    edges = np.roll(hull, -1, axis=0) - hull
    lens = np.hypot(edges[:, 0], edges[:, 1])
    dirs = edges / lens[:, None]
    normals = np.stack([-dirs[:, 1], dirs[:, 0]], axis=1)
    # project hull points onto each edge frame: (E, N) matrices
    u = dirs @ hull.T
    v = normals @ hull.T
    du = u.max(axis=1) - u.min(axis=1)
    dv = v.max(axis=1) - v.min(axis=1)
    areas = du * dv
    e = int(np.argmin(areas))
    w_e, h_e = float(du[e]), float(dv[e])
    cu = (u[e].max() + u[e].min()) / 2.0
    cv_ = (v[e].max() + v[e].min()) / 2.0
    center = cu * dirs[e] + cv_ * normals[e]

    # orientation of the longer side, normalized into (-90, 90]
    if w_e >= h_e:
        long_dir, width, height = dirs[e], w_e, h_e
    else:
        long_dir, width, height = normals[e], h_e, w_e
    ang = float(np.degrees(np.arctan2(long_dir[1], long_dir[0])))
    if ang <= -90.0:
        ang += 180.0
    elif ang > 90.0:
        ang -= 180.0

    half_u = du[e] / 2.0
    half_v = dv[e] / 2.0
    corners = np.array(
        [
            center - half_u * dirs[e] - half_v * normals[e],
            center + half_u * dirs[e] - half_v * normals[e],
            center + half_u * dirs[e] + half_v * normals[e],
            center - half_u * dirs[e] + half_v * normals[e],
        ]
    )
    # deterministic corner order: start at lowest (y, x), go CCW in
    # image coordinates (the polygon above is already a cycle)
    start = int(np.lexsort((corners[:, 0], corners[:, 1]))[0])
    corners = np.roll(corners, -start, axis=0)
    return (float(center[0]), float(center[1])), width, height, ang, corners


def component_rotated_bbox(comp: Component) -> dict:
    """RotatedBBox row for a run-based component: hull of the run
    extreme pixels (same point set a contour walk visits)."""
    a = comp.runs
    pts = np.empty((2 * a.shape[0], 2), dtype=np.int64)
    pts[0::2, 0] = a[:, 1]
    pts[0::2, 1] = a[:, 0]
    pts[1::2, 0] = a[:, 2] - 1
    pts[1::2, 1] = a[:, 0]
    center, width, height, angle, corners = min_area_rect(pts)
    return {
        "cx": center[0],
        "cy": center[1],
        "w": width,
        "h": height,
        "angle": angle,
        "points": [{"x": int(round(x)), "y": int(round(y))} for x, y in corners],
    }
