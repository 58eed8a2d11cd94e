"""Baseline dewarping: distortion detection + polynomial rectification.

Mirrors the reference's TPS stage semantics (BDRC/image_dewarping.py):

- ``slice_stats`` ~ the sampling of ``check_line_tps`` (:118-193): each
  line's vertical position at 5 x-slices (x in {0, w/4, w/2, 3w/4,
  w-sw}), for all lines of a page from one run-table pass.
- ``distortion_ratio`` ~ ``check_for_tps`` (:196-227): a line is
  distorted iff max Δy between its slice centers exceeds its mean slice
  height; the ratio is the fraction of lines flagged, and the pipeline
  gates rectification on ratio > tps_threshold = 0.25
  (BDRC/inference.py:549-567).
- ``best_global_line`` ~ ``get_global_tps_line`` (:230-264): the line
  whose Δy is closest to the mean Δy drives the global correction.
- ``fit_page_shift`` + ``apply_column_shift`` ~ ``apply_global_tps``
  (:267-289): we fit one polynomial through every line's per-column
  baseline (the "polynomial baseline fit" of the target spec) and shift
  every column vertically to flatten it — a thin-plate-style warp
  restricted to the vertical axis, which is exactly the distortion
  family page curl produces. ``apply_global_tps_2d`` is the true 2-D
  spline path.
"""

from __future__ import annotations

import numpy as np

from .components import Component, slice_ink_rows

TPS_THRESHOLD = 0.25  # reference: BDRC/inference.py:558
SLICE_FRACTIONS = (0.0, 0.25, 0.5, 0.75, 1.0)  # reference: image_dewarping.py:137-147


def _slice_starts(comps: list[Component], slice_width: int) -> np.ndarray:
    """(len(comps), 5) slice starts x in {0, w/4, w/2, 3w/4, w-sw} of
    each component's bbox."""
    starts = [[c.x + int(f * max(c.w - slice_width, 0)) for f in SLICE_FRACTIONS] for c in comps]
    return np.array(starts, dtype=np.int64).reshape(len(comps), len(SLICE_FRACTIONS))


def slice_stats(
    comps: list[Component], slice_width: int = 8, base_shift: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(centers, heights), each (len(comps), 5): every component's ink
    center row and ink height at its 5 x-slices (NaN where empty).

    Heights are *local* slice heights (the vertical extent of ink inside
    the slice), matching ``get_global_center``
    (BDRC/image_dewarping.py:77-115) — a warped band's local height stays
    ~one line tall even though its bbox inflates.

    ``base_shift`` (per-column up-shift already scheduled, e.g. the
    deskew shear) is applied analytically: rows are evaluated as
    row - shift(slice center) — so the dewarp gate sees post-deskew
    geometry without the ink ever being re-materialized.
    """
    x_starts = _slice_starts(comps, slice_width)
    lo, hi = slice_ink_rows(comps, x_starts, slice_width)
    hit = hi >= 0
    s = 0.0
    if base_shift is not None:
        s = base_shift[np.minimum(x_starts + slice_width // 2, len(base_shift) - 1)]
        s = s.astype(np.float64)
    centers = np.where(hit, (lo + hi) / 2.0 - s, np.nan)
    heights = np.where(hit, hi - lo + 1, np.nan)
    return centers, heights


def distortion_ratio(
    comps: list[Component], base_shift: np.ndarray | None = None
) -> tuple[float, list[float]]:
    """Fraction of distorted lines + per-line Δy values
    (reference: check_for_tps, BDRC/image_dewarping.py:196-227).

    A line is distorted iff the spread Δy of its slice centers exceeds
    its mean local slice height (reference: check_line_tps,
    BDRC/image_dewarping.py:118-193)."""
    if not comps:
        return 0.0, []
    centers, heights = slice_stats(comps, base_shift=base_shift)
    # fmax/fmin skip NaN: Δy is 0 for a line with one inked slice and
    # NaN -> 0 for a line with none, so neither exceeds its height
    dy = np.nan_to_num(np.fmax.reduce(centers, axis=1) - np.fmin.reduce(centers, axis=1))
    n = (~np.isnan(heights)).sum(axis=1)
    mean_h = np.nansum(heights, axis=1) / np.maximum(n, 1)
    return float(np.mean(dy > mean_h)), dy.tolist()


def best_global_line(comps: list[Component], dys: list[float]) -> Component:
    """Line whose Δy is closest to the mean Δy
    (reference: get_global_tps_line, BDRC/image_dewarping.py:230-264)."""
    mean_dy = float(np.mean(dys))
    idx = int(np.argmin([abs(mean_dy - d) for d in dys]))
    return comps[idx]


def line_control_points(
    comp: Component, slice_width: int = 8
) -> tuple[np.ndarray, np.ndarray]:
    """(input_pts, output_pts) for TPS from a line's slice centers:
    inputs are the (x, y) centers at the 5 slices, outputs flatten each
    to the centers' mean y (reference: check_line_tps control points,
    BDRC/image_dewarping.py:118-193)."""
    centers = slice_stats([comp], slice_width)[0][0]
    xs = (_slice_starts([comp], slice_width)[0] + slice_width // 2).astype(np.float64)
    valid = ~np.isnan(centers)
    xs, ys = xs[valid], centers[valid]
    mean_y = float(ys.mean()) if ys.size else 0.0
    pts_in = np.stack([xs, ys], axis=1)
    pts_out = np.stack([xs, np.full(xs.shape, mean_y)], axis=1)
    return pts_in, pts_out


def apply_global_tps_2d(
    ink: np.ndarray, comps: list[Component], dys: list[float]
) -> np.ndarray:
    """I21 true 2-D path: warp the page with a thin-plate spline through
    the best line's control points + corner anchors (reference:
    apply_global_tps, BDRC/image_dewarping.py:267-289; run_tps :22-74).
    The column-shift path (fit_page_shift) stays the default — it is the
    vertical restriction that page curl actually produces and costs one
    gather instead of a dense spline evaluation."""
    from .tps import tps_warp

    best = best_global_line(comps, dys)
    pts_in, pts_out = line_control_points(best)
    if len(pts_in) < 2:
        return ink
    return tps_warp(ink, pts_in, pts_out)


def fit_page_shift(
    comps: list[Component],
    width: int,
    degree: int = 9,
    base_shift: np.ndarray | None = None,
) -> np.ndarray:
    """Per-column integer vertical shift flattening the page's shared warp.

    Joint least squares: model top_i(x) = c_i + poly(x) with one shared
    polynomial (the page warp) and a free intercept per line. Using every
    line's baseline keeps the fit interpolating across the full page
    width — the stabilizing role the reference's corner-anchor control
    points play in ``apply_global_tps`` (BDRC/image_dewarping.py:267-289)
    — where a single-line fit would extrapolate wildly beyond that
    line's x-range.
    """
    xs_all: list[np.ndarray] = []
    ys_all: list[np.ndarray] = []
    line_idx: list[np.ndarray] = []
    for i, comp in enumerate(comps):
        top = comp.top_profile().astype(np.float64)
        valid = top >= 0
        if valid.sum() < 2:
            continue
        xs = (np.flatnonzero(valid) + comp.x).astype(np.float64)
        ys = top[valid]
        if base_shift is not None:
            ys = ys - base_shift[xs.astype(np.int64)]
        xs_all.append(xs)
        ys_all.append(ys)
        line_idx.append(np.full(xs.shape, i, dtype=np.int64))
    if not xs_all:
        return np.zeros(width, dtype=np.int64)
    x = np.concatenate(xs_all) / max(width - 1, 1)  # scale for conditioning
    y = np.concatenate(ys_all)
    li = np.concatenate(line_idx)
    n_lines = len(comps)
    deg = int(min(degree, max(1, x.size // 8)))
    # design: per-line intercept columns + x^1..x^deg (constant absorbed)
    A = np.zeros((x.size, n_lines + deg))
    A[np.arange(x.size), li] = 1.0
    for d in range(1, deg + 1):
        A[:, n_lines + d - 1] = x**d
    coef, *_ = np.linalg.lstsq(A, y, rcond=None)
    poly = coef[n_lines:]
    grid = np.arange(width, dtype=np.float64) / max(width - 1, 1)
    # evaluate only INSIDE the observed baseline x-range; outside it hold
    # the boundary value — a degree-9 polynomial extrapolates explosively
    # past the fitted span and would shred page-edge regions (margins,
    # header/footer ends) that carry no baseline samples
    grid = np.clip(grid, x.min(), x.max())
    fitted = sum(poly[d - 1] * grid**d for d in range(1, deg + 1))
    return np.rint(fitted - np.median(fitted)).astype(np.int64)


def apply_column_shift(img: np.ndarray, shift: np.ndarray, fill: int = 0) -> np.ndarray:
    """Shift column x up by shift[x] pixels.

    out[y, x] = img[y + shift[x], x] where in-bounds, else ``fill``.
    The shift surface is smooth (a fitted polynomial / shear), so equal
    shift values form contiguous column segments: one 2-D slice copy per
    segment touches each pixel once — no page-sized index/bool
    temporaries like a full gather would need.
    """
    h, w = img.shape[:2]
    out = np.full_like(img, fill)
    s64 = shift.astype(np.int64, copy=False)
    bounds = np.flatnonzero(np.diff(s64)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [w]))
    for c0, c1, s in zip(starts.tolist(), ends.tolist(), s64[starts].tolist()):
        y0, y1 = max(0, -s), min(h, h - s)
        if y0 < y1:
            out[y0:y1, c0:c1] = img[y0 + s : y1 + s, c0:c1]
    return out

