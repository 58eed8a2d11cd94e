"""Oracle tests for the flattened-buffer morphology and run labeling.

The page kernel does its shift-ORs and run scans on flattened, padded
buffers, where a row-wrap bug shows only at the page borders. These
tests keep the plain 2-D / per-row formulations as reference functions
and compare them with the kernel on seeded random masks and on the
border cases: ink touching each edge, one-pixel-wide and one-pixel-tall
masks, structuring radii at least the mask size, and empty and full
masks.
"""

from __future__ import annotations

import numpy as np
import pytest

from ocr_inference_spark.kernels.components import (
    Component,
    _all_runs,
    connected_components,
)
from ocr_inference_spark.kernels.morphology import line_segmentation_mask

# ---------------------------------------------------------------- references


def ref_dilate_h(mask: np.ndarray, radius: int) -> np.ndarray:
    """Horizontal dilation, 2-D log shift-OR over whole columns."""
    if radius <= 0:
        return mask
    out = mask.copy()
    done = 0
    while done < radius:
        s = min(max(done, 1), radius - done)
        tmp = out.copy()
        out[:, s:] |= tmp[:, :-s]
        out[:, :-s] |= tmp[:, s:]
        done += s
    return out


def ref_dilate_v(mask: np.ndarray, radius: int) -> np.ndarray:
    """Vertical dilation, 2-D log shift-OR over whole rows."""
    if radius <= 0:
        return mask
    out = mask.copy()
    done = 0
    while done < radius:
        s = min(max(done, 1), radius - done)
        tmp = out.copy()
        out[s:, :] |= tmp[:-s, :]
        out[:-s, :] |= tmp[s:, :]
        done += s
    return out


def ref_segmentation_mask(ink: np.ndarray, h_radius: int, v_radius: int) -> np.ndarray:
    return ref_dilate_v(ref_dilate_h(ink, h_radius), v_radius)


def ref_runs(mask: np.ndarray) -> list[tuple[int, int, int]]:
    """(row, x0, x1) ink runs, one Python scan per row."""
    runs = []
    for r, row in enumerate(mask.tolist()):
        x, w = 0, len(row)
        while x < w:
            if row[x]:
                x0 = x
                while x < w and row[x]:
                    x += 1
                runs.append((r, x0, x))
            else:
                x += 1
    return runs


def ref_components(mask: np.ndarray) -> list[tuple]:
    """Classic two-pass labeling: per-row runs, union-find over runs of
    adjacent rows that touch (8-connectivity), components in order of
    their first run, then stable-sorted bottom-to-top, left-to-right.
    Each component is (runs, x, y, w, h, area)."""
    runs = ref_runs(mask)
    parent = list(range(len(runs)))

    def find(a: int) -> int:
        while parent[a] != a:
            a = parent[a]
        return a

    by_row: dict[int, list[int]] = {}
    for i, (r, x0, x1) in enumerate(runs):
        for j in by_row.get(r - 1, ()):
            if runs[j][2] >= x0 and runs[j][1] <= x1:
                a, b = find(i), find(j)
                parent[max(a, b)] = min(a, b)
        by_row.setdefault(r, []).append(i)
    groups: dict[int, list] = {}
    for i, run in enumerate(runs):
        groups.setdefault(find(i), []).append(run)
    comps = []
    for root in sorted(groups):
        g = groups[root]
        x = min(t[1] for t in g)
        y = min(t[0] for t in g)
        comps.append(
            (
                g,
                x,
                y,
                max(t[2] for t in g) - x,
                max(t[0] for t in g) - y + 1,
                sum(t[2] - t[1] for t in g),
            )
        )
    comps.sort(key=lambda c: (-c[2], c[1]))
    return comps


def ref_top_profile(comp: Component) -> np.ndarray:
    """Smallest ink row per column, independent of the run order."""
    top = np.full(comp.w, -1, dtype=np.int32)
    for row, x0, x1 in comp.runs.tolist():
        seg = top[x0 - comp.x : x1 - comp.x]
        seg[(seg < 0) | (seg > row)] = row
    return top


def ref_median_thickness(comp: Component) -> float:
    """Per-column run count from +1/-1 marks placed with ``np.add.at``."""
    a = comp.runs
    if not a.size:
        return 0.0
    d = np.zeros(comp.w + 1, dtype=np.int64)
    np.add.at(d, a[:, 1] - comp.x, 1)
    np.add.at(d, a[:, 2] - comp.x, -1)
    t = np.cumsum(d[:-1])
    inked = t[t > 0]
    return float(np.median(inked)) if inked.size else 0.0


# ------------------------------------------------------------------ masks

SHAPES = [(1, 1), (1, 17), (17, 1), (2, 3), (5, 40), (40, 5), (33, 47), (64, 64)]


def random_masks():
    rng = np.random.default_rng(20261017)
    for h, w in SHAPES:
        for density in (0.03, 0.2, 0.6):
            yield (rng.random((h, w)) < density).astype(np.uint8)


def border_masks():
    """Ink touching each border, lines along each border, corners,
    empty and full masks, at several sizes including 1-wide/1-tall."""
    out = []
    for h, w in [(1, 1), (1, 9), (9, 1), (2, 2), (7, 11), (12, 30)]:
        out.append(np.zeros((h, w), np.uint8))
        out.append(np.ones((h, w), np.uint8))
        for y, x in [(0, 0), (0, w - 1), (h - 1, 0), (h - 1, w - 1), (h // 2, 0),
                     (h // 2, w - 1), (0, w // 2), (h - 1, w // 2)]:
            m = np.zeros((h, w), np.uint8)
            m[y, x] = 1
            out.append(m)
        for edge in ("top", "bottom", "left", "right"):
            m = np.zeros((h, w), np.uint8)
            {"top": m[0], "bottom": m[-1], "left": m[:, 0], "right": m[:, -1]}[edge][:] = 1
            out.append(m)
        # the last ink pixel of one row next to the first of the next —
        # adjacent in a flattened buffer, not in the image
        m = np.zeros((h, w), np.uint8)
        m[:, 0] = 1
        m[:, -1] = 1
        m[::2, 0] = 0
        out.append(m)
    return out


ALL_MASKS = list(random_masks()) + border_masks()
RADII = [(8, 5), (0, 0), (3, 0), (0, 3), (1, 1), (2, 7), (40, 40), (100, 1), (1, 100)]


# ------------------------------------------------------------------- tests


@pytest.mark.parametrize("h_radius,v_radius", RADII)
def test_segmentation_mask_matches_2d_reference(h_radius, v_radius):
    for m in ALL_MASKS:
        got = line_segmentation_mask(m, h_radius, v_radius)
        want = ref_segmentation_mask(m, h_radius, v_radius)
        assert got.shape == want.shape and got.dtype == np.uint8
        assert np.array_equal(got, want), (m.shape, h_radius, v_radius)


def test_segmentation_mask_border_ink_stays_in_its_row():
    # ink in the last column must not dilate into the next row's first
    # columns (and the first column not into the previous row's last)
    m = np.zeros((3, 12), np.uint8)
    m[1, 11] = 1
    m[1, 0] = 1
    got = line_segmentation_mask(m, 4, 0)
    assert got[0].sum() == 0 and got[2].sum() == 0
    assert got[1].tolist() == [1] * 5 + [0, 0] + [1] * 5


def test_segmentation_mask_leaves_input_alone():
    m = (np.random.default_rng(3).random((20, 30)) < 0.1).astype(np.uint8)
    before = m.copy()
    line_segmentation_mask(m)
    assert np.array_equal(m, before)


def test_all_runs_matches_per_row_scan():
    for m in ALL_MASKS:
        rows, starts, ends = _all_runs(m)
        got = list(zip(rows.tolist(), starts.tolist(), ends.tolist()))
        assert got == ref_runs(m), m.shape


def test_connected_components_matches_two_pass_reference():
    for m in ALL_MASKS:
        got = [
            (c.runs.tolist(), c.x, c.y, c.w, c.h, c.area)
            for c in connected_components(m)
        ]
        want = [([list(t) for t in r], *rest) for r, *rest in ref_components(m)]
        assert got == want, m.shape


def test_component_fields_are_plain_ints():
    m = np.zeros((6, 6), np.uint8)
    m[2:4, 1:5] = 1
    (c,) = connected_components(m)
    assert all(type(v) is int for v in (c.x, c.y, c.w, c.h, c.area))


def _random_components():
    rng = np.random.default_rng(7)
    out = []
    for _ in range(40):
        m = (rng.random((int(rng.integers(1, 30)), int(rng.integers(1, 60)))) < 0.5).astype(np.uint8)
        m = line_segmentation_mask(m, int(rng.integers(0, 4)), int(rng.integers(0, 3)))
        out.extend(connected_components(m))
    return out


def test_top_profile_and_thickness_match_reference_formulas():
    comps = _random_components()
    assert len(comps) > 40
    for c in comps:
        assert np.array_equal(c.top_profile(), ref_top_profile(c))
        assert c.median_thickness() == ref_median_thickness(c)
        # cached: the same object comes back
        assert c.top_profile() is c.top_profile()


def test_derived_stats_cannot_be_corrupted():
    (c,) = connected_components(np.ones((3, 4), np.uint8))
    with pytest.raises(ValueError):
        c.top_profile()[0] = 99
    with pytest.raises(ValueError):
        c.runs[0, 0] = 99
    assert c.top_profile().tolist() == [0, 0, 0, 0]


def test_component_from_tuple_list():
    runs = [(2, 1, 4), (3, 0, 2)]
    c = Component(runs=runs, x=0, y=2, w=4, h=2, area=5)
    assert c.runs.dtype == np.int64 and c.runs.shape == (2, 3)
    assert not c.runs.flags.writeable
    assert c.top_profile().tolist() == [3, 2, 2, 2]
    assert c.median_thickness() == 1.0
    empty = Component(runs=[], x=0, y=0, w=3, h=0, area=0)
    assert empty.runs.shape == (0, 3)
    assert empty.top_profile().tolist() == [-1, -1, -1]
    assert empty.median_thickness() == 0.0


# ------------------------------------------- per-component loop references


def ref_line_slice_stats(comp, slice_width=8, base_shift=None):
    from ocr_inference_spark.kernels.dewarp import SLICE_FRACTIONS

    centers = np.full(len(SLICE_FRACTIONS), np.nan)
    heights = np.full(len(SLICE_FRACTIONS), np.nan)
    rows, x0s, x1s = comp.runs[:, 0], comp.runs[:, 1], comp.runs[:, 2]
    for i, frac in enumerate(SLICE_FRACTIONS):
        x_start = comp.x + int(frac * max(comp.w - slice_width, 0))
        sel = (x0s < x_start + slice_width) & (x1s > x_start)
        if sel.any():
            lo, hi = int(rows[sel].min()), int(rows[sel].max())
            s = 0.0
            if base_shift is not None:
                s = float(base_shift[min(x_start + slice_width // 2, len(base_shift) - 1)])
            centers[i] = (lo + hi) / 2.0 - s
            heights[i] = hi - lo + 1
    return centers, heights


def ref_distortion_ratio(comps, base_shift=None):
    """The gate as a loop over lines: each line flagged on its own."""
    if not comps:
        return 0.0, []
    flags, dys = [], []
    for c in comps:
        centers, heights = ref_line_slice_stats(c, base_shift=base_shift)
        valid = centers[~np.isnan(centers)]
        dy = float(valid.max() - valid.min()) if valid.size >= 2 else 0.0
        flags.append(valid.size >= 2 and dy > float(np.nanmean(heights)))
        dys.append(dy)
    return float(np.mean(flags)), dys


def ref_line_threshold(comps, slice_width=20):
    if not comps:
        return 0.0
    xmin = min(c.x for c in comps)
    x_steps = ((max(c.x + c.w for c in comps) - xmin) // slice_width) // 2
    best = (0, [])
    for step in range(1, x_steps + 1):
        x_start = xmin + x_steps * step
        y_centers = []
        for c in comps:
            sel = (c.runs[:, 1] < x_start + slice_width) & (c.runs[:, 2] > x_start)
            if sel.any():
                ys = c.runs[sel, 0]
                y_centers.append((int(ys.min()) + int(ys.max())) / 2.0)
        if len(y_centers) > best[0]:
            best = (len(y_centers), y_centers)
    n, y_points = best
    return float(np.median(y_points) // n) if n else 0.0


def ref_component_angle(comp):
    import math

    top = comp.top_profile().astype(np.float64)
    xs = np.arange(comp.w, dtype=np.float64)
    valid = top >= 0
    if valid.sum() < 2:
        return 0.0
    return math.degrees(math.atan(np.polyfit(xs[valid], top[valid], 1)[0]))


def _page_components():
    """Line-mask components of rendered skewed and warped pages."""
    from ocr_inference_spark.kernels.binarize import binarize
    from ocr_inference_spark.render import render_page

    out = []
    for kw in ({}, {"skew_deg": 2.5}, {"skew_deg": -1.2, "warp_amp": 40}, {"warp_amp": 44}):
        ink = binarize(render_page(["hello world", "the quick brown fox", "a b c 42"], **kw))
        out.append((ink, connected_components(line_segmentation_mask(ink))))
    return out


def test_slice_stats_threshold_and_angle_match_loop_references():
    from ocr_inference_spark.kernels.deskew import component_angle, shear_shift
    from ocr_inference_spark.kernels.dewarp import distortion_ratio, slice_stats
    from ocr_inference_spark.kernels.reading_order import get_line_threshold

    def assert_rows_match(comps, base=None):
        got = slice_stats(comps, base_shift=base)
        for i, c in enumerate(comps):
            want = ref_line_slice_stats(c, base_shift=base)
            assert np.array_equal(got[0][i], want[0], equal_nan=True)
            assert np.array_equal(got[1][i], want[1], equal_nan=True)

    comps_all = _random_components()
    pages = _page_components()
    for ink, comps in pages:
        shift = shear_shift(ink.shape[1], 1.7)
        for base in (None, shift):
            assert_rows_match(comps, base)
            assert distortion_ratio(comps, base) == ref_distortion_ratio(comps, base)
        assert get_line_threshold(comps, ink.shape) == ref_line_threshold(comps)
    for c in comps_all + [c for _, comps in pages for c in comps]:
        assert component_angle(c) == ref_component_angle(c)
        assert_rows_match([c])
    # a component without runs never counts and is never distorted
    empty = Component(runs=[], x=3, y=0, w=9, h=0, area=0)
    for i in range(0, len(comps_all), 5):
        group = comps_all[i : i + 5] + [empty]
        assert_rows_match(group)
        assert distortion_ratio(group) == ref_distortion_ratio(group)
        assert get_line_threshold(group, (0, 0), 4) == ref_line_threshold(group, 4)


def test_binarize_matches_repeat_upsampling():
    from ocr_inference_spark.kernels.binarize import binarize
    from ocr_inference_spark.kernels.boxops import box_sum_from_integral, integral

    def ref_binarize(gray, block=51, c=13, d=4):
        r = max(block // (2 * d), 1)
        b = 2 * r + 1
        total = box_sum_from_integral(integral(gray[::d, ::d], r), b, b)
        thr = np.clip((total - c * b * b - 1) // (b * b), -1, 255).astype(np.int16)
        up = np.repeat(np.repeat(thr, d, axis=0), d, axis=1)[: gray.shape[0], : gray.shape[1]]
        return (gray <= up).astype(np.uint8)

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (4, 4), (37, 61), (130, 96), (202, 433)]:
        gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
        gray[rng.random((h, w)) < 0.3] = 20
        for d in (1, 3, 4):
            got = binarize(gray, decimate=d)
            assert got.dtype == np.uint8 and got.flags.c_contiguous
            assert np.array_equal(got, ref_binarize(gray, d=d)), (h, w, d)
        # a strided (non-contiguous) page view
        assert np.array_equal(binarize(gray[:, ::2]), ref_binarize(gray[:, ::2]))


def test_decode_ids_matches_per_id_lookup():
    from ocr_inference_spark.glyphs import CHARSET, decode_ids

    def ref(ids):
        return "".join(CHARSET[i - 1] for i in ids if 1 <= i <= len(CHARSET))

    rng = np.random.default_rng(5)
    cases = [(), [0], [len(CHARSET) + 1, -1], np.array([], dtype=np.int32)]
    cases += [rng.integers(-2, len(CHARSET) + 3, n).astype(np.int32) for n in (1, 7, 50)]
    cases += [tuple(rng.integers(0, len(CHARSET) + 1, 9).tolist())]
    for ids in cases:
        assert decode_ids(ids) == ref(ids)
