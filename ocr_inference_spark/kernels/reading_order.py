"""Reading-order sort: faithful re-expression of the reference's
threshold-based line ordering (BDRC/line_detection.py:360-634).

Semantics replicated exactly (not "improved" — fixture equality depends
on them, see SURVEY.md §7 "hard parts"):

- ``get_line_threshold`` (:360-421): slice the mask bbox into
  slice_width-wide vertical slices, take the slice containing the most
  components, threshold = median(component y-centers) // count.
- ``sort_bbox_centers`` (:424-486): greedy grouping in discovery order —
  a center joins the current row while |running_mean_y - y| <= threshold,
  otherwise the row is flushed; each row is sorted by x; the final list
  of rows is REVERSED (discovery order is bottom-to-top, so reversal
  yields top-to-bottom reading order).
- ``group_line_chunks`` (:489-548): centers grouped into the same row
  merge into one line (union bbox here; the reference stacks contours
  and takes the convex hull — equivalent for bbox/center purposes).
"""

from __future__ import annotations

import numpy as np

from .components import Component, slice_ink_rows


def get_line_threshold(comps: list[Component], mask_shape, slice_width: int = 20) -> float:
    """Median y-center in the densest vertical slice ÷ component count."""
    if not comps:
        return 0.0
    xmin = min(c.x for c in comps)
    xmax = max(c.x + c.w for c in comps)
    w = xmax - xmin
    x_steps = (w // slice_width) // 2
    if x_steps == 0:
        return 0.0
    # every slice against one run table for the page. Every run row
    # lies inside the union bbox's [ymin, ymax] by construction, so the
    # original row-range test is implied; a component without runs
    # never counts.
    x_start = xmin + x_steps * np.arange(1, x_steps + 1)
    lo, hi = slice_ink_rows(comps, x_start, slice_width)
    hit = hi >= 0
    counts = hit.sum(axis=0)
    best = int(np.argmax(counts))  # the first densest slice
    n = int(counts[best])
    if n == 0:
        return 0.0
    inked = hit[:, best]
    y_points = (lo[inked, best] + hi[inked, best]) / 2.0
    return float(np.median(y_points) // n)


def sort_bbox_centers(
    bbox_centers: list[tuple[int, int]], line_threshold: float = 20.0
) -> list[list[tuple[int, int]]]:
    """Greedy running-mean-y grouping, x-sort per row, reversed rows."""
    if not bbox_centers:
        return []
    rows: list[list[tuple[int, int]]] = []
    tmp: list[tuple[int, int]] = []
    for center in bbox_centers:
        if not tmp:
            tmp.append(center)
            continue
        mean_y = float(np.mean([c[1] for c in tmp]))
        if abs(mean_y - center[1]) > line_threshold:
            tmp.sort(key=lambda c: c[0])
            rows.append(tmp.copy())
            tmp = [center]
        else:
            tmp.append(center)
    if tmp:
        rows.append(tmp)
    for row in rows:
        row.sort(key=lambda c: c[0])
    return list(reversed(rows))


def merge_row(comps: list[Component]) -> Component:
    """Merge same-row components into one (union of runs/bbox)."""
    if len(comps) == 1:
        return comps[0]
    xmin = min(c.x for c in comps)
    ymin = min(c.y for c in comps)
    xmax = max(c.x + c.w for c in comps)
    ymax = max(c.y + c.h for c in comps)
    return Component(
        runs=np.concatenate([c.runs for c in comps]),
        x=xmin,
        y=ymin,
        w=xmax - xmin,
        h=ymax - ymin,
        area=sum(c.area for c in comps),
    )


def sort_lines_by_threshold(
    comps: list[Component],
    mask_shape,
    threshold: float | None = None,
    group_lines: bool = True,
) -> tuple[list[Component], float]:
    """Order components into reading order; returns (lines, threshold).

    ``comps`` must be in discovery order (bottom-to-top — what
    ``connected_components`` emits), matching the reference's reliance
    on findContours enumeration order.
    """
    if threshold is None:
        threshold = get_line_threshold(comps, mask_shape)
        if threshold <= 0:
            threshold = 20.0
    # carry the component index through the sort as a third tuple slot
    # (sort_bbox_centers only reads [0]/[1]): two components with an
    # identical bbox center stay distinct — a center->component dict
    # would emit one twice and silently drop the other's ink
    triples = [(c.center[0], c.center[1], i) for i, c in enumerate(comps)]
    rows = sort_bbox_centers(triples, threshold)
    ordered: list[Component] = []
    for row in rows:
        row_comps = [comps[t[2]] for t in row]
        if group_lines:
            ordered.append(merge_row(row_comps))
        else:
            ordered.extend(row_comps)
    return ordered, float(threshold)
