"""Connected-component analysis on binary masks.

The reference uses ``cv2.findContours(RETR_LIST, CHAIN_APPROX_SIMPLE)``
(reference: BDRC/line_detection.py:33-44). Without OpenCV we use the
classic run-length two-pass labeling with union-find: extract horizontal
ink runs per row (vectorized), union runs that touch between adjacent
rows (8-connectivity). Components carry their runs, so bbox / area /
center / per-column top-edge profiles all derive without re-scanning
pixels.

Component discovery order is normalized to bottom-to-top (descending
bbox y) to mirror OpenCV's contour enumeration order, which the
reference's reading-order sort implicitly depends on
(BDRC/line_detection.py:424-486 groups in discovery order and reverses
at the end).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass(eq=False)
class Component:
    """One connected component.

    ``runs`` is an int64 (m, 3) array of ink runs ``[row, x0, x1)``
    (``x1`` exclusive), row-major for components that
    ``connected_components`` emits. Lists of (row, x0, x1) tuples are
    converted on construction.

    Invariant: the runs are immutable once constructed (the array is
    read-only), so stats derived from them stay valid for the life of
    the component; the top-edge profile, which deskew and dewarp both
    read, is computed once and cached. Equality is identity: two
    components with the same runs are still two components.
    """

    runs: np.ndarray
    x: int
    y: int
    w: int
    h: int
    area: int
    _top: np.ndarray | None = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        runs = np.asarray(self.runs, dtype=np.int64).reshape(-1, 3)
        if runs.flags.writeable:
            runs = runs.view()
            runs.flags.writeable = False
        self.runs = runs

    @property
    def bbox(self) -> tuple[int, int, int, int]:
        return (self.x, self.y, self.w, self.h)

    @property
    def center(self) -> tuple[int, int]:
        # bbox-center with floor division, matching build_line_data
        # (reference: BDRC/line_detection.py:188-209)
        return (self.x + self.w // 2, self.y + self.h // 2)

    def top_profile(self) -> np.ndarray:
        """For each column in [x, x+w): smallest row holding ink (int32);
        columns with no ink hold -1. Cached and read-only."""
        if self._top is None:
            # runs are row-major (rows ascending): writing rows DESCENDING
            # leaves the smallest row in each column — plain slice stores,
            # no per-run np.minimum temporaries
            top = np.full(self.w, -1, dtype=np.int32)
            x = self.x
            for row, x0, x1 in reversed(self.runs.tolist()):
                top[x0 - x : x1 - x] = row
            top.flags.writeable = False
            self._top = top
        return self._top

    def median_thickness(self) -> float:
        """Median per-column ink row count over columns holding ink — a
        warp-INVARIANT height measure: a thin rule bent by page curl has
        an inflated bbox height but its columns stay ~rule-thin, while a
        text line's columns stay ~band-tall."""
        a = self.runs
        if not a.size:
            return 0.0
        # +1/-1 boundary marks, cumsum -> per-column run count
        n = self.w + 1
        d = np.bincount(a[:, 1] - self.x, minlength=n) - np.bincount(
            a[:, 2] - self.x, minlength=n
        )
        t = np.cumsum(d[:-1])
        inked = t[t > 0]
        return float(np.median(inked)) if inked.size else 0.0


def _all_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All ink runs of a {0,1} mask in one vectorized pass.

    Returns (rows, starts, ends) sorted by (row, start); ends exclusive.
    The mask is copied into a uint8 buffer with one zero column on each
    side, so in the flattened buffer every run is bounded by a 0->1 and
    a 1->0 transition inside its own row. One ``f[1:] != f[:-1]`` and one
    nonzero scan find them all; transitions alternate start, end.
    """
    h, w = mask.shape
    W = w + 2
    padded = np.zeros((h, W), dtype=np.uint8)
    padded[:, 1:-1] = mask
    f = padded.reshape(-1)
    # a transition between flat k and k+1 sits at k: a run over mask
    # columns [x0, x1) of row r starts at r*W + x0 and ends at r*W + x1
    nz = np.flatnonzero(f[1:] != f[:-1])
    rows, starts = np.divmod(nz[0::2], W)
    return rows, starts, nz[1::2] - rows * W


def connected_components(mask: np.ndarray) -> list[Component]:
    """Label a {0,1} mask; returns components sorted bottom-to-top.

    Fully vectorized run-based labeling: runs from one flattened
    transition/nonzero pass; the run adjacency graph from two batched
    ``searchsorted`` calls over composite (row, x) keys (within a row
    both starts and exclusive ends are strictly increasing, so the
    prev-row runs touching a given run — 8-connectivity, diagonal touch
    included — form a contiguous index window); components from
    root hooking with pointer jumping, each component labelled by its
    smallest run index; per-component bbox/area by segment reductions
    over one run table grouped by component. The partition, the order
    and the runs are identical to the classic two-pass union-find.
    """
    h, w = mask.shape
    rr, rs, re = _all_runs(mask)
    n = rr.size
    if n == 0:
        return []
    W = w + 2
    start_key = rr * W + rs
    end_key = rr * W + re
    # run i (row y, [x0,x1)) touches prev-row run j iff re[j] >= x0 and
    # rs[j] <= x1  ==  end_key[j] >= start_key[i]-W  and
    # start_key[j] <= end_key[i]-W  (keys of other rows fall outside)
    jlo = np.searchsorted(end_key, start_key - W, side="left")
    jhi = np.searchsorted(start_key, end_key - W, side="right")
    cnt = np.maximum(jhi - jlo, 0)
    total = int(cnt.sum())
    label = np.arange(n)
    if total:
        ii = np.repeat(np.arange(n), cnt)
        jj = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt) + np.repeat(jlo, cnt)
        # label[i] <= i always points into i's own component, so a
        # component's smallest run index is its only fixpoint: hook the
        # roots of every split edge onto the smaller root, jump pointers
        # to the roots, repeat until no edge joins two trees
        while True:
            li = label[ii]
            lj = label[jj]
            split = li != lj
            if not split.any():
                break
            li = li[split]
            lj = lj[split]
            np.minimum.at(label, li, lj)
            np.minimum.at(label, lj, li)
            while True:
                nxt = label[label]
                if np.array_equal(nxt, label):
                    break
                label = nxt

    roots = np.flatnonzero(label == np.arange(n))  # ascending, as np.unique
    k = roots.size
    cid = np.empty(n, dtype=np.int64)
    cid[roots] = np.arange(k)
    inv = cid[label]
    # stable group-by keeps each component's runs row-major, matching the
    # insertion order of the two-pass labeling
    order = np.argsort(inv, kind="stable")
    table = np.stack((rr, rs, re), axis=1)[order]
    table.flags.writeable = False
    bounds = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(np.bincount(inv, minlength=k), out=bounds[1:])
    first = bounds[:-1]
    ymin = table[first, 0]
    ymax = table[bounds[1:] - 1, 0]
    xmin = np.minimum.reduceat(table[:, 1], first)
    xmax = np.maximum.reduceat(table[:, 2], first)
    area = np.add.reduceat(table[:, 2] - table[:, 1], first)
    # bottom-to-top, then left-to-right — OpenCV-like discovery order
    # (lexsort is stable: ties keep the smallest-run-index order)
    disc = np.lexsort((xmin, -ymin)).tolist()
    b = bounds.tolist()
    xs, ys, ws, hs, areas = (
        xmin.tolist(), ymin.tolist(), (xmax - xmin).tolist(),
        (ymax - ymin + 1).tolist(), area.tolist(),
    )
    return [
        Component(
            runs=table[b[ci] : b[ci + 1]],
            x=xs[ci], y=ys[ci], w=ws[ci], h=hs[ci], area=areas[ci],
        )
        for ci in disc
    ]


def slice_ink_rows(
    comps: list[Component], x_starts: np.ndarray, slice_width: int
) -> tuple[np.ndarray, np.ndarray]:
    """Each component's top and bottom ink rows inside x-slices
    ``[x_start, x_start + slice_width)``: int64 ``(lo, hi)``, each
    (len(comps), n). ``x_starts`` is (n,), the same slices for every
    component, or (len(comps), n), a row of slices per component. A
    slice holding none of a component's ink has lo = int64 max and
    hi = -1.

    One (runs, n) overlap test over the page's concatenated run table,
    then per-component row extremes by segment reductions — the
    slice sampling of the dewarp gate and of the reading-order
    threshold (reference: check_line_tps, BDRC/image_dewarping.py:
    118-193; get_line_threshold, BDRC/line_detection.py:360-421)."""
    x_starts = np.asarray(x_starts, dtype=np.int64)
    big = np.iinfo(np.int64).max
    lo = np.full((len(comps), x_starts.shape[-1]), big, dtype=np.int64)
    hi = np.full(lo.shape, -1, dtype=np.int64)
    lens = np.array([len(c.runs) for c in comps], dtype=np.int64)
    inked = np.flatnonzero(lens)  # reduceat needs non-empty segments
    if not inked.size or not lo.shape[1]:
        return lo, hi
    a = np.concatenate([comps[i].runs for i in inked.tolist()])
    first = np.concatenate(([0], np.cumsum(lens[inked])[:-1]))
    if x_starts.ndim == 2:
        x_starts = np.repeat(x_starts[inked], lens[inked], axis=0)
    sel = (a[:, 1, None] < x_starts + slice_width) & (a[:, 2, None] > x_starts)
    rows = a[:, 0, None]
    lo[inked] = np.minimum.reduceat(np.where(sel, rows, big), first)
    hi[inked] = np.maximum.reduceat(np.where(sel, rows, -1), first)
    return lo, hi


def filter_area(comps: list[Component], min_area: float) -> list[Component]:
    """Area filter (reference: BDRC/line_detection.py:124-125,233)."""
    return [c for c in comps if c.area > min_area]


def get_text_area(
    comps: list[Component], grow_x: int = 5, grow_y: int = 55
) -> tuple[int, int, int, int] | None:
    """Main-content (text-area) bbox — I36 analogue of ``get_text_area``
    (reference: BDRC/utils.py:576-608): the reference dilates the line
    mask with a 12x2 kernel x10 iterations (~±55 px vertical, ~±5 px
    horizontal reach) and takes the biggest resulting contour's bounding
    rect. Equivalent on run-based components: inflate each bbox by
    (grow_x, grow_y), union-find transitively overlapping boxes into
    clusters (what the dilation merges), pick the cluster with the
    biggest merged-bbox area, return its UN-inflated bbox as
    (xmin, ymin, xmax, ymax) inclusive. None when there are no
    components (reference returns None on no contours)."""
    if not comps:
        return None
    n = len(comps)
    parent = list(range(n))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    boxes = [
        (c.x - grow_x, c.y - grow_y, c.x + c.w + grow_x, c.y + c.h + grow_y)
        for c in comps
    ]
    # x-sorted sweep: only pairs whose x-intervals overlap are compared
    # (near-linear on real pages vs the naive O(n²) — this runs up to 3x
    # per page inside the hot OCR kernel, and a noisy scan can carry
    # thousands of small components)
    order = sorted(range(n), key=lambda i: boxes[i][0])
    for oi, i in enumerate(order):
        ax0, ay0, ax1, ay1 = boxes[i]
        for j in order[oi + 1 :]:
            bx0, by0, bx1, by1 = boxes[j]
            if bx0 >= ax1:
                break  # sorted by x0: no later box can overlap i in x
            if ay0 < by1 and by0 < ay1:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)

    clusters: dict[int, list[Component]] = {}
    for i, c in enumerate(comps):
        clusters.setdefault(find(i), []).append(c)

    def bbox_of(cs: list[Component]) -> tuple[int, int, int, int]:
        return (
            min(c.x for c in cs),
            min(c.y for c in cs),
            max(c.x + c.w for c in cs),
            max(c.y + c.h for c in cs),
        )

    # each cluster's bbox once; max() keeps the first of equal areas
    x0, y0, x1, y1 = max(
        (bbox_of(cs) for cs in clusters.values()),
        key=lambda b: (b[2] - b[0]) * (b[3] - b[1]),
    )
    return (x0, y0, x1 - 1, y1 - 1)


def filter_in_text_area(
    comps: list[Component], rect: tuple[int, int, int, int] | None
) -> list[Component]:
    """F3 spatial predicate — keep components whose bbox CENTER lies
    inside the text-area rect, bounds inclusive (reference:
    filter_contours + is_inside_rectangle, BDRC/utils.py:661-681). This
    is the reference's actual boilerplate-strip mechanism: line-shaped
    furniture outside the main block (captions, marginal rules) passes
    the size filter but fails this one."""
    if rect is None:
        return comps
    xmin, ymin, xmax, ymax = rect
    return [
        c
        for c in comps
        if xmin <= c.center[0] <= xmax and ymin <= c.center[1] <= ymax
    ]


def filter_line_contours(
    comps: list[Component],
    image_width: int,
    min_h: int = 10,
    deflate_w: int = 0,
    deflate_h: int = 0,
) -> list[Component]:
    """Keep components with w > 1% image width and line-height > min_h
    (reference: filter_line_contours, BDRC/line_detection.py:247-264).

    The height test uses the median per-column ink thickness rather than
    the bbox height: the reference measures bbox h on geometry that is
    already deskewed/dewarped (flat bboxes), whereas this filter also
    runs on pre-rectification geometry where page curl inflates a thin
    furniture rule's bbox far past min_h — column thickness is the
    warp-invariant restatement of the same criterion.

    ``deflate_w``/``deflate_h`` subtract the segmentation model's
    dilation margins so the size test applies to the underlying *ink*
    extent — this is what strips non-content page furniture (margin
    rules, header rules, page-number blobs: the reference's non-line
    layout classes, Config.py:37-48) whose mask components would
    otherwise be inflated past the thresholds by the closing operation.
    """
    return [
        c
        for c in comps
        if (c.w - 2 * deflate_w) > image_width * 0.01
        and (c.median_thickness() - 2 * deflate_h) > min_h
    ]
