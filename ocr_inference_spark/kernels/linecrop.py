"""Line-image extraction.

Mirrors the reference's extract/crop stage (BDRC/line_detection.py:267-359):
mask the page with the line's region, crop away all-zero rows/columns
(``mask_n_crop``, :79-104), with the adaptive k-factor retry loop of
``get_line_image`` (:291-327) carrying its adapted value to the next
line (:343-358 — the W4 stateful recurrence that pins parallelism at
document granularity).
"""

from __future__ import annotations

import numpy as np

from .components import Component

DEFAULT_K_FACTOR = 1.2  # vertical slack multiplier around the line bbox
K_STEP = 0.1  # reference: BDRC/line_detection.py:291-327 shrinks k by 0.1
MAX_RETRIES = 10
HEIGHT_TOLERANCE = 2.5  # accepted crop height <= bbox_h * tolerance


def mask_n_crop(img: np.ndarray) -> np.ndarray:
    """Tight-crop to the ink bounding box.

    The reference's ``mask_n_crop`` (BDRC/line_detection.py:79-104)
    np.deletes *every* all-zero row/column, including interior ones —
    harmless on natural ink but destructive to intra-band structure; we
    implement the intended semantics (trim empty borders) instead
    (SURVEY.md §7 "reference bugs to not copy").
    """
    if img.size == 0:
        return img
    rows = np.flatnonzero(img.any(axis=1))
    cols = np.flatnonzero(img.any(axis=0))
    if rows.size == 0:
        return img[:0, :0]
    return img[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]


def extract_line(
    ink: np.ndarray, comp: Component, k_factor: float
) -> np.ndarray:
    """Crop the component's band from the ink bitmap with vertical slack
    ``k_factor * bbox_h`` (the dilation-kernel analogue of extract_line,
    BDRC/line_detection.py:267-288), masked to the component's own
    region — the bitwise_and(image, line_mask) step of the reference's
    mask_n_crop (BDRC/line_detection.py:79-104), which keeps a
    neighbouring line's ink out of the crop when warped bbox ranges
    overlap — then tight-crop."""
    h, w = ink.shape
    slack = int(round(comp.h * max(k_factor - 1.0, 0.0) / 2.0))
    y0 = max(comp.y - slack, 0)
    y1 = min(comp.y + comp.h + slack, h)
    x0 = max(comp.x, 0)
    x1 = min(comp.x + comp.w, w)
    window = ink[y0:y1, x0:x1]
    region = np.zeros_like(window)
    for row, rx0, rx1 in comp.runs.tolist():
        ry = row - y0
        if 0 <= ry < region.shape[0]:
            region[ry, max(rx0 - x0, 0) : max(rx1 - x0, 0)] = 1
    return mask_n_crop(window * region)


def get_line_image(
    ink: np.ndarray, comp: Component, k_factor: float = DEFAULT_K_FACTOR
) -> tuple[np.ndarray, float]:
    """Extract with retry: shrink k by K_STEP (max MAX_RETRIES) until the
    crop height is within tolerance; returns (line_img, adapted_k).
    Falls back to a deterministic empty image on failure (reference
    returns a black fallback image, BDRC/line_detection.py:291-327)."""
    k = k_factor
    for _ in range(MAX_RETRIES):
        crop = extract_line(ink, comp, k)
        if crop.size and crop.shape[0] <= comp.h * HEIGHT_TOLERANCE:
            return crop, k
        k = max(k - K_STEP, 1.0)
        if k == 1.0:
            break
    crop = extract_line(ink, comp, 1.0)
    if crop.size:
        return crop, 1.0
    return np.zeros((1, 1), dtype=ink.dtype), 1.0


def local_rectify(line_img: np.ndarray) -> np.ndarray:
    """Per-line rectification (the reference's TPSMode.LOCAL,
    get_line_images_via_local_tps, BDRC/image_dewarping.py:292-342):
    flatten the line's own baseline by shifting each column up to align
    its first ink row, then tight-crop."""
    if line_img.size == 0 or not line_img.any():
        return line_img
    any_ink = line_img.any(axis=0)
    first = line_img.argmax(axis=0)
    base = int(first[any_ink].min())
    shift = np.where(any_ink, first - base, 0).astype(np.int64)
    h, w = line_img.shape
    ys = np.arange(h, dtype=np.int64)[:, None] + shift[None, :]
    inside = ys < h
    np.clip(ys, 0, h - 1, out=ys)
    out = line_img[ys, np.arange(w)[None, :]]
    out *= inside
    return mask_n_crop(out)


def extract_line_images(
    ink: np.ndarray,
    comps: list[Component],
    k_factor: float = DEFAULT_K_FACTOR,
    local_tps: bool = False,
) -> list[np.ndarray]:
    """Sequential extraction carrying the adapted k to the next line
    (reference: extract_line_images, BDRC/line_detection.py:330-359).
    ``local_tps`` applies per-line rectification instead of relying on a
    prior global dewarp (reference: TPSMode.LOCAL, data.py:74-78)."""
    out: list[np.ndarray] = []
    k = k_factor
    for comp in comps:
        img, k = get_line_image(ink, comp, k)
        if local_tps:
            img = local_rectify(img)
        out.append(img)
    return out
