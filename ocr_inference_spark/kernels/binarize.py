"""Binarization kernels.

Re-expresses the reference's ``binarize`` (adaptive Gaussian threshold,
block 51, C 13, or global 120 — reference: BDRC/utils.py:796-815) with a
pure-NumPy adaptive *mean* threshold built on an integral image (an
O(HW) box filter — public-standard technique), since the container has
no OpenCV. Ink is dark-on-light; output is {0,1} uint8 with 1 = ink.
"""

from __future__ import annotations

import numpy as np

from .boxops import box_sum_from_integral, integral


def to_gray(img: np.ndarray) -> np.ndarray:
    """(H,W,3) RGB uint8 -> (H,W) uint8 luma; grayscale passes through."""
    if img.ndim == 2:
        return img
    # ITU-R BT.601 luma, integer arithmetic for determinism
    r = img[..., 0].astype(np.uint32)
    g = img[..., 1].astype(np.uint32)
    b = img[..., 2].astype(np.uint32)
    return ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)


def binarize(
    gray: np.ndarray,
    adaptive: bool = True,
    block: int = 51,
    c: int = 13,
    decimate: int = 4,
) -> np.ndarray:
    """Dark-ink binarization -> uint8 {0,1}, 1 = ink.

    adaptive=True: pixel is ink iff value < local_mean - c (the
    adaptive-threshold semantics of the reference, block/C defaults
    matching BDRC/utils.py:802-808), evaluated in pure integer
    arithmetic — no float array materializes. The local mean is a
    block-mean surface: it varies on the scale of ``block`` pixels, so
    it is computed on a ``decimate``-strided grid (16x cheaper integral)
    and nearest-upsampled; with typical ink/paper contrast (>100 grey
    levels vs C=13) the decimation is decision-equivalent.
    adaptive=False: global threshold 120 (BDRC/utils.py:810-813).
    """
    if gray.ndim != 2:
        gray = to_gray(gray)
    if not adaptive:
        return (gray < 120).astype(np.uint8)
    h, w = gray.shape
    d = max(decimate, 1)
    small = gray[::d, ::d]
    r = max(block // (2 * d), 1)
    b = 2 * r + 1
    total = box_sum_from_integral(integral(small, r), b, b)  # (ceil(h/d), ceil(w/d))
    # gray*b² < total - c*b²  ⟺  gray <= floor((total - c*b² - 1) / b²):
    # folding the threshold onto the SMALL grid keeps the full-resolution
    # work to one uint8-vs-int16 compare (no int32 page-sized multiply)
    thr = np.clip((total - c * b * b - 1) // (b * b), -1, 255).astype(np.int16)
    # nearest upsampling: repeat the small grid along columns only (a
    # quarter-page int16 row set), then compare each band of d page rows
    # against its threshold row by broadcasting, so no page-sized
    # threshold array exists and the inner loop runs along whole rows
    tw = np.repeat(thr, d, axis=1)[:, :w]
    ink = np.empty((h, w), dtype=bool)
    hm = h - h % d
    np.less_equal(
        gray[:hm].reshape(hm // d, d, w), tw[: hm // d, None, :],
        out=ink[:hm].reshape(hm // d, d, w),
    )
    if hm < h:  # the last, partial band
        np.less_equal(gray[hm:], tw[-1], out=ink[hm:])
    return ink.view(np.uint8)
