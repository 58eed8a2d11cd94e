"""GIF (87a/89a) codec: decode, encode, and animated-frame iteration.

The reference ingests whatever container the user points it at through
``cv2.imread`` (reference: cli.py:114) — a surface this repo re-creates
codec-by-codec (imgcodec/jpegcodec/faxcodec/bmpcodec). GIF sits just
outside imread's list, but it is a first-class WEB media container: an
interleaved text+media corpus crawled at 10^12-document scale carries
GIFs as both still images and short animations, so the extraction
pipeline needs a real decode for the still path (page OCR) and a frame
sampler for the animated path (the same role the MJPEG-AVI sampler in
``multimodal.py`` plays for video).

Everything here is public file-format knowledge (GIF89a specification,
CompuServe 1989/1990):

- Header ``GIF87a``/``GIF89a``; logical screen descriptor (width,
  height, global-color-table flag/size, background index); optional
  global color table of ``3 * 2^(n+1)`` bytes.
- Blocks: extensions (``0x21`` + label + data sub-blocks — graphic
  control ``0xF9`` carries disposal method, transparency index and
  frame delay; application ``0xFF`` carries NETSCAPE looping; comment
  ``0xFE`` / plain-text ``0x01`` are skipped), image descriptors
  (``0x2C``: frame rect, optional local color table, interlace flag,
  LZW-compressed index raster), trailer ``0x3B``.
- LZW: variable-width codes 3..12 bits packed LSB-first, clear/EOI
  codes, width growth when the next free slot reaches ``1 << width``
  (no early change), dictionary capped at 4096 with deferred-clear
  streams legal. The coder is the one in :mod:`.bitcodes` that TIFF
  shares; decode stops at the frame's ``fw * fh`` pixels.
- Interlace: four row passes starting at 0/4/2/1 with steps 8/8/4/2.
- Animation compositing: each frame paints its rect over the canvas
  (transparent index skipped); disposal 2 restores the rect to the
  background, disposal 3 restores the prior canvas.

Decoded output follows this repo's container conventions
(imgcodec.png_decode, bmpcodec.bmp_decode): a frame whose palette is
pure gray decodes to ``(H, W) uint8``, anything else to ``(H, W, 3)``
RGB. ``gif_decode`` returns the FIRST composited frame (what a
single-image reader shows); ``iter_gif_frames`` yields every composited
frame for the sampler. Encoders cover the gray page slot (256-entry
gray palette — bit-exact round-trip, used by the driver-gate codec
rotation in layout.py) and palette-RGB stills/animations for tests.
Decode is cross-validated against Java ImageIO's GIF reader/writer
(tests/data/java_gif_*)."""

from __future__ import annotations

import struct

import numpy as np

from .bitcodes import lzw_decode, lzw_encode
from .imgcodec import check_pixel_budget

# ---------------------------------------------------------------------------
# Container parsing
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Stored row i of an interlaced frame is image row ``order[i]``."""
    return np.concatenate([np.arange(start, h, step) for start, step in _INTERLACE_PASSES])


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    parts = []
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("truncated GIF sub-block chain")
        size = data[pos]
        pos += 1
        if size == 0:
            return b"".join(parts), pos
        if pos + size > n:
            raise ValueError("truncated GIF sub-block")
        parts.append(data[pos : pos + size])
        pos += size


class _Frame:
    __slots__ = ("left", "top", "indices", "palette", "transparent", "disposal", "delay_cs")

    def __init__(self, left, top, indices, palette, transparent, disposal, delay_cs):
        self.left = left
        self.top = top
        self.indices = indices  # (fh, fw) uint8 into palette
        self.palette = palette  # (256, 3) uint8
        self.transparent = transparent  # index or -1
        self.disposal = disposal
        self.delay_cs = delay_cs


def _parse(data: bytes):
    """-> (width, height, background RGB, list[_Frame])."""
    if len(data) < 13 or data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF stream")
    w, h, packed, bg_idx, _aspect = struct.unpack("<HHBBB", data[6:13])
    if w == 0 or h == 0:
        raise ValueError("zero-sized GIF logical screen")
    check_pixel_budget(w, h)
    pos = 13
    gct = None
    if packed & 0x80:
        size = 3 * (2 << (packed & 0x07))
        if pos + size > len(data):
            raise ValueError("truncated GIF global color table")
        gct = _expand_palette(data[pos : pos + size])
        pos += size
    background = gct[bg_idx] if gct is not None else np.zeros(3, np.uint8)

    frames: list[_Frame] = []
    transparent = -1
    disposal = 0
    delay_cs = 0
    n = len(data)
    while pos < n:
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= n:
                raise ValueError("truncated GIF extension")
            label = data[pos]
            pos += 1
            if label == 0xF9:
                body, pos = _read_subblocks(data, pos)
                if len(body) >= 4:
                    flags = body[0]
                    delay_cs = struct.unpack("<H", body[1:3])[0]
                    transparent = body[3] if flags & 0x01 else -1
                    disposal = (flags >> 2) & 0x07
            else:  # application / comment / plain text — skipped
                _, pos = _read_subblocks(data, pos)
            continue
        if block == 0x2C:  # image descriptor
            if pos + 9 > n:
                raise ValueError("truncated GIF image descriptor")
            left, top, fw, fh, fpacked = struct.unpack("<HHHHB", data[pos : pos + 9])
            pos += 9
            if fw == 0 or fh == 0 or left + fw > w or top + fh > h:
                raise ValueError("GIF frame rect outside logical screen")
            palette = gct
            if fpacked & 0x80:
                size = 3 * (2 << (fpacked & 0x07))
                if pos + size > n:
                    raise ValueError("truncated GIF local color table")
                palette = _expand_palette(data[pos : pos + size])
                pos += size
            if palette is None:
                raise ValueError("GIF frame with no color table")
            if pos >= n:
                raise ValueError("truncated GIF image data")
            mcs = data[pos]
            pos += 1
            if not 2 <= mcs <= 11:
                raise ValueError(f"bad GIF LZW min code size {mcs}")
            lzw, pos = _read_subblocks(data, pos)
            raster = lzw_decode(lzw, mcs, fw * fh, lsb=True, early_change=False)
            if len(raster) < fw * fh:
                raise ValueError(f"GIF raster short: {len(raster)}/{fw * fh} pixels")
            indices = np.frombuffer(raster, np.uint8).reshape(fh, fw)
            if fpacked & 0x40:
                indices = indices[np.argsort(_interlace_order(fh))]
            frames.append(
                _Frame(left, top, indices, palette, transparent, disposal, delay_cs)
            )
            transparent = -1
            disposal = 0
            delay_cs = 0
            continue
        raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return w, h, background, frames


def _expand_palette(raw: bytes) -> np.ndarray:
    pal = np.zeros((256, 3), np.uint8)
    trip = np.frombuffer(raw, np.uint8).reshape(-1, 3)
    pal[: trip.shape[0]] = trip
    return pal


# ---------------------------------------------------------------------------
# Public decode surface
# ---------------------------------------------------------------------------


def _is_gray(frames) -> bool:
    return all(
        bool(np.all(f.palette[:, 0] == f.palette[:, 1]))
        and bool(np.all(f.palette[:, 1] == f.palette[:, 2]))
        for f in frames
    )


def iter_gif_frames(data: bytes):
    """Yield each composited full-canvas frame. Frames come out
    ``(H, W)`` gray when every palette in the file is pure gray, else
    ``(H, W, 3)`` RGB — the repo-wide container convention."""
    w, h, background, frames = _parse(data)
    gray = _is_gray(frames)
    canvas = np.empty((h, w, 3), np.uint8)
    canvas[:] = background
    for f in frames:
        region = canvas[f.top : f.top + f.indices.shape[0], f.left : f.left + f.indices.shape[1]]
        saved = region.copy() if f.disposal == 3 else None
        rgb = f.palette[f.indices]
        if f.transparent >= 0:
            opaque = f.indices != f.transparent
            region[opaque] = rgb[opaque]
        else:
            region[:] = rgb
        yield canvas[:, :, 0].copy() if gray else canvas.copy()
        if f.disposal == 2:
            region[:] = background
        elif f.disposal == 3:
            region[:] = saved


def gif_decode(data: bytes) -> np.ndarray:
    """First composited frame — what a single-image reader shows."""
    return next(iter_gif_frames(data))


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------


def _subblocked(stream: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _palettize(img: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(H,W,3) RGB -> (indices, (n,3) palette); raises past 256 colors
    (this encoder quantizes nothing — it serves lossless fixtures)."""
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if palette.shape[0] > 256:
        raise ValueError(f"gif_encode needs <=256 colors, got {palette.shape[0]}")
    return inverse.astype(np.uint8).reshape(img.shape[:2]), palette.astype(np.uint8)


def _screen_and_gct(w: int, h: int, palette: np.ndarray) -> bytes:
    n_colors = palette.shape[0]
    depth = max(1, (max(n_colors, 2) - 1).bit_length())
    table = np.zeros((1 << depth, 3), np.uint8)
    table[:n_colors] = palette
    packed = 0x80 | ((depth - 1) << 4) | (depth - 1)
    return struct.pack("<HHBBB", w, h, packed, 0, 0) + table.tobytes()


def _image_block(indices: np.ndarray, left: int, top: int, n_colors: int, interlace: bool) -> bytes:
    fh, fw = indices.shape
    desc = struct.pack("<BHHHHB", 0x2C, left, top, fw, fh, 0x40 if interlace else 0)
    rows = indices[_interlace_order(fh)] if interlace else indices
    mcs = max(2, (max(n_colors, 2) - 1).bit_length())
    stream = lzw_encode(rows.tobytes(), mcs, lsb=True, early_change=False)
    return desc + bytes([mcs]) + _subblocked(stream)


def gif_encode(img: np.ndarray, interlace: bool = False) -> bytes:
    """Single-frame GIF89a. (H,W) uint8 gray -> 256-entry gray global
    palette (bit-exact round-trip — the driver-gate rotation slot);
    (H,W,3) RGB -> exact palette of the image's unique colors (<=256)."""
    if img.dtype != np.uint8:
        raise ValueError(f"gif_encode expects uint8, got {img.dtype}")
    if img.ndim == 2:
        indices = img
        palette = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    elif img.ndim == 3 and img.shape[2] == 3:
        indices, palette = _palettize(img)
    else:
        raise ValueError(f"bad image shape {img.shape}")
    h, w = indices.shape
    return (
        b"GIF89a"
        + _screen_and_gct(w, h, palette)
        + _image_block(indices, 0, 0, palette.shape[0], interlace)
        + b"\x3b"
    )


def gif_encode_frames(
    frames: list[np.ndarray],
    delay_cs: int = 4,
    transparent_of=None,
) -> bytes:
    """Animated GIF89a from full-canvas frames sharing one exact
    palette (gray or <=256-color RGB). ``transparent_of(i)`` may return
    a per-frame boolean mask of pixels to mark transparent (they keep
    whatever the canvas held — exercises the compositing path)."""
    if not frames:
        raise ValueError("no frames")
    if frames[0].ndim == 2:
        palette = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        index_frames = list(frames)
    else:
        stacked = np.concatenate([f.reshape(-1, 3) for f in frames])
        palette, inverse = np.unique(stacked, axis=0, return_inverse=True)
        if palette.shape[0] > 255:  # reserve one index for transparency
            raise ValueError("gif_encode_frames needs <=255 distinct colors")
        palette = palette.astype(np.uint8)
        index_frames = []
        at = 0
        for f in frames:
            count = f.shape[0] * f.shape[1]
            index_frames.append(
                inverse[at : at + count].astype(np.uint8).reshape(f.shape[:2])
            )
            at += count
    h, w = index_frames[0].shape
    n_colors = palette.shape[0]
    trans_idx = n_colors if frames[0].ndim == 3 else 255
    out = bytearray(b"GIF89a")
    out += _screen_and_gct(
        w, h, palette if frames[0].ndim == 2 else np.vstack([palette, [[0, 0, 0]]])
    )
    # NETSCAPE2.0 looping application extension (public app-extension layout)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for i, indices in enumerate(index_frames):
        mask = transparent_of(i) if transparent_of is not None else None
        flags = 0x04  # disposal 1 (keep)
        if mask is not None:
            indices = indices.copy()
            indices[mask] = trans_idx
            flags |= 0x01
        out += b"\x21\xf9" + bytes([4, flags]) + struct.pack("<H", delay_cs) + bytes(
            [trans_idx if mask is not None else 0, 0]
        )
        out += _image_block(
            indices, 0, 0, max(n_colors, trans_idx + 1 if mask is not None else 0), False
        )
    out += b"\x3b"
    return bytes(out)
