"""BMP (Windows DIB) and PNM (Netpbm P1-P6) codecs.

The reference's single-image path hands any file to ``cv2.imread``
(reference: cli.py:114, BDRC/utils.py:283); beyond the folder glob's
jpg/png/tif, imread also accepts BMP and PBM/PGM/PPM containers, so a
user pointing ``--image`` at one gets a decode. These two are the
remaining simple members of that surface (WebP lossless now lives in
webpcodec.py; JPEG2000/OpenEXR and lossy-VP8 WebP stay deliberate
exclusions — heavyweight formats far outside this synthetic corpus,
documented in SURVEY.md §2).

Both formats are public file-layout knowledge:

BMP: 14-byte file header (``BM``, size, pixel offset) + DIB header —
BITMAPCOREHEADER (12 bytes, OS/2 RGB-triple palette) or
BITMAPINFOHEADER and its V4/V5 extensions (40/52/56/108/124 bytes,
BGRA-quad palette); bpp 1/4/8/16/24/32; BI_RGB, BI_RLE8, BI_RLE4 and
BI_BITFIELDS compressions; rows padded to 4 bytes, bottom-up unless
height is negative. Decoded output follows this repo's conventions
(imgcodec.png_decode): (H,W) uint8 gray when the container is
grayscale (pure-gray palette), else (H,W,3) RGB.

PNM: ``P1``-``P3`` ASCII / ``P4``-``P6`` binary bitmap/graymap/pixmap;
``#`` comments anywhere in the header; P4/P1 use 1 = black (decoded to
0, white 255, matching imread); maxval > 255 reads big-endian 16-bit
samples and keeps the high byte (the cv2-default 8-bit read, same
choice as png_decode's 16-bit path).

Encoders cover the slots the tests and the driver-gate rotation use:
8-bit gray (BMP 8bpp gray palette / P5) and RGB (BMP 24bpp / P6),
bit-exact round-trip. BMP decode is cross-validated against Java
ImageIO's BMP writer (tests/data/java_bmp_*.bmp).
"""

from __future__ import annotations

import struct

import numpy as np

from .imgcodec import check_pixel_budget

# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

_BI_RGB = 0
_BI_RLE8 = 1
_BI_RLE4 = 2
_BI_BITFIELDS = 3


def bmp_encode(img: np.ndarray) -> bytes:
    """(H,W) gray -> 8bpp gray-palette BMP; (H,W,3) RGB -> 24bpp BGR.
    Bottom-up BI_RGB, the layout every writer (incl. Java ImageIO)
    emits by default."""
    if img.dtype != np.uint8:
        raise ValueError(f"bmp_encode expects uint8, got {img.dtype}")
    if img.ndim == 2:
        h, w = img.shape
        stride = (w + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w] = img[::-1]  # bottom-up
        palette = np.zeros((256, 4), dtype=np.uint8)
        palette[:, 0] = palette[:, 1] = palette[:, 2] = np.arange(256)
        pix_off = 14 + 40 + 256 * 4
        body = palette.tobytes() + rows.tobytes()
        bpp = 8
        colors = 256
    elif img.ndim == 3 and img.shape[2] == 3:
        h, w = img.shape[:2]
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, -1)  # BGR, bottom-up
        pix_off = 14 + 40
        body = rows.tobytes()
        bpp = 24
        colors = 0
    else:
        raise ValueError(f"bad image shape {img.shape}")
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, _BI_RGB, len(rows.tobytes()),
        2835, 2835, colors, 0,
    )
    head = struct.pack("<2sIHHI", b"BM", pix_off + rows.size, 0, 0, pix_off)
    return head + info + body


def _bmp_rle_decode(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 -> (h, w) palette indices, bottom-up rows
    already flipped to top-down. Escapes: 0,0=EOL 0,1=EOF 0,2=delta;
    0,n>=3 = absolute run (word-aligned)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x, y = 0, h - 1  # bottom-up
    i = 0
    n = len(data)
    while i + 1 < n and y >= 0:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt:  # encoded run
            if four_bit:
                pair = [(val >> 4) & 0xF, val & 0xF]
                px = [pair[k & 1] for k in range(cnt)]
            else:
                px = [val] * cnt
            end = min(x + cnt, w)
            out[y, x:end] = px[: end - x]
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y - 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if i + 1 >= n:
                break
            x += data[i]
            y -= data[i + 1]
            i += 2
        else:  # absolute mode: val literal pixels, padded to word boundary
            if four_bit:
                nbytes = (val + 1) // 2
                chunk = data[i : i + nbytes]
                px = []
                for b in chunk:
                    px.append((b >> 4) & 0xF)
                    px.append(b & 0xF)
                px = px[:val]
                i += nbytes + (nbytes & 1)
            else:
                px = list(data[i : i + val])
                i += val + (val & 1)
            end = min(x + val, w)
            out[y, x:end] = px[: end - x]
            x += val
    return out


def _mask_extract(vals: np.ndarray, mask: int) -> np.ndarray:
    """Scale the channel under ``mask`` to 8 bits."""
    if mask == 0:
        return np.zeros(vals.shape, dtype=np.uint8)
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    chan = (vals >> shift) & (mask >> shift)
    return ((chan * 255) // ((1 << width) - 1)).astype(np.uint8)


def bmp_decode(data: bytes) -> np.ndarray:
    """BMP bytes -> (H,W) uint8 gray (pure-gray palette) or (H,W,3) RGB."""
    if data[:2] != b"BM" or len(data) < 26:
        raise ValueError("not a BMP")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if len(data) < 14 + min(hdr_size, 40):
        raise ValueError("truncated BMP header")
    masks = None
    if hdr_size == 12:  # BITMAPCOREHEADER (OS/2): u16 dims, RGB-triple palette
        w, h, _planes, bpp = struct.unpack("<HHHH", data[18:26])
        topdown = False
        comp = _BI_RGB
        colors = 0
        pal_entry = 3
        pal_off = 14 + 12
    elif hdr_size >= 40:
        w, h, _planes, bpp, comp, _isz, _xp, _yp, colors, _imp = struct.unpack(
            "<iiHHIIiiII", data[18:54]
        )
        topdown = h < 0
        h = abs(h)
        pal_entry = 4
        pal_off = 14 + hdr_size
        if comp == _BI_BITFIELDS:
            if len(data) < 66:
                raise ValueError("truncated BMP bitfields masks")
            masks = struct.unpack("<III", data[54:66])
            if hdr_size == 40:  # masks follow the header (not part of it)
                pal_off += 12
    else:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    if w <= 0 or h <= 0:
        raise ValueError("bad BMP dimensions")
    check_pixel_budget(w, h)
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"unsupported BMP bpp {bpp}")

    palette = None
    if bpp <= 8:
        # the core header has no colors field: infer the palette size
        # from the gap between header end and pixel offset
        n_colors = colors or min(1 << bpp, max((pix_off - pal_off) // pal_entry, 0))
        if n_colors == 0:
            raise ValueError("palette BMP without palette")
        raw = np.frombuffer(
            data[pal_off : pal_off + n_colors * pal_entry], dtype=np.uint8
        ).reshape(-1, pal_entry)
        if raw.shape[0] < n_colors:
            raise ValueError("truncated BMP palette")
        palette = raw[:, :3][:, ::-1]  # BGR(A) -> RGB

    if comp in (_BI_RLE8, _BI_RLE4):
        if bpp not in (4, 8) or (comp == _BI_RLE8) != (bpp == 8):
            raise ValueError("BMP RLE compression / bpp mismatch")
        idx = _bmp_rle_decode(data[pix_off:], w, h, four_bit=comp == _BI_RLE4)
        if topdown:
            idx = idx[::-1]
    elif comp in (_BI_RGB, _BI_BITFIELDS):
        stride = ((w * bpp + 31) // 32) * 4
        need = stride * h
        rows = np.frombuffer(data[pix_off : pix_off + need], dtype=np.uint8)
        if rows.size < need:
            raise ValueError("truncated BMP pixel data")
        rows = rows.reshape(h, stride)
        if not topdown:
            rows = rows[::-1]
        if bpp == 24:
            px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
            return px.copy()
        if bpp == 32:
            vals = rows[:, : w * 4].reshape(h, w, 4)
            if comp == _BI_BITFIELDS and masks:
                v32 = vals.view(np.uint8).astype(np.uint32)
                packed = (
                    v32[:, :, 0] | (v32[:, :, 1] << 8)
                    | (v32[:, :, 2] << 16) | (v32[:, :, 3] << 24)
                )
                return np.stack(
                    [_mask_extract(packed, m) for m in masks], axis=2
                )
            return vals[:, :, :3][:, :, ::-1].copy()  # BGRX -> RGB
        if bpp == 16:
            packed = rows[:, : w * 2].reshape(h, w, 2).astype(np.uint32)
            packed = packed[:, :, 0] | (packed[:, :, 1] << 8)
            m = masks if (comp == _BI_BITFIELDS and masks) else (
                0x7C00, 0x03E0, 0x001F  # default BI_RGB 16bpp is 555
            )
            return np.stack([_mask_extract(packed, mk) for mk in m], axis=2)
        # 1/4/8-bit palette indices, MSB-first within the byte
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            vals = bits[:, : (stride * 8 // bpp) * bpp].reshape(h, -1, bpp)
            weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
            idx = (vals * weights).sum(axis=2).astype(np.uint8)[:, :w]
    else:
        raise ValueError(f"unsupported BMP compression {comp}")

    if palette is None:
        raise ValueError("palette BMP without palette")
    if int(idx.max(initial=0)) >= palette.shape[0]:
        raise ValueError("BMP palette index out of range")
    if np.array_equal(palette[:, 0], palette[:, 1]) and np.array_equal(
        palette[:, 1], palette[:, 2]
    ):
        return palette[idx, 0]  # grayscale container -> (H,W)
    return palette[idx]


# ---------------------------------------------------------------------------
# PNM (Netpbm)
# ---------------------------------------------------------------------------


def pnm_encode(img: np.ndarray, ascii_format: bool = False) -> bytes:
    """(H,W) gray -> P5 (P2 if ascii_format); (H,W,3) RGB -> P6 (P3)."""
    if img.dtype != np.uint8:
        raise ValueError(f"pnm_encode expects uint8, got {img.dtype}")
    if img.ndim == 2:
        magic = b"P2" if ascii_format else b"P5"
    elif img.ndim == 3 and img.shape[2] == 3:
        magic = b"P3" if ascii_format else b"P6"
    else:
        raise ValueError(f"bad image shape {img.shape}")
    h, w = img.shape[:2]
    head = b"%s\n%d %d\n255\n" % (magic, w, h)
    if ascii_format:
        return head + b"\n".join(
            b" ".join(b"%d" % v for v in row) for row in img.reshape(h, -1)
        ) + b"\n"
    return head + img.tobytes()


def _pnm_header_tokens(data: bytes, count: int) -> tuple[list[int], int]:
    """First ``count`` whitespace-separated integer tokens after the
    magic, skipping ``#`` comments; returns (tokens, offset past the
    single whitespace byte that terminates the header)."""
    toks: list[int] = []
    i = 2
    n = len(data)
    while len(toks) < count:
        while i < n and data[i : i + 1].isspace():
            i += 1
        if i < n and data[i] == 0x23:  # '#'
            while i < n and data[i] not in (0x0A, 0x0D):
                i += 1
            continue
        j = i
        while j < n and not data[j : j + 1].isspace() and data[j] != 0x23:
            j += 1
        if j == i:
            raise ValueError("truncated PNM header")
        toks.append(int(data[i:j]))
        i = j
    if i >= n or not data[i : i + 1].isspace():
        raise ValueError("PNM header not whitespace-terminated")
    return toks, i + 1


def pnm_decode(data: bytes) -> np.ndarray:
    """P1-P6 bytes -> (H,W) uint8 gray or (H,W,3) RGB uint8."""
    magic = data[:2]
    if len(data) < 4 or magic[0:1] != b"P" or magic[1] not in b"123456":
        raise ValueError("not a PNM")
    kind = magic[1] - 0x30
    bitmap = kind in (1, 4)
    channels = 3 if kind in (3, 6) else 1
    n_head = 2 if bitmap else 3
    toks, off = _pnm_header_tokens(data, n_head)
    w, h = toks[0], toks[1]
    maxval = 1 if bitmap else toks[2]
    if w <= 0 or h <= 0 or maxval <= 0 or maxval > 65535:
        raise ValueError("bad PNM header values")
    check_pixel_budget(w, h)
    count = w * h * channels

    if kind in (1, 2, 3):  # ASCII
        if kind == 1:
            # P1 digits may be unseparated ("0110"): every 0/1 char counts
            body = data[off:]
            vals = np.frombuffer(body, dtype=np.uint8)
            vals = vals[(vals == 0x30) | (vals == 0x31)] - 0x30
            if vals.size < count:
                raise ValueError("truncated P1 data")
            samples = vals[:count].astype(np.uint16)
        else:
            fields = data[off:].split()
            nums = [f for f in fields if not f.startswith(b"#")]
            if len(nums) < count:
                raise ValueError("truncated ASCII PNM data")
            samples = np.array([int(v) for v in nums[:count]], dtype=np.uint16)
    elif kind == 4:  # binary bitmap, rows byte-padded, MSB-first
        stride = (w + 7) // 8
        raw = np.frombuffer(data[off : off + stride * h], dtype=np.uint8)
        if raw.size < stride * h:
            raise ValueError("truncated P4 data")
        bits = np.unpackbits(raw.reshape(h, stride), axis=1)[:, :w]
        samples = bits.reshape(-1).astype(np.uint16)
    else:  # P5 / P6 binary
        if maxval > 255:
            raw = np.frombuffer(data[off : off + 2 * count], dtype=np.uint8)
            if raw.size < 2 * count:
                raise ValueError("truncated 16-bit PNM data")
            samples = raw.reshape(-1, 2)[:, 0].astype(np.uint16)  # BE high byte
            maxval = 255  # high byte is already the 8-bit read
        else:
            raw = np.frombuffer(data[off : off + count], dtype=np.uint8)
            if raw.size < count:
                raise ValueError("truncated PNM data")
            samples = raw.astype(np.uint16)

    if bitmap:
        out = ((1 - samples) * 255).astype(np.uint8)  # 1 = black
    elif maxval == 255:
        out = samples.astype(np.uint8)
    else:
        out = ((samples * 255) // maxval).astype(np.uint8)
    if channels == 3:
        return out.reshape(h, w, 3)
    return out.reshape(h, w)
