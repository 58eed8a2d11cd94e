"""Minimal pure-NumPy image codecs for media-span payloads.

The reference loads page images from disk with ``cv2.imread`` and
accepts ``jpg/jpeg/png/tif`` scans (reference: cli.py:16, cli.py:114);
our engine carries the encoded bytes in the table's ``content:binary``
column and decodes them *inside* the Arrow batch, so the executor never
touches a filesystem. The container has no OpenCV/Pillow, so we
implement the slices we need ourselves:

- PNG (this module): full baseline decode of real-world files — all
  five row filters (None/Sub/Up/Average/Paeth), bit depths 1/2/4/8/16,
  gray / RGB / palette / alpha variants, Adam7 interlacing — validated
  against Java ImageIO in both directions (fixtures
  tests/data/java_png_*.png). Encoder writes 8-bit gray/RGB with
  filter 0 (fast default) or forced/adaptive filtering.
- JPEG (:mod:`.jpegcodec`): baseline sequential and progressive DCT
  per ITU-T T.81.
- TIFF (this module): 8-bit grayscale/RGB, both byte orders, strip
  layout; compression none / LZW (TIFF 6.0 §13, early-change widths,
  cross-validated against Java ImageIO's independent implementation —
  tests/data/java_lzw_*.tif) / Deflate (zlib) / PackBits (§9), with
  the horizontal-differencing predictor; plus bilevel 1-bit layouts —
  uncompressed, CCITT RLE (T.4 1-D) and Group 4 (T.6 2-D MMR via
  :mod:`.faxcodec`) — the classic book-scan archive formats, all
  validated against Java ImageIO in both directions.
- :func:`decode_image` sniffs the container magic and dispatches — the
  page kernel's single entry point for any supported scan format. Every
  container checks the size its header declares against
  ``MAX_PAGE_PIXELS`` before it allocates.
- The LZW coder (shared with GIF) and the capped inflate live in
  :mod:`.bitcodes`. The PNG IDAT stream and every TIFF LZW, Deflate
  and PackBits strip decode to at most the bytes their header implies,
  so a decompression bomb raises ValueError instead of allocating.

Public knowledge only: PNG is ISO/IEC 15948, JPEG is ITU-T T.81 /
ISO 10918-1, TIFF 6.0 is a published Adobe specification; these are
from-scratch implementations of the container layouts.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .bitcodes import inflate, lzw_decode, lzw_encode

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# The largest page any decoder allocates. A 600-dpi A4 scan is 34.8 MPix;
# a header that claims more raises before a pixel buffer exists, so a
# decompression bomb becomes a failed:decode row, not an OOM-killed worker.
MAX_PAGE_PIXELS = 40_000_000


def check_pixel_budget(w: int, h: int) -> None:
    """Raise ValueError when a header's ``w`` x ``h`` is over
    ``MAX_PAGE_PIXELS``; every container ``decode_image`` reads calls
    this as soon as it has parsed the size."""
    if w * h > MAX_PAGE_PIXELS:
        raise ValueError(
            f"{w}x{h} image exceeds the {MAX_PAGE_PIXELS}-pixel page budget"
        )


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_filter_rows(flat: np.ndarray, bpp: int, mode) -> np.ndarray:
    """Apply PNG row filters for encoding. ``mode``: an int 0-4 forces
    that filter on every row; 'adaptive' picks per row by the libpng
    minimum-sum-of-absolute-differences heuristic. Returns the
    (h, 1+stride) filtered buffer. Encoding only needs ORIGINAL
    neighbours, so every candidate is fully vectorized."""
    h, stride = flat.shape
    s16 = flat.astype(np.int16)
    left = np.zeros_like(s16)
    left[:, bpp:] = s16[:, :-bpp]
    up = np.zeros_like(s16)
    up[1:] = s16[:-1]
    upleft = np.zeros_like(s16)
    upleft[1:, bpp:] = s16[:-1, :-bpp]
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    candidates = np.stack(
        [
            s16,  # 0: None (raw row)
            s16 - left,  # 1: Sub
            s16 - up,  # 2: Up
            s16 - ((left + up) >> 1),  # 3: Average
            s16 - paeth,  # 4: Paeth
        ]
    ).astype(np.uint8)
    if mode == "adaptive":
        # libpng heuristic: minimize sum of |signed residual| per row
        cost = np.abs(candidates.astype(np.int8).astype(np.int16)).sum(axis=2)
        pick = cost.argmin(axis=0)
    else:
        pick = np.full(h, int(mode), dtype=np.int64)
    out = np.empty((h, stride + 1), dtype=np.uint8)
    out[:, 0] = pick
    out[:, 1:] = candidates[pick, np.arange(h)]
    return out


def png_encode(
    img: np.ndarray, compress_level: int = 6, filter_mode=0
) -> bytes:
    """Encode a (H,W) grayscale or (H,W,3) RGB uint8 array as PNG bytes.

    ``filter_mode``: an int 0-4 forces that row filter (0 = the fast
    default), or 'adaptive' for per-row selection (libpng's heuristic
    — smaller files on photographic content). Filter encoding is
    cross-validated against Java ImageIO's PNG reader."""
    if img.dtype != np.uint8:
        raise ValueError(f"png_encode expects uint8, got {img.dtype}")
    if img.ndim == 2:
        color_type, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = img.reshape(h, w * channels)
    if filter_mode == 0:
        # filter byte 0 prepended to every scanline
        raw = np.empty((h, w * channels + 1), dtype=np.uint8)
        raw[:, 0] = 0
        raw[:, 1:] = flat
    else:
        raw = _png_filter_rows(flat, channels, filter_mode)
    idat = zlib.compress(raw.tobytes(), compress_level)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


# samples per pixel by PNG color type: gray, rgb, palette-index,
# gray+alpha, rgba
_PNG_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 interlace passes: (x offset, y offset, x step, y step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: np.ndarray, height: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG row filters (spec §9: None/Sub/Up/Average/Paeth) over a
    (height, 1+stride) filtered buffer; returns (height, stride) uint8.
    ``bpp`` is the filter unit — bytes per pixel, min 1."""
    raw = raw.reshape(height, stride + 1)
    filters = raw[:, 0]
    if np.all(filters == 0):
        return raw[:, 1:].copy()
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f = filters[y]
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        if f == 0:
            out[y] = line.astype(np.uint8)
        elif f == 1:  # Sub
            acc = line
            for x in range(bpp, stride):
                acc[x] = (acc[x] + acc[x - bpp]) & 0xFF
            out[y] = acc.astype(np.uint8)
        elif f == 2:  # Up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif f == 3:  # Average
            acc = line
            for x in range(stride):
                left = acc[x - bpp] if x >= bpp else 0
                acc[x] = (acc[x] + ((left + prev[x]) >> 1)) & 0xFF
            out[y] = acc.astype(np.uint8)
        elif f == 4:  # Paeth
            acc = line
            for x in range(stride):
                a = acc[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                acc[x] = (acc[x] + pred) & 0xFF
            out[y] = acc.astype(np.uint8)
        else:
            raise ValueError(f"unsupported row filter {f}")
    return out


def _png_expand_row_bytes(
    rows: np.ndarray, width: int, bit_depth: int, spp: int
) -> np.ndarray:
    """(h, stride) filtered-out bytes -> (h, width, spp) samples scaled
    to 8 bits (16-bit takes the high byte, like cv2's default read)."""
    h = rows.shape[0]
    if bit_depth == 8:
        return rows.reshape(h, -1)[:, : width * spp].reshape(h, width, spp)
    if bit_depth == 16:
        return rows.reshape(h, -1, 2)[:, : width * spp, 0].reshape(h, width, spp)
    # 1/2/4-bit (gray or palette indices): unpack MSB-first
    bits = np.unpackbits(rows, axis=1)
    vals = bits.reshape(h, -1, bit_depth)
    weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(np.uint8)
    packed = (vals * weights).sum(axis=2).astype(np.uint8)
    return packed[:, :width].reshape(h, width, 1)


def png_decode(data: bytes) -> np.ndarray:
    """Decode PNG bytes -> (H,W) grayscale or (H,W,3) RGB uint8.

    Full baseline coverage of real-world files: all five row filters
    (None/Sub/Up/Average/Paeth), bit depths 1/2/4/8/16, color types
    gray / RGB / palette (PLTE) / gray+alpha / RGBA (alpha stripped,
    matching cv2.imread's default), and Adam7 interlacing. Filter
    conventions cross-validated against Java ImageIO's encoder
    (tests/data/java_png_*.png)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    palette = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if comp != 0 or filt != 0 or interlace not in (0, 1):
                raise ValueError("unsupported PNG variant")
            if color_type not in _PNG_SAMPLES:
                raise ValueError(f"unsupported color type {color_type}")
            if color_type == 3 and bit_depth not in (1, 2, 4, 8):
                raise ValueError(f"bad palette bit depth {bit_depth}")
            if color_type in (2, 4, 6) and bit_depth not in (8, 16):
                raise ValueError(f"bad bit depth {bit_depth} for type {color_type}")
            if color_type == 0 and bit_depth not in (1, 2, 4, 8, 16):
                raise ValueError(f"bad gray bit depth {bit_depth}")
            check_pixel_budget(width, height)
        elif tag == b"PLTE":
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    spp = _PNG_SAMPLES[color_type]
    bpp = max(1, spp * bit_depth // 8)

    def stride_for(w: int) -> int:
        return (w * spp * bit_depth + 7) // 8

    # (x0, y0, dx, dy, width, height) of each sub-image: the whole
    # image, or the Adam7 passes that are not empty
    passes = [(0, 0, 1, 1, width, height)]
    if interlace:
        passes = [
            (x0, y0, dx, dy, (width - x0 + dx - 1) // dx, (height - y0 + dy - 1) // dy)
            for x0, y0, dx, dy in _ADAM7
        ]
        passes = [p for p in passes if p[4] > 0 and p[5] > 0]
    sizes = [ph * (stride_for(pw) + 1) for *_, pw, ph in passes]
    decomp = np.frombuffer(inflate(idat, sum(sizes)), dtype=np.uint8)
    if interlace == 0:
        rows = _png_unfilter(decomp, height, stride_for(width), bpp)
        samples = _png_expand_row_bytes(rows, width, bit_depth, spp)
    else:  # Adam7: seven independently-filtered sub-images
        samples = np.zeros((height, width, spp), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy, pw, ph), size in zip(passes, sizes):
            sub = _png_unfilter(decomp[off : off + size], ph, stride_for(pw), bpp)
            off += size
            samples[y0::dy, x0::dx] = _png_expand_row_bytes(sub, pw, bit_depth, spp)

    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[samples[:, :, 0]]
    if color_type == 0:
        g = samples[:, :, 0]
        if bit_depth < 8:  # scale 1/2/4-bit to full range
            g = (g.astype(np.uint16) * 255 // ((1 << bit_depth) - 1)).astype(np.uint8)
        return g
    if color_type == 4:  # gray + alpha: strip alpha
        return samples[:, :, 0]
    return samples[:, :, :3].copy()  # RGB / RGBA (alpha stripped)


# ---------------------------------------------------------------------------
# TIFF (6.0: strips, 8-bit gray/RGB, II or MM; compression none (1),
# LZW (5, spec §13 incl. the early-change code widths), Deflate (8 /
# old-style 32946, zlib); predictor 2 = horizontal differencing)
# ---------------------------------------------------------------------------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits_per_sample",
    259: "compression", 262: "photometric", 266: "fill_order",
    273: "strip_offsets", 277: "samples_per_pixel", 278: "rows_per_strip",
    279: "strip_byte_counts", 292: "t4_options", 317: "predictor",
}
_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}

def packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits (byte-oriented run-length): literal runs as
    (n-1, bytes...), repeats of >=2 as (1-n mod 256, byte)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 2:
            out.append((1 - run) & 0xFF)
            out.append(data[i])
            i = j
            continue
        # literal stretch: until the next >=3 repeat (2-byte repeats are
        # cheaper folded into the literal) or 128 bytes
        j = i + 1
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def packbits_decode(data: bytes, max_out: int) -> bytes:
    """Inverse of :func:`packbits_encode` (also reads any conforming
    PackBits stream; -128 is a noop per spec). Raises ValueError when
    the output would overrun ``max_out`` bytes."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128 and i < n:  # repeat next byte 257-c times
            out += data[i : i + 1] * (257 - c)
            i += 1
            if len(out) > max_out:
                break
        # c == 128: noop
    if len(out) > max_out:
        raise ValueError(f"PackBits output overruns its {max_out}-byte budget")
    return bytes(out)


_TIFF_COMPRESSION_CODES = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773}
# bilevel-only compressions (1 bit/sample, photometric WhiteIsZero):
_TIFF_FAX_CODES = {"ccitt-rle": 2, "g3": 3, "g4": 4}


def _hdiff_encode(rows: np.ndarray, spp: int) -> np.ndarray:
    """TIFF predictor 2 (horizontal differencing) over (rows, w*spp)
    uint8 sample rows: each sample minus its left neighbour, per
    channel, mod 256."""
    out = rows.astype(np.int16)
    out[:, spp:] -= rows[:, :-spp].astype(np.int16)
    return (out & 0xFF).astype(np.uint8)


def _hdiff_decode(rows: np.ndarray, spp: int) -> np.ndarray:
    """Inverse of predictor 2: per-channel cumulative sum mod 256.
    Vectorized: uint8 cumsum wraps mod 256 natively."""
    h, stride = rows.shape
    per_ch = rows.reshape(h, stride // spp, spp)
    return np.cumsum(per_ch, axis=1, dtype=np.uint8).reshape(h, stride)


def tiff_encode(
    img: np.ndarray,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
) -> bytes:
    """Encode (H,W) gray or (H,W,3) RGB uint8 as little-endian TIFF.

    ``compression``: 'none' | 'lzw' (tag 5, spec §13) | 'deflate'
    (tag 8, zlib) | 'packbits' (§9) | the bilevel fax layouts
    'ccitt-rle' (tag 2, T.4 1-D per byte-aligned row) and 'g4' (tag 4,
    T.6 2-D) — grayscale input is thresholded at 128, written 1
    bit/sample WhiteIsZero, the classic book-scan archive format.
    ``predictor`` 2 applies horizontal differencing before LZW/Deflate
    (what real LZW scan archives use — differenced scanlines compress
    far better). ``rows_per_strip`` splits the image into multiple
    strips (default: one strip)."""
    if img.dtype != np.uint8:
        raise ValueError(f"tiff_encode expects uint8, got {img.dtype}")
    h, w = img.shape[:2]
    rps = h if rows_per_strip is None else max(1, int(rows_per_strip))
    fax = _TIFF_FAX_CODES.get(compression)
    if fax is not None:
        if img.ndim != 2:
            raise ValueError("fax compressions are bilevel: grayscale input only")
        from .faxcodec import g3_encode, g4_encode, mh_encode

        enc = {2: mh_encode, 4: g4_encode}.get(fax) or (
            lambda b: g3_encode(b, two_d=True)
        )
        bits = (img >= 128).astype(np.uint8)  # 1 = white
        strips = [enc(bits[y0 : y0 + rps]) for y0 in range(0, h, rps)]
        comp, spp, photometric, bit_depth = fax, 1, 0, 1  # WhiteIsZero
        predictor = 1
    else:
        if img.ndim == 2:
            spp, photometric = 1, 1  # BlackIsZero
        elif img.ndim == 3 and img.shape[2] == 3:
            spp, photometric = 3, 2  # RGB
        else:
            raise ValueError(f"unsupported shape {img.shape}")
        comp = _TIFF_COMPRESSION_CODES.get(compression)
        if comp is None:
            raise ValueError(f"unsupported compression {compression!r}")
        if predictor not in (1, 2):
            raise ValueError(f"unsupported predictor {predictor}")
        if predictor == 2 and comp == 1:
            raise ValueError("predictor 2 requires a compressed layout")
        bit_depth = 8
        rows = img.reshape(h, w * spp)
        strips = []
        for y0 in range(0, h, rps):
            chunk = rows[y0 : y0 + rps]
            if predictor == 2:
                chunk = _hdiff_encode(chunk, spp)
            raw = chunk.tobytes()
            if comp == 5:
                raw = lzw_encode(raw, 8, lsb=False, early_change=True)
            elif comp == 8:
                raw = zlib.compress(raw, 6)
            elif comp == 32773:  # PackBits: each row packed separately (§9)
                raw = b"".join(packbits_encode(r.tobytes()) for r in chunk)
            strips.append(raw)

    # layout: header(8) | strip data | IFD | out-of-line values
    data_off = 8
    offsets = []
    off = data_off
    for s in strips:
        offsets.append(off)
        off += len(s)
    ifd_off = off
    entries = []

    def entry(tag, typ, count, value):
        entries.append(struct.pack("<HHI4s", tag, typ, count, value))

    def short_val(v):
        return struct.pack("<HH", v, 0)

    def long_val(v):
        return struct.pack("<I", v)

    n_entries = 9 + (1 if predictor == 2 else 0) + (1 if comp == 3 else 0)
    tail = b""
    tail_base = None  # computed after n_entries is final

    def tail_alloc(payload: bytes) -> bytes:
        nonlocal tail
        off_here = tail_base + len(tail)
        tail += payload
        return long_val(off_here)

    tail_base = ifd_off + 2 + n_entries * 12 + 4
    bps_value = short_val(bit_depth)
    if spp == 3:
        bps_value = tail_alloc(struct.pack("<HHH", 8, 8, 8))
    if len(strips) == 1:
        offsets_value = long_val(offsets[0])
        counts_value = long_val(len(strips[0]))
    else:
        offsets_value = tail_alloc(struct.pack(f"<{len(strips)}I", *offsets))
        counts_value = tail_alloc(
            struct.pack(f"<{len(strips)}I", *(len(s) for s in strips))
        )
    entry(256, 4, 1, long_val(w))
    entry(257, 4, 1, long_val(h))
    entry(258, 3, spp, bps_value)
    entry(259, 3, 1, short_val(comp))
    entry(262, 3, 1, short_val(photometric))
    entry(273, 4, len(strips), offsets_value)
    entry(277, 3, 1, short_val(spp))
    entry(278, 4, 1, long_val(rps))
    entry(279, 4, len(strips), counts_value)
    if comp == 3:
        entry(292, 4, 1, long_val(1))  # T4Options: 2-D coding allowed
    if predictor == 2:
        entry(317, 3, 1, short_val(2))
    assert len(entries) == n_entries
    ifd = struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0)
    header = b"II*\x00" + struct.pack("<I", ifd_off)
    return header + b"".join(strips) + ifd + tail


def _tiff_decode_bilevel(data: bytes, fields, w: int, h: int, comp: int) -> np.ndarray:
    """1-bit/sample TIFF strip decode -> (h, w) uint8 {0, 255} gray.
    Compression: none (row-packed bits), CCITT RLE (2, T.4 1-D) and
    Group 4 (4, T.6) — the classic bilevel book-scan layouts. Fax
    reference lines reset per strip, the standard TIFF convention."""
    photometric = fields.get("photometric", [0])[0]
    if fields.get("fill_order", [1])[0] != 1:
        raise ValueError("unsupported TIFF fill order")
    rps = fields.get("rows_per_strip", [h])[0]
    offsets = fields["strip_offsets"]
    counts = fields.get("strip_byte_counts", [len(data) - offsets[0]])
    if comp in (2, 3, 4):
        from .faxcodec import g3_decode, g4_decode, mh_decode

        t4opts = fields.get("t4_options", [0])[0]
        if comp == 3 and t4opts & 2:
            raise ValueError("T.4 uncompressed mode not supported")
        parts = []
        for si, (o, c) in enumerate(zip(offsets, counts)):
            n_rows = min(rps, h - si * rps)
            strip = data[o : o + c]
            if comp == 2:
                parts.append(mh_decode(strip, w, n_rows))
            elif comp == 3:
                parts.append(g3_decode(strip, w, n_rows, two_d=bool(t4opts & 1)))
            else:
                parts.append(g4_decode(strip, w, n_rows))
        white = np.concatenate(parts)  # 1 = fax-white
        # fax streams code runs of "white" pixels; the photometric tag
        # says what "white" means in the image: 0 (WhiteIsZero, the
        # normal fax convention) -> fax-white displays as 255, while a
        # legal-if-rare photometric=1 (BlackIsZero) fax TIFF is inverted
        # (libtiff/Java ImageIO behavior, mirrored by the uncompressed
        # bilevel path below)
        if photometric == 1:
            return np.where(white == 1, 0, 255).astype(np.uint8)
        return np.where(white == 1, 255, 0).astype(np.uint8)
    if comp == 1:
        stride = (w + 7) // 8
        raw = b"".join(data[o : o + c] for o, c in zip(offsets, counts))
        if len(raw) < h * stride:
            raise ValueError("bilevel TIFF strip data too short")
        bits = np.unpackbits(
            np.frombuffer(raw[: h * stride], dtype=np.uint8).reshape(h, stride),
            axis=1,
        )[:, :w]
        if photometric == 0:  # WhiteIsZero
            bits = 1 - bits
        return (bits * 255).astype(np.uint8)
    raise ValueError(f"unsupported bilevel TIFF compression {comp}")


def tiff_decode(data: bytes) -> np.ndarray:
    """Decode grayscale/RGB/bilevel TIFF -> uint8 array. Compression:
    none (1), LZW (5), Deflate (8 and old-style 32946), PackBits
    (32773); bilevel: uncompressed, CCITT RLE (2), Group 4 (4);
    horizontal-differencing predictor (tag 317 = 2); single- or
    multi-strip."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    if len(data) < 8:
        raise ValueError("truncated TIFF header")
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError(f"TIFF IFD offset {ifd_off} outside the file")
    (n,) = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])
    fields: dict[str, list[int]] = {}
    for i in range(n):
        off = ifd_off + 2 + i * 12
        if off + 8 > len(data):
            raise ValueError(f"TIFF IFD entry {i} outside the file")
        tag, typ, count = struct.unpack(bo + "HHI", data[off : off + 8])
        if tag not in _TIFF_TAGS or typ not in _TIFF_TYPE_SIZE:
            continue
        size = _TIFF_TYPE_SIZE[typ] * count
        if size > len(data):  # corrupt count: a value cannot outsize the file
            raise ValueError(f"TIFF field {tag} count {count} exceeds file size")
        voff = off + 8
        if size > 4:
            if off + 12 > len(data):
                raise ValueError(f"TIFF IFD entry {i} outside the file")
            (voff,) = struct.unpack(bo + "I", data[off + 8 : off + 12])
        raw = data[voff : voff + size]
        if len(raw) < size:
            raise ValueError(f"TIFF field {tag} value outside the file")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        fields[_TIFF_TAGS[tag]] = list(struct.unpack(bo + fmt * count, raw))
    w = fields["width"][0]
    h = fields["height"][0]
    check_pixel_budget(w, h)
    comp = fields.get("compression", [1])[0]
    bps = fields.get("bits_per_sample", [8])
    spp0 = fields.get("samples_per_pixel", [len(bps)])[0]
    if comp in (2, 3, 4) or (bps == [1] and spp0 == 1):
        # CCITT compressions imply bilevel; bits_per_sample defaults to
        # 1 in TIFF, so fax writers routinely omit the tag
        if bps not in ([1], [8]) or spp0 != 1:
            raise ValueError(f"unsupported bilevel TIFF layout {bps}/{spp0}")
        return _tiff_decode_bilevel(data, fields, w, h, comp)
    if comp not in (1, 5, 8, 32946, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if any(b != 8 for b in bps):
        raise ValueError(f"unsupported TIFF bit depth {bps}")
    spp = fields.get("samples_per_pixel", [len(bps)])[0]
    if spp not in (1, 3):
        raise ValueError(f"unsupported samples_per_pixel {spp}")
    pred = fields.get("predictor", [1])[0]
    if pred not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {pred}")
    offsets = fields["strip_offsets"]
    counts = fields.get("strip_byte_counts", [w * h * spp])
    # a strip holds rows_per_strip rows at most
    strip_max = min(fields.get("rows_per_strip", [h])[0], h) * w * spp
    chunks = []
    for o, c in zip(offsets, counts):
        raw = data[o : o + c]
        if comp == 5:
            raw = lzw_decode(raw, 8, strip_max, lsb=False, early_change=True)
        elif comp in (8, 32946):
            raw = inflate(raw, strip_max)
        elif comp == 32773:
            raw = packbits_decode(raw, strip_max)
        chunks.append(raw)
    raw = b"".join(chunks)
    if len(raw) < w * h * spp:
        raise ValueError(
            f"TIFF strip data too short: {len(raw)} < {w * h * spp}"
        )
    arr = np.frombuffer(raw[: w * h * spp], dtype=np.uint8)
    if pred == 2:
        arr = _hdiff_decode(arr.reshape(h, w * spp), spp).reshape(-1)
    if spp == 1:
        img = arr.reshape(h, w)
        if fields.get("photometric", [1])[0] == 0:  # WhiteIsZero
            img = 255 - img
        return img
    return arr.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# Format sniffing dispatcher — the page kernel's decode entry point
# ---------------------------------------------------------------------------


def sniff_format(data: bytes) -> str:
    """'png' | 'jpeg' | 'tiff' | 'gif' | 'bmp' | 'pnm' | 'unknown'
    from container magic bytes."""
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:2] in (b"II", b"MM") and len(data) >= 4:
        try:
            bo = "<" if data[:2] == b"II" else ">"
            if struct.unpack(bo + "H", data[2:4])[0] == 42:
                return "tiff"
        except struct.error:
            pass
    if data[:4] == b"GIF8":
        return "gif"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"  # needs 12 sniff bytes (form type at offset 8)
    if data[:2] == b"BM":
        return "bmp"
    if len(data) >= 3 and data[0:1] == b"P" and data[1] in b"123456" and data[2:3].isspace():
        return "pnm"
    return "unknown"


def decode_image(data: bytes) -> np.ndarray:
    """Decode image bytes by magic-byte sniffing — the container surface
    of the reference's cv2.imread path: the folder glob's png/jpeg/tiff
    (reference: cli.py:16) plus the BMP and PNM families imread accepts
    through --image (reference: cli.py:114)."""
    fmt = sniff_format(bytes(data[:12]))
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        from .jpegcodec import jpeg_decode

        return jpeg_decode(data)
    if fmt == "tiff":
        return tiff_decode(data)
    if fmt == "gif":
        from .gifcodec import gif_decode

        return gif_decode(data)
    if fmt == "webp":
        from .webpcodec import webp_decode

        return webp_decode(data)
    if fmt == "bmp":
        from .bmpcodec import bmp_decode

        return bmp_decode(data)
    if fmt == "pnm":
        from .bmpcodec import pnm_decode

        return pnm_decode(data)
    raise ValueError("unrecognized image container (not PNG/JPEG/TIFF/GIF/WebP/BMP/PNM)")
