"""WebP lossless (VP8L) codec: full-feature decode + canonical encode.

WebP is the web's dominant modern still-image container after
JPEG/PNG/GIF; an interleaved text+media crawl at 10^12 documents
carries it in volume, so the ingest surface needs a decode. This
implements the LOSSLESS stream (VP8L) from the public specification
("WebP Lossless Bitstream Specification", Google, RFC-style, and the
RIFF container docs): the lossy VP8 stream is a full video intra
codec and remains outside scope (a documented boundary like
h264/vp9 in multimodal.py).

Decoder coverage — the complete VP8L feature set:

- RIFF/WEBP container, VP8L chunk, 0x2F signature, 14-bit dims.
- LSB-first bit reader and writer and the canonical code assignment
  from :mod:`.bitcodes`; DEFLATE-convention prefix codes (first bit
  read = code MSB), built from code lengths.
- Code lengths themselves entropy-coded with the 19-symbol
  code-length code (kCodeLengthCodeOrder), repeat codes 16/17/18,
  optional max_symbol limit field, and the 1- or 2-symbol "simple
  code" short form.
- Prefix-code GROUPS of 5 (green+length+cache / red / blue / alpha /
  distance), meta-prefix image selecting a group per tile.
- Color cache (1..11 bits, 0x1e35a7bd multiplier hash, updated on
  every emitted pixel).
- LZ77 backward references: length/distance prefix coding with extra
  bits, the 120-entry two-dimensional near-pixel distance map.
- All four transforms, inverted in reverse order: PREDICTOR (14
  spatial modes incl. Select and ClampAddSubtract{Full,Half}),
  COLOR (signed 3.5 fixed-point cross-channel deltas per tile),
  SUBTRACT_GREEN, and COLOR_INDEXING (palette with byte-delta coding
  and sub-byte pixel bundling at palette sizes <= 16).

Encoder: real canonical-Huffman construction (depth-limited) over the
green channel, SUBTRACT_GREEN so gray images cost one prefix code per
pixel (red/blue collapse to zero-bit single-symbol codes), palette or
literal paths, code lengths serialized through the code-length code.
Round-trips are bit-exact.

VALIDATION HONESTY: unlike the PNG/JPEG/TIFF/fax/BMP/GIF codecs in
this repo, no independent WebP implementation exists in this
container (Java ImageIO, cv2, PIL all absent), so there is no interop
fixture. The decoder is pinned by spec-derived hand vectors (the
distance map, predictor modes, color-transform arithmetic, canonical
code construction) plus encoder round-trips; first contact with a
foreign .webp should add an interop fixture like tests/data/java_*.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitcodes import LsbBitReader, LsbBitWriter, canonical_codes, reverse_bits
from .imgcodec import check_pixel_budget

# code-length symbols appear in this fixed order (spec §"prefix codes")
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_NUM_LITERAL = 256
_NUM_LENGTH = 24
_NUM_DISTANCE = 40
_CACHE_MULT = 0x1E35A7BD

# 120-entry (dx, dy) near-pixel distance map (spec §"distance mapping");
# generated by the published neighborhood ordering: all (dx, dy) with
# dy in 0..7, dx in -8..7, ordered by (dist², dy, |dx|...) — the spec
# lists it literally; this table IS that literal list.
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _PrefixCode:
    """Canonical prefix decoder. ``lengths[sym]`` -> decode()."""

    __slots__ = ("table", "max_len", "single")

    def __init__(self, lengths):
        used = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            # single-symbol code: zero bits per symbol (spec)
            self.single = used[0][0]
            self.table = None
            self.max_len = 0
            return
        self.single = None
        used.sort(key=lambda sl: (sl[1], sl[0]))  # code order: by length, then symbol
        codes = canonical_codes(used)
        max_len = codes[-1][2]
        if max_len > 15:
            raise ValueError("prefix length > 15")
        if codes[-1][1] + 1 != 1 << max_len:
            raise ValueError("prefix code lengths are not complete")
        # LUT over max_len LSB-first bits: index low bits are the bits
        # in read order; a code's first-read bit is its MSB
        size = 1 << max_len
        table = np.empty(size, np.uint32)  # (sym << 4) | len
        for s, c, l in codes:
            table[reverse_bits(c, l) :: 1 << l] = (s << 4) | l
        self.table = table.tolist()  # python list: ~10x faster scalar reads
        self.max_len = max_len

    def decode(self, br: LsbBitReader) -> int:
        if self.single is not None:
            return self.single
        n = self.max_len
        while br.nbits < n and br.pos < len(br.data):
            br.acc |= br.data[br.pos] << br.nbits
            br.pos += 1
            br.nbits += 8
        idx = br.acc & ((1 << n) - 1)
        e = self.table[idx]
        l = e & 0xF
        if br.nbits < l:
            raise ValueError("truncated VP8L bitstream")
        br.acc >>= l
        br.nbits -= l
        return e >> 4


def _read_code_lengths(br: LsbBitReader, alphabet_size: int) -> list[int]:
    """The code-length-coded form of one prefix code."""
    simple = br.read(1)
    lengths = [0] * alphabet_size
    if simple:
        num_symbols = br.read(1) + 1
        first_8bits = br.read(1)
        sym0 = br.read(8 if first_8bits else 1)
        if sym0 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        lengths[sym0] = 1
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            lengths[sym1] = 1
        return lengths
    num_codes = br.read(4) + 4
    if num_codes > len(_CLC_ORDER):
        raise ValueError("too many code-length codes")
    clc_lengths = [0] * 19
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    # optional cap on the number of coded symbols
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code = clc.decode(br)
        if code < 16:
            lengths[sym] = code
            sym += 1
            if code:
                prev_len = code
        elif code == 16:
            for _ in range(3 + br.read(2)):
                if sym >= alphabet_size:
                    raise ValueError("code-length repeat overflow")
                lengths[sym] = prev_len
                sym += 1
        elif code == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet_size:
            raise ValueError("code-length repeat overflow")
    return lengths


class _Group:
    __slots__ = ("g", "r", "b", "a", "d")

    def __init__(self, br, cache_size):
        self.g = _PrefixCode(
            _read_code_lengths(br, _NUM_LITERAL + _NUM_LENGTH + cache_size)
        )
        self.r = _PrefixCode(_read_code_lengths(br, 256))
        self.b = _PrefixCode(_read_code_lengths(br, 256))
        self.a = _PrefixCode(_read_code_lengths(br, 256))
        self.d = _PrefixCode(_read_code_lengths(br, _NUM_DISTANCE))


def _prefix_value(br: LsbBitReader, code: int) -> int:
    """Length/distance prefix decoding (spec §'LZ77 backward refs')."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_image_stream(br: LsbBitReader, w: int, h: int, level0: bool):
    """-> (pixels uint32 ARGB array of w*h, transforms) — transforms
    only collected at level 0."""
    transforms = []
    xsize = w
    if level0:
        while br.read(1):
            ttype = br.read(2)
            if any(t[0] == ttype for t in transforms):
                raise ValueError("duplicate VP8L transform")
            if ttype == 0 or ttype == 1:  # predictor / color
                size_bits = br.read(3) + 2
                tw = (xsize + (1 << size_bits) - 1) >> size_bits
                th = (h + (1 << size_bits) - 1) >> size_bits
                tile, _ = _decode_image_stream(br, tw, th, False)
                transforms.append((ttype, size_bits, tile))
            elif ttype == 2:  # subtract green
                transforms.append((2, 0, None))
            else:  # color indexing
                pal_size = br.read(8) + 1
                pal, _ = _decode_image_stream(br, pal_size, 1, False)
                # palette entries are byte-delta coded left-to-right
                pal = pal.astype(np.uint32)
                acc = np.zeros(4, np.uint32)
                out = np.empty(pal_size, np.uint32)
                for i in range(pal_size):
                    v = int(pal[i])
                    parts = [
                        ((v >> sh) & 0xFF) for sh in (24, 16, 8, 0)
                    ]
                    acc = [(a + p) & 0xFF for a, p in zip(acc, parts)]
                    out[i] = (
                        (acc[0] << 24) | (acc[1] << 16) | (acc[2] << 8) | acc[3]
                    )
                if pal_size <= 2:
                    width_bits = 3
                elif pal_size <= 4:
                    width_bits = 2
                elif pal_size <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, width_bits, out))
                if width_bits:
                    xsize = (xsize + (1 << width_bits) - 1) >> width_bits

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("bad color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_px, _ = _decode_image_stream(br, mw, mh, False)
        meta = ((meta_px >> 8) & 0xFFFF).astype(np.int64)  # (red<<8)|green
        n_groups = int(meta.max()) + 1
    groups = [_Group(br, cache_size) for _ in range(n_groups)]

    npx = xsize * h
    out = [0] * npx  # python list: the hot loop stays in C-speed int ops
    cache = [0] * cache_size if cache_size else None
    pos = 0
    grp = groups[0]
    mw = (xsize + (1 << meta_bits) - 1) >> meta_bits if meta is not None else 0

    # hot-loop locals (per-pixel method calls dominate otherwise)
    data = br.data
    ndata = len(data)
    acc = br.acc
    nbits = br.nbits
    bpos = br.pos
    cache_shift = 32 - cache_bits if cache_bits else 0

    def _sync_in():
        br.acc, br.nbits, br.pos = acc, nbits, bpos

    def _sync_out():
        nonlocal acc, nbits, bpos
        acc, nbits, bpos = br.acc, br.nbits, br.pos

    # unpack per-group decode state: (table, max_len, single) per code
    def _state(code):
        return (code.table, code.max_len, code.single)

    def _rba_const(g):
        if g.r.single is None or g.b.single is None or g.a.single is None:
            return None
        return (g.a.single << 24) | (g.r.single << 16) | g.b.single

    gstates = [
        tuple(_state(c) for c in (g.g, g.r, g.b, g.a)) + (_rba_const(g),)
        for g in groups
    ]
    g_st, r_st, b_st, a_st, rba = gstates[0]
    single_group = meta is None

    while pos < npx:
        if not single_group:
            y = pos // xsize
            x = pos - y * xsize
            gi = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            grp = groups[gi]
            g_st, r_st, b_st, a_st, rba = gstates[gi]
        table, max_len, single = g_st
        if single is not None:
            s = single
        else:
            while nbits < max_len and bpos < ndata:
                acc |= data[bpos] << nbits
                bpos += 1
                nbits += 8
            e = table[acc & ((1 << max_len) - 1)]
            l = e & 0xF
            if nbits < l:
                raise ValueError("truncated VP8L bitstream")
            acc >>= l
            nbits -= l
            s = e >> 4
        if s < 256:
            if rba is not None:  # all three channel codes are 0-bit
                px = rba | (s << 8)
            else:
                px = s << 8
                for st, shift in ((r_st, 16), (b_st, 0), (a_st, 24)):
                    table, max_len, single = st
                    if single is not None:
                        px |= single << shift
                        continue
                    while nbits < max_len and bpos < ndata:
                        acc |= data[bpos] << nbits
                        bpos += 1
                        nbits += 8
                    e = table[acc & ((1 << max_len) - 1)]
                    l = e & 0xF
                    if nbits < l:
                        raise ValueError("truncated VP8L bitstream")
                    acc >>= l
                    nbits -= l
                    px |= (e >> 4) << shift
            out[pos] = px
            if cache is not None:
                cache[((_CACHE_MULT * px) & 0xFFFFFFFF) >> cache_shift] = px
            pos += 1
        elif s < 256 + _NUM_LENGTH:
            _sync_in()
            length = _prefix_value(br, s - 256)
            dcode = _prefix_value(br, grp.d.decode(br))
            _sync_out()
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npx:
                raise ValueError("VP8L backref out of range")
            if cache is None and dist >= length:
                out[pos : pos + length] = out[pos - dist : pos - dist + length]
            else:
                # element-wise: overlapping refs repeat the pattern
                for i in range(length):
                    px = out[pos - dist + i]
                    out[pos + i] = px
                    if cache is not None:
                        cache[((_CACHE_MULT * px) & 0xFFFFFFFF) >> cache_shift] = px
            pos += length
        else:
            if cache is None:
                raise ValueError("cache symbol without color cache")
            out[pos] = cache[s - 256 - _NUM_LENGTH]
            pos += 1
    _sync_in()
    return np.array(out, np.uint32), transforms


# ---------------------------------------------------------------------------
# Inverse transforms (applied in REVERSE order of appearance)
# ---------------------------------------------------------------------------


def _argb_planes(px: np.ndarray):
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack(a, r, g, b):
    return (
        (a.astype(np.uint32) << 24)
        | (r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b.astype(np.uint32)
    )


def _inv_subtract_green(px: np.ndarray) -> np.ndarray:
    a, r, g, b = _argb_planes(px)
    return _pack(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(int8(t) * int8(c)) >> 5 with arithmetic shift (spec)."""
    return (t.astype(np.uint8).view(np.int8).astype(np.int32)
            * c.astype(np.uint8).view(np.int8).astype(np.int32)) >> 5


def _inv_color_transform(px, w, h, size_bits, tile):
    a, r, g, b = _argb_planes(px.reshape(h, w))
    tw = (w + (1 << size_bits) - 1) >> size_bits
    ty = np.arange(h) >> size_bits
    tx = np.arange(w) >> size_bits
    cte = tile.reshape(-1, tw)[np.ix_(ty, tx)]
    g2r = cte & 0xFF          # blue byte of the tile pixel
    g2b = (cte >> 8) & 0xFF   # green byte
    r2b = (cte >> 16) & 0xFF  # red byte
    r = (r + _ct_delta(g2r, g)) & 0xFF
    b = (b + _ct_delta(g2b, g)) & 0xFF
    b = (b + _ct_delta(r2b, r)) & 0xFF
    return _pack(a, r, g, b).ravel()


def _avg2(p1: int, p2: int) -> int:
    return (((p1 ^ p2) & 0xFEFEFEFE) >> 1) + (p1 & p2)


def _select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for sh in (24, 16, 8, 0):
        p = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pl += abs(p - ((l >> sh) & 0xFF))
        pt += abs(p - ((t >> sh) & 0xFF))
    return l if pl < pt else t


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _clamp_add_sub_half(ave: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        d = a - ((tl >> sh) & 0xFF)
        # C truncating division for the signed half-delta
        half = d // 2 if d >= 0 else -((-d) // 2)
        v = a + half
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _inv_predictor(px, w, h, size_bits, tile):
    out = px.astype(np.uint32).copy()
    tw = (w + (1 << size_bits) - 1) >> size_bits
    tile2d = tile.reshape(-1, tw)
    BLACK = 0xFF000000
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = BLACK
        elif y == 0:
            pred = int(out[pos - 1])  # top row: left
        elif x == 0:
            pred = int(out[pos - w])  # left column: top
        else:
            mode = int((tile2d[y >> size_bits, x >> size_bits] >> 8) & 0xFF)
            L = int(out[pos - 1])
            T = int(out[pos - w])
            TL = int(out[pos - w - 1])
            TR = int(out[pos - w + 1])  # rightmost col: wraps to row start (spec)
            if mode == 0:
                pred = BLACK
            elif mode == 1:
                pred = L
            elif mode == 2:
                pred = T
            elif mode == 3:
                pred = TR
            elif mode == 4:
                pred = TL
            elif mode == 5:
                pred = _avg2(_avg2(L, TR), T)
            elif mode == 6:
                pred = _avg2(L, TL)
            elif mode == 7:
                pred = _avg2(L, T)
            elif mode == 8:
                pred = _avg2(TL, T)
            elif mode == 9:
                pred = _avg2(T, TR)
            elif mode == 10:
                pred = _avg2(_avg2(L, TL), _avg2(T, TR))
            elif mode == 11:
                pred = _select(L, T, TL)
            elif mode == 12:
                pred = _clamp_add_sub_full(L, T, TL)
            elif mode == 13:
                pred = _clamp_add_sub_half(_avg2(L, T), TL)
            else:
                raise ValueError(f"bad predictor mode {mode}")
        v = int(out[pos])
        out[pos] = (
            (((v >> 24) + (pred >> 24)) & 0xFF) << 24
            | (((v >> 16) + (pred >> 16)) & 0xFF) << 16
            | (((v >> 8) + (pred >> 8)) & 0xFF) << 8
            | ((v + pred) & 0xFF)
        )
    return out


def _inv_color_indexing(px, w, h, width_bits, palette):
    if width_bits == 0:
        idx = (px >> 8) & 0xFF
        safe = np.where(idx < len(palette), idx, 0)
        return palette[safe]
    bpp = 8 >> width_bits  # bits per bundled pixel
    packed_w = (w + (1 << width_bits) - 1) >> width_bits
    g = ((px >> 8) & 0xFF).reshape(h, packed_w).astype(np.uint32)
    shifts = (np.arange(1 << width_bits) * bpp)[None, None, :]
    idx = (g[:, :, None] >> shifts) & ((1 << bpp) - 1)
    idx = idx.reshape(h, -1)[:, :w]
    safe = np.where(idx < len(palette), idx, 0)
    return palette[safe].ravel()


# ---------------------------------------------------------------------------
# Top-level decode
# ---------------------------------------------------------------------------


def vp8l_decode(payload: bytes) -> np.ndarray:
    """VP8L chunk payload -> image array in the repo's container
    conventions: (H,W) gray / (H,W,3) RGB / (H,W,4) RGBA."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = LsbBitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    check_pixel_budget(w, h)
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    px, transforms = _decode_image_stream(br, w, h, True)
    cur_w = w
    for ttype, p1, tdata in transforms:
        if ttype == 3 and p1:
            cur_w = (cur_w + (1 << p1) - 1) >> p1
    for ttype, p1, tdata in reversed(transforms):
        if ttype == 0:
            px = _inv_predictor(px, cur_w, h, p1, tdata)
        elif ttype == 1:
            px = _inv_color_transform(px, cur_w, h, p1, tdata)
        elif ttype == 2:
            px = _inv_subtract_green(px)
        else:
            px = _inv_color_indexing(px, w, h, p1, tdata)
            cur_w = w
    a, r, g, b = _argb_planes(px.reshape(h, w))
    if bool(np.all(a == 255)):
        if bool(np.all(r == g)) and bool(np.all(g == b)):
            return g.astype(np.uint8)
        return np.stack([r, g, b], axis=2).astype(np.uint8)
    return np.stack([r, g, b, a], axis=2).astype(np.uint8)


def webp_decode(data: bytes) -> np.ndarray:
    """RIFF/WEBP container -> image. VP8L (lossless) decodes here;
    VP8 (lossy intra-frame) is a documented NotImplementedError
    boundary like the inter-frame video codecs."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    pos = 12
    n = min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"VP8L":
            return vp8l_decode(body)
        if cid == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 intra codec) is outside this codec's "
                "scope; lossless VP8L decodes here"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("WebP container carries no VP8L chunk")


# ---------------------------------------------------------------------------
# Encoder (canonical Huffman, SUBTRACT_GREEN, literal-only)
# ---------------------------------------------------------------------------


def _package_merge(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Optimal length-limited code lengths (package-merge)."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    items = sorted((freqs[s], s) for s in syms)
    packages = [(f, (s,)) for f, s in items]
    merged = list(packages)
    for _ in range(max_len - 1):
        paired = [
            (merged[i][0] + merged[i + 1][0], merged[i][1] + merged[i + 1][1])
            for i in range(0, len(merged) - 1, 2)
        ]
        merged = sorted(packages + paired)
    lengths = {s: 0 for s in syms}
    for _, group in merged[: 2 * len(syms) - 2]:
        for s in group:
            lengths[s] += 1
    return lengths


def _code_map(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{symbol: length} -> {symbol: (code, length)}, codes assigned by
    length, then symbol."""
    order = sorted((l, s) for s, l in lengths.items() if l > 0)
    return {s: (c, l) for s, c, l in canonical_codes((s, l) for l, s in order)}


def _write_prefix_code(bw: LsbBitWriter, lengths_by_sym: dict[int, int], alphabet: int):
    used = sorted(s for s, l in lengths_by_sym.items() if l > 0)
    if len(used) == 1 or (
        len(used) == 2 and all(lengths_by_sym[s] == 1 for s in used) and used[1] < 256
    ):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)  # one or two symbols
        wide = used[0] >= 2
        bw.write(wide, 1)  # 8-bit first-symbol field
        bw.write(used[0], 8 if wide else 1)
        if len(used) == 2:
            bw.write(used[1], 8)
        return
    bw.write(0, 1)  # normal form
    # code-length code over the length values actually emitted (all
    # `alphabet` of them — no repeat codes, no max_symbol cap: the
    # simplest legal serialization)
    seq = [lengths_by_sym.get(s, 0) for s in range(alphabet)]
    clc_freq: dict[int, int] = {}
    for l in seq:
        clc_freq[l] = clc_freq.get(l, 0) + 1
    clc_lengths = _package_merge(clc_freq, 7)
    if len(clc_lengths) == 1:
        # a complete 1-entry code needs a partner: give 0 a 1-bit code
        (only,) = clc_lengths
        partner = 0 if only != 0 else 1
        clc_lengths = {only: 1, partner: 1}
    full = [clc_lengths.get(v, 0) for v in range(19)]
    num_codes = max(
        4, max(i for i, v in enumerate(_CLC_ORDER) if full[v] > 0) + 1
    )
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(full[_CLC_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol cap
    clc_codes = _code_map(clc_lengths)
    for l in seq:
        c, ln = clc_codes[l]
        bw.write_code(c, ln)


def vp8l_encode(img: np.ndarray) -> bytes:
    """Image -> VP8L payload: SUBTRACT_GREEN + literal-only canonical
    coding (gray images cost one green code per pixel; red/blue
    collapse to zero-bit single-symbol codes)."""
    if img.dtype != np.uint8:
        raise ValueError(f"vp8l_encode expects uint8, got {img.dtype}")
    if img.ndim == 2:
        r = g = b = img
        a = np.full_like(img, 255)
    elif img.ndim == 3 and img.shape[2] == 3:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        a = np.full_like(r, 255)
    elif img.ndim == 3 and img.shape[2] == 4:
        r, g, b, a = (img[..., i] for i in range(4))
    else:
        raise ValueError(f"bad image shape {img.shape}")
    h, w = g.shape
    if w > 1 << 14 or h > 1 << 14:
        raise ValueError("image too large for VP8L (14-bit dims)")
    # forward subtract-green
    rr = (r.astype(np.int16) - g).astype(np.uint8)
    bb = (b.astype(np.int16) - g).astype(np.uint8)

    bw = LsbBitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0 if bool(np.all(a == 255)) else 1, 1)
    bw.write(0, 3)  # version
    bw.write(1, 1)  # transform present
    bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta-prefix image

    # per coded channel, each pixel's code as an LSB-first word and its
    # length (a single-symbol code costs no bits)
    words = []
    for plane, alphabet in ((g, _NUM_LITERAL + _NUM_LENGTH), (rr, 256), (bb, 256), (a, 256)):
        vals, counts = np.unique(plane, return_counts=True)
        lengths = _package_merge(dict(zip(vals.tolist(), counts.tolist())), 15)
        _write_prefix_code(bw, lengths, alphabet)
        if len(lengths) > 1:
            lsb = {s: (reverse_bits(c, l), l) for s, (c, l) in _code_map(lengths).items()}
            words.append([lsb[v] for v in plane.ravel().tolist()])
    _write_prefix_code(bw, {0: 1}, _NUM_DISTANCE)  # unused distance code
    write = bw.write
    for pixel in zip(*words):
        for word, n in pixel:
            write(word, n)
    return b"\x2f" + bw.finish()


def webp_encode(img: np.ndarray) -> bytes:
    payload = vp8l_encode(img)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
