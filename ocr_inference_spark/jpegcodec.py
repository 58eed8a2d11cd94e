"""Minimal pure-NumPy baseline JPEG (JFIF) codec for media-span payloads.

The reference ingests ``jpg/jpeg/png/tif`` page scans from disk
(reference: cli.py:16, BDRC/data.py:163 via cv2.imread); our engine
carries encoded bytes in the table's ``content:binary`` column and
decodes them inside the Arrow batch. The container has no
OpenCV/Pillow, so — like :mod:`.imgcodec`'s PNG support — this is a
from-scratch implementation of the public ITU-T T.81 / ISO 10918-1
baseline sequential DCT process:

- decoder: 8-bit baseline (SOF0/SOF1) — grayscale or YCbCr with
  4:4:4 / 4:2:0 / 4:2:2 sampling, interleaved or one-scan-per-
  component, restart markers, multiple DQT/DHT segments — and
  progressive (SOF2, spectral selection + successive approximation per
  T.81 §G; cross-validated against Java ImageIO's independent
  implementation, tests/data/java_prog_*.jpg). Lossless/arithmetic
  processes raise a clear error.
- encoder: grayscale or RGB->YCbCr 4:4:4 / 4:2:0 / 4:2:2, Annex-K quantization
  tables scaled by a libjpeg-style quality factor, Annex-K Huffman
  tables, optional restart interval, optional non-interleaved scans;
  plus a progressive (SOF2) encoder with a coarse-to-fine scan script.

Performance posture: entropy (Huffman) decode is inherently bit-serial
so it runs in Python with a 16-bit lookup table per Huffman code; the
numeric heavy lifting (IDCT/FDCT over all blocks, color transform,
upsampling) is batched NumPy einsum over (n_blocks, 8, 8) arrays. The
synthetic bench corpus stays PNG — JPEG is the ingestion-compat path a
real scan archive needs, not the hot loop.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitcodes import MsbBitWriter, canonical_codes
from .imgcodec import check_pixel_budget

# ---------------------------------------------------------------------------
# Shared constants (ITU-T T.81 Annex K — public spec tables)
# ---------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int32,
)
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.1 luminance / K.2 chrominance quantization tables (natural order
# here is zigzag order, as they appear in the spec / DQT payloads).
Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)
Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)

# Annex K.3 standard Huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# 8x8 DCT-II basis matrix: spatial = C.T @ coeff @ C (with orthonormal C)
_k = np.arange(8)
_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.where(
    _k[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8)
)


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficient blocks -> spatial samples."""
    return np.einsum("ki,nkl,lj->nij", _C, coeffs, _C, optimize=True)


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted spatial blocks -> DCT coefficients."""
    return np.einsum("ik,nkl,jl->nij", _C, blocks, _C, optimize=True)


# ---------------------------------------------------------------------------
# Huffman table machinery
# ---------------------------------------------------------------------------


def _code_lengths(table) -> list[tuple[int, int]]:
    """A DHT table (its 16 code counts, then its symbols) -> (symbol,
    length) pairs in code order."""
    lengths = [n for n in range(1, 17) for _ in range(table[n - 1])]
    return list(zip(table[16:], lengths))


def _huffman_codes(table) -> dict[int, tuple[int, int]]:
    """{symbol: (code, length)} of a DHT table, for the encoders."""
    return {s: (c, l) for s, c, l in canonical_codes(_code_lengths(table))}


# lut[next 16 bits] = length << 8 | symbol (0 where no code matches), a
# plain Python list — list indexing beats numpy scalar indexing ~3x in
# the per-symbol hot loop. Cached by table CONTENT: the Annex-K tables
# recur on every page, so a long-lived executor builds each list once
# per process.
_PACKED_LUT_CACHE: dict[bytes, list[int]] = {}


def _packed_lut(table: bytes) -> list[int]:
    lut = _PACKED_LUT_CACHE.get(table)
    if lut is None:
        packed = np.zeros(1 << 16, dtype=np.int32)
        for sym, code, length in canonical_codes(_code_lengths(table)):
            lo = code << (16 - length)
            packed[lo : lo + (1 << (16 - length))] = (length << 8) | sym
        lut = packed.tolist()
        while len(_PACKED_LUT_CACHE) >= 16:
            _PACKED_LUT_CACHE.pop(next(iter(_PACKED_LUT_CACHE)))
        _PACKED_LUT_CACHE[table] = lut
    return lut


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _exif_orientation(payload: bytes) -> int:
    """Orientation (tag 0x0112) from an APP1 Exif payload, 0 if absent.
    Payload = 'Exif\\0\\0' + TIFF header + IFD0 (public Exif 2.x /
    TIFF 6.0 layout)."""
    if not payload.startswith(b"Exif\x00\x00"):
        return 0
    t = payload[6:]
    if t[:2] == b"II":
        bo = "<"
    elif t[:2] == b"MM":
        bo = ">"
    else:
        return 0
    try:
        (ifd_off,) = struct.unpack(bo + "I", t[4:8])
        (n,) = struct.unpack(bo + "H", t[ifd_off : ifd_off + 2])
        for i in range(n):
            off = ifd_off + 2 + i * 12
            tag, typ = struct.unpack(bo + "HH", t[off : off + 4])
            if tag == 0x0112 and typ == 3:
                return struct.unpack(bo + "H", t[off + 8 : off + 10])[0]
    except struct.error:
        return 0
    return 0


def _apply_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Apply an Exif orientation (2-8) the way cv2.imread does by
    default (1/0 = already upright)."""
    if orientation == 2:
        return img[:, ::-1].copy()
    if orientation == 3:
        return img[::-1, ::-1].copy()
    if orientation == 4:
        return img[::-1].copy()
    if orientation == 5:  # transpose
        return np.rot90(img, k=-1)[:, ::-1].copy()
    if orientation == 6:  # 90 deg clockwise
        return np.rot90(img, k=-1).copy()
    if orientation == 7:  # transverse
        return np.rot90(img, k=1)[:, ::-1].copy()
    if orientation == 8:  # 270 deg clockwise
        return np.rot90(img, k=1).copy()
    return img


def jpeg_decode(data: bytes, apply_exif_orientation: bool = True) -> np.ndarray:
    """Decode JPEG bytes -> (H,W) grayscale or (H,W,3) RGB uint8.

    Supported processes: baseline/extended sequential DCT (SOF0/SOF1,
    interleaved or one-scan-per-component) and progressive DCT (SOF2,
    spectral selection + successive approximation per ITU-T T.81 §G).
    Coefficients accumulate across scans into per-component block
    arrays; the image is reconstructed once at EOI (or end of data).
    An APP1 Exif orientation tag is applied by default — matching
    cv2.imread, the reference's loader — so phone/scanner captures come
    out upright; pass ``apply_exif_orientation=False`` for raw pixels."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], bytes] = {}  # (class, id) -> DHT table
    frame = None
    comp_states = None  # id -> per-component coefficient state
    order = None  # frame-ordered component states
    restart_interval = 0
    orientation = 0
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError(f"marker sync lost at byte {pos}")
        # legal 0xFF fill bytes may pad before the marker code
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 == n:
            raise ValueError(f"truncated JPEG: stream ends inside a marker at byte {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        if pos + max(seglen, 2) > n:
            raise ValueError(
                f"truncated JPEG: segment 0xFF{marker:02X} at byte {pos - 2} "
                "runs past the end of the stream"
            )
        payload = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(payload[p : p + 64], dtype=np.uint8).astype(
                        np.int32
                    )
                    p += 64
                else:
                    tbl = np.frombuffer(
                        payload[p : p + 128], dtype=">u2"
                    ).astype(np.int32)
                    p += 128
                qtables[tq] = tbl
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                nv = sum(payload[p + 1 : p + 17])
                if p + 17 + nv > len(payload):
                    raise ValueError("DHT table runs past its segment")
                htables[(tc, th)] = bytes(payload[p + 1 : p + 17 + nv])
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            precision, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            check_pixel_budget(w, h)
            comps = []
            for i in range(ncomp):
                cid, sampling, tq = payload[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": sampling >> 4, "v": sampling & 0x0F, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG process (marker 0xFF{marker:02X}); "
                "only baseline sequential and progressive DCT are implemented"
            )
        elif marker == 0xE1 and orientation == 0:  # APP1: Exif
            orientation = _exif_orientation(payload)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if comp_states is None:
                comp_states, order = _alloc_comp_states(frame)
            pos = _decode_sos(
                data, pos, payload, frame, comp_states, htables, restart_interval
            )
        # APPn/COM and anything else: skipped
    if frame is None or comp_states is None:
        raise ValueError("no SOS marker found")
    unscanned = [st["id"] for st in order if not st["scanned"]]
    if unscanned:
        raise ValueError(f"no scan covered component(s) {unscanned}")
    img = _reconstruct(frame, order, qtables)
    if apply_exif_orientation and orientation > 1:
        img = _apply_orientation(img, orientation)
    return img


def _frame_grid(frame):
    """T.81 A.2 block geometry of a frame, shared by the decoder and both
    encoders. Records the maximum sampling factors and the MCU counts on
    ``frame`` and returns one dict per component (a copy of its
    ``frame["comps"]`` entry) with its MCU-padded block grid ``bw`` x
    ``bh`` (the interleaved layout and the storage order) and its own
    non-interleaved grid ``nbx`` x ``nby`` (A.2.2: ceil(comp_w/8) x
    ceil(comp_h/8)), which single-component scans walk."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["mcus_x"], frame["mcus_y"] = mcus_x, mcus_y
    grid = []
    for c in frame["comps"]:
        comp_w = -(-w * c["h"] // hmax)
        comp_h = -(-h * c["v"] // vmax)
        grid.append(
            {
                **c,
                "bw": mcus_x * c["h"],
                "bh": mcus_y * c["v"],
                "nbx": -(-comp_w // 8),
                "nby": -(-comp_h // 8),
            }
        )
    return grid


def _alloc_comp_states(frame):
    """Per-component coefficient storage over the ``_frame_grid``
    geometry: -> ({id: state}, states in frame order)."""
    states = {}
    order = []
    for st in _frame_grid(frame):
        st.update(
            coef=np.zeros((st["bh"] * st["bw"], 64), dtype=np.int32),
            pred=0,
            dc=None,
            ac=None,
            scanned=False,
        )
        states[st["id"]] = st
        order.append(st)
    return states, order


def _mcu_blocks(comps, mcus_x, mcus_y):
    """Interleaved block order (T.81 A.2.3): MCUs in raster order, and in
    each MCU every component's v x h blocks in raster order. Yields
    (unit, component index, block index into the ``bw``-wide grid)."""
    for unit in range(mcus_x * mcus_y):
        my, mx = divmod(unit, mcus_x)
        for ci, c in enumerate(comps):
            ch, cv, bw = c["h"], c["v"], c["bw"]
            for by in range(cv):
                row = (my * cv + by) * bw + mx * ch
                for bx in range(ch):
                    yield unit, ci, row + bx


def _own_blocks(c):
    """Non-interleaved block order (T.81 A.2.2): the component's own
    ``nbx`` x ``nby`` grid in raster order — sampling factors do not
    apply, and each block is one unit. Yields (unit, 0, block index)."""
    nbx, bw = c["nbx"], c["bw"]
    for unit in range(nbx * c["nby"]):
        by, bx = divmod(unit, nbx)
        yield unit, 0, by * bw + bx


def _scan_blocks(frame, scan):
    """A scan's block walk: interleaved MCUs when it carries several
    components, else the one component's own grid."""
    if len(scan) > 1:
        return _mcu_blocks(scan, frame["mcus_x"], frame["mcus_y"])
    return _own_blocks(scan[0])


def _entropy_segment(data: bytes, pos: int) -> tuple[bytes, int]:
    """Unstuff entropy-coded bytes from ``pos`` up to the next
    non-restart marker; returns (unstuffed bytes, position of the 0xFF
    immediately preceding the marker code). Legal 0xFF fill bytes
    before a marker are consumed (T.81 B.1.1.2), so the caller can
    always probe the marker code at ``pos + 1``. C-speed: bytes.find
    scans for the terminating marker, bytes.replace unstuffs."""
    n = len(data)
    i = pos
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            return data[pos:n].replace(b"\xff\x00", b"\xff"), n
        nxt = data[j + 1]
        if nxt == 0x00:
            i = j + 2
            continue
        if nxt == 0xFF:  # fill byte(s) before a marker: skip the chain
            k = j
            while k + 1 < n and data[k + 1] == 0xFF:
                k += 1
            return data[pos:j].replace(b"\xff\x00", b"\xff"), k
        return data[pos:j].replace(b"\xff\x00", b"\xff"), j


def _decode_sos(data, pos, payload, frame, comp_states, htables, restart_interval):
    """Decode one scan's entropy data into the per-component coefficient
    arrays; returns the position of the marker ending the scan.

    Geometry per T.81 A.2: interleaved scans (ns > 1) walk frame MCUs,
    each component contributing h x v blocks per MCU; single-component
    scans walk the component's OWN ceil(w_c/8) x ceil(h_c/8) block grid
    — sampling factors do not apply (A.2.2) — and the restart interval
    counts blocks. Progressive scans (T.81 §G) carry a spectral band
    [Ss, Se] and successive-approximation bit position (Ah -> Al)."""
    ns = payload[0]
    scan = []
    for i in range(ns):
        cs, tables = payload[1 + 2 * i], payload[2 + 2 * i]
        st = comp_states.get(cs)
        if st is None:
            raise ValueError(f"scan references unknown component {cs}")
        st["dc"] = htables.get((0, tables >> 4))
        st["ac"] = htables.get((1, tables & 0x0F))
        st["pred"] = 0
        st["scanned"] = True
        scan.append(st)
    p = 1 + 2 * ns
    ss, se, a = payload[p], payload[p + 1], payload[p + 2]
    ah, al = a >> 4, a & 0x0F
    progressive = frame["progressive"]
    if not progressive:
        ss, se, ah, al = 0, 63, 0, 0
    elif ss > se or se > 63:
        raise ValueError(f"bad spectral band [{ss}, {se}]")
    if progressive and ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0 (T.81 G.1)")
    if progressive and ss > 0 and ns != 1:
        raise ValueError("progressive AC scans must be non-interleaved (T.81 G.1)")
    for st in scan:
        if ss == 0 and ah == 0 and st["dc"] is None:
            raise ValueError("scan needs an undefined DC Huffman table")
        if (not progressive or ss > 0) and st["ac"] is None:
            raise ValueError("scan needs an undefined AC Huffman table")

    if not progressive:
        return _decode_scan_fast(data, pos, frame, scan, restart_interval)
    if ss > 0:  # progressive AC scans are single-component (checked above)
        return _decode_prog_ac_scan_fast(
            data, pos, scan[0], ss, se, ah, al, restart_interval
        )
    return _decode_prog_dc_scan_fast(data, pos, frame, scan, ah, al, restart_interval)


# hot-loop lookup tables: (1<<n)-1 masks, EXTEND threshold/offset per
# magnitude size (list indexing beats rebuilding the ints per symbol)
_MASKS = [(1 << i) - 1 for i in range(64)]
_EXT_HALF = [0] + [1 << (s - 1) for s in range(1, 17)]
_EXT_SUB = [0] + [1 - (1 << s) for s in range(1, 17)]


def _decode_scan_fast(data, pos, frame, scan, restart_interval):
    """Sequential-mode scan decode (T.81 F.2), the hot ingest path: bit
    state in local variables (no per-symbol method calls), packed-list
    Huffman LUTs (cached per table content), and coefficients
    accumulated as (block, k, value) triples scattered into the
    component arrays once per scan."""
    plans = [(_packed_lut(st["dc"]), _packed_lut(st["ac"]), [], [], []) for st in scan]
    buf, next_pos = _entropy_segment(data, pos)
    nlen = len(buf)
    acc = 0
    nbits = 0
    p = 0
    preds = [0] * len(scan)
    last = 0
    for unit, ci, bid in _scan_blocks(frame, scan):
        if unit != last:
            last = unit
            if restart_interval and unit % restart_interval == 0:
                if next_pos + 1 < len(data) and 0xD0 <= data[next_pos + 1] <= 0xD7:
                    buf, next_pos = _entropy_segment(data, next_pos + 2)
                    nlen = len(buf)
                    acc = 0
                    nbits = 0
                    p = 0
                    preds = [0] * len(scan)
        dc_lut, ac_lut, idxs, ks, vs = plans[ci]
        while nbits < 32:
            acc = (acc << 8) | (buf[p] if p < nlen else 0)
            p += 1
            nbits += 8
        e = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
        if e == 0:
            raise ValueError("invalid DC Huffman code")
        size = e & 0xFF
        nbits -= e >> 8
        if size:
            v = (acc >> (nbits - size)) & _MASKS[size]
            nbits -= size
            if v < _EXT_HALF[size]:
                v += _EXT_SUB[size]
            preds[ci] += v
        if preds[ci]:
            idxs.append(bid)
            ks.append(0)
            vs.append(preds[ci])
        acc &= _MASKS[nbits]
        k = 1
        while k < 64:
            while nbits < 32:
                acc = (acc << 8) | (buf[p] if p < nlen else 0)
                p += 1
                nbits += 8
            e = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
            if e == 0:
                raise ValueError("invalid AC Huffman code")
            nbits -= e >> 8
            s = e & 0x0F
            if s == 0:
                acc &= _MASKS[nbits]
                if (e & 0xF0) == 0xF0:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += (e >> 4) & 0x0F
            if k > 63:
                raise ValueError("AC run overflows block")
            v = (acc >> (nbits - s)) & _MASKS[s]
            nbits -= s
            acc &= _MASKS[nbits]
            if v < _EXT_HALF[s]:
                v += _EXT_SUB[s]
            idxs.append(bid)
            ks.append(k)
            vs.append(v)
            k += 1
    for st, (_dc, _ac, idxs, ks, vs) in zip(scan, plans):
        if idxs:
            st["coef"][np.array(idxs), np.array(ks)] = np.array(vs, dtype=np.int32)
        st["pred"] = 0
    return next_pos


def _decode_prog_dc_scan_fast(data, pos, frame, scan, ah, al, restart_interval):
    """Progressive DC scan (first: Huffman-coded diffs of dc>>Al;
    refinement: one raw bit per block), interleaved or single-component,
    with local bit state. Semantics per T.81 G.1.2.1."""
    plans = []
    for st in scan:
        rows = st.get("rows")
        if rows is None:
            rows = st["rows"] = st["coef"].tolist()
        plans.append((_packed_lut(st["dc"]) if ah == 0 else None, rows))
    buf, next_pos = _entropy_segment(data, pos)
    nlen = len(buf)
    acc = 0
    nbits = 0
    p = 0
    preds = [0] * len(scan)
    last = 0
    for unit, ci, bid in _scan_blocks(frame, scan):
        if unit != last:
            last = unit
            if restart_interval and unit % restart_interval == 0:
                if next_pos + 1 < len(data) and 0xD0 <= data[next_pos + 1] <= 0xD7:
                    buf, next_pos = _entropy_segment(data, next_pos + 2)
                    nlen = len(buf)
                    acc = 0
                    nbits = 0
                    p = 0
                    preds = [0] * len(scan)
        dc_lut, rows = plans[ci]
        if ah == 0:
            while nbits < 32:
                acc = (acc << 8) | (buf[p] if p < nlen else 0)
                p += 1
                nbits += 8
            e = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
            if e == 0:
                raise ValueError("invalid DC Huffman code")
            size = e & 0xFF
            nbits -= e >> 8
            if size:
                v = (acc >> (nbits - size)) & _MASKS[size]
                nbits -= size
                if v < _EXT_HALF[size]:
                    v += _EXT_SUB[size]
                preds[ci] += v
            acc &= _MASKS[nbits]
            rows[bid][0] = preds[ci] << al
        else:
            if nbits == 0:
                acc = (acc << 8) | (buf[p] if p < nlen else 0)
                p += 1
                nbits = 8
            bit = (acc >> (nbits - 1)) & 1
            nbits -= 1
            acc &= _MASKS[nbits]
            if bit:
                rows[bid][0] |= 1 << al
    for st in scan:
        st["pred"] = 0
    return next_pos


def _decode_prog_ac_scan_fast(data, pos, st, ss, se, ah, al, restart_interval):
    """Progressive AC scan (first pass or refinement) with the same
    local-bit-state/packed-LUT treatment as _decode_scan_fast, operating
    IN PLACE on the persistent Python coefficient rows (``st["rows"]``,
    converted from the numpy grid once per image, back once at
    reconstruct — no per-scan tolist/array roundtrip). First passes
    append each written position to a per-block nonzero list; the
    refinement walk then touches only those positions (plus its own
    insort-ed insertions), so a unit inside a long EOB run over a flat
    block costs O(nnz)=O(0) instead of O(63) Python steps, with
    bit-consumption order identical to the positional walk (semantics
    per T.81 G.1.2.2/G.1.2.3)."""
    from bisect import bisect_left, insort

    ac_lut = _packed_lut(st["ac"])
    rows = st.get("rows")
    if rows is None:
        rows = st["rows"] = st["coef"].tolist()
    nzl = st.get("nzl")
    if nzl is None:
        # positions are appended in increasing order inside one first
        # scan; monotonically increasing band starts across scans keep
        # every per-block list globally sorted (tracked via nzl_hi) —
        # an out-of-order scan script flips nzl_dirty and refinement
        # sorts once
        nzl = st["nzl"] = [[] for _ in range(len(rows))]
        st["nzl_hi"] = -1
        st["nzl_dirty"] = False
    refine = ah != 0
    send = se + 1  # absolute band end, exclusive
    if not refine:
        if ss <= st["nzl_hi"]:
            st["nzl_dirty"] = True
        st["nzl_hi"] = max(st["nzl_hi"], se)
    elif st["nzl_dirty"]:
        for lst in nzl:
            lst.sort()
        st["nzl_dirty"] = False
    buf, next_pos = _entropy_segment(data, pos)
    nlen = len(buf)
    acc = 0
    nbits = 0
    p = 0
    eobrun = 0
    p1 = 1 << al
    m1 = -1 << al
    for unit, _, bid in _own_blocks(st):
        if restart_interval and unit and unit % restart_interval == 0:
            if next_pos + 1 < len(data) and 0xD0 <= data[next_pos + 1] <= 0xD7:
                buf, next_pos = _entropy_segment(data, next_pos + 2)
                nlen = len(buf)
                acc = 0
                nbits = 0
                p = 0
                eobrun = 0
        blk = rows[bid]
        k = ss
        if not refine:
            if eobrun > 0:
                eobrun -= 1
                continue
            nz = nzl[bid]
            while k < send:
                while nbits < 32:
                    acc = (acc << 8) | (buf[p] if p < nlen else 0)
                    p += 1
                    nbits += 8
                e = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid AC Huffman code")
                nbits -= e >> 8
                s = e & 0x0F
                r = (e >> 4) & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        acc &= _MASKS[nbits]
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += (acc >> (nbits - r)) & _MASKS[r]
                        nbits -= r
                    acc &= _MASKS[nbits]
                    break
                k += r
                if k >= send:
                    raise ValueError("AC run overflows band")
                v = (acc >> (nbits - s)) & _MASKS[s]
                nbits -= s
                acc &= _MASKS[nbits]
                if v < _EXT_HALF[s]:
                    v += _EXT_SUB[s]
                blk[k] = v << al
                nz.append(k)
                k += 1
            continue
        # refinement scan — positional semantics of the T.81 G.1.2.3
        # walk, executed over the block's sorted nonzero-index list
        nz = nzl[bid]
        if eobrun == 0:
            while k < send:
                while nbits < 32:
                    acc = (acc << 8) | (buf[p] if p < nlen else 0)
                    p += 1
                    nbits += 8
                e = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid AC Huffman code")
                nbits -= e >> 8
                s = e & 0x0F
                r = (e >> 4) & 0x0F
                val = 0
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += (acc >> (nbits - r)) & _MASKS[r]
                            nbits -= r
                        acc &= _MASKS[nbits]
                        break
                    acc &= _MASKS[nbits]
                elif s != 1:
                    raise ValueError("refinement scan with magnitude > 1")
                else:
                    if nbits == 0:
                        acc = (acc << 8) | (buf[p] if p < nlen else 0)
                        p += 1
                        nbits = 8
                    val = p1 if (acc >> (nbits - 1)) & 1 else m1
                    nbits -= 1
                    acc &= _MASKS[nbits]
                # walk: r zero-history positions are skipped, each
                # intervening nonzero consumes one correction bit; the
                # new value lands on the (r+1)-th zero
                i = bisect_left(nz, k)
                n_nz = len(nz)
                while True:
                    nzk = nz[i] if i < n_nz else send
                    if nzk >= send:
                        nzk = send  # nonzeros beyond se are other bands'
                    gap = nzk - k  # positions k..nzk-1 are zeros
                    if r < gap:
                        k += r
                        if val != 0 and k < send:
                            blk[k] = val
                            insort(nz, k)
                        k += 1
                        break
                    r -= gap
                    if nzk >= send:
                        k = send + 1  # ran off the band; val is dropped
                        break
                    c = blk[nzk]
                    if nbits == 0:
                        acc = (acc << 8) | (buf[p] if p < nlen else 0)
                        p += 1
                        nbits = 8
                    bit = (acc >> (nbits - 1)) & 1
                    nbits -= 1
                    acc &= _MASKS[nbits]
                    if bit and (c & p1) == 0:
                        blk[nzk] = c + (p1 if c >= 0 else m1)
                    k = nzk + 1
                    i += 1
        if eobrun > 0:
            i = bisect_left(nz, k)
            while i < len(nz):
                nzk = nz[i]
                if nzk >= send:
                    break
                c = blk[nzk]
                if nbits == 0:
                    acc = (acc << 8) | (buf[p] if p < nlen else 0)
                    p += 1
                    nbits = 8
                bit = (acc >> (nbits - 1)) & 1
                nbits -= 1
                acc &= _MASKS[nbits]
                if bit and (c & p1) == 0:
                    blk[nzk] = c + (p1 if c >= 0 else m1)
                i += 1
            eobrun -= 1
    return next_pos


def _reconstruct(frame, order, qtables):
    """Dequantize + batched IDCT + upsample + color transform."""
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for st in order:
        q = qtables[st["tq"]][UNZIGZAG].reshape(8, 8)
        # progressive scans accumulate into Python-list rows (one
        # tolist at first scan, one array here); sequential scans
        # scatter straight into the numpy grid
        prog_rows = st.get("rows")
        coef = np.array(prog_rows, dtype=np.int32) if prog_rows is not None else st["coef"]
        coefs = coef[:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
        coefs *= q[None, :, :]
        spatial = _idct_blocks(coefs) + 128.0
        bh, bw = st["bh"], st["bw"]
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # upsample to full resolution (sample replication)
        ry, rx = vmax // st["v"], hmax // st["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _quality_scale(tbl: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of a base table (public
    behavior of jpeg_set_quality / jpeg_quality_scaling)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    out = (tbl * scale + 50) // 100
    return np.clip(out, 1, 255).astype(np.int32)


def _quantized_zigzag(plane: np.ndarray, qtbl_zz: np.ndarray) -> np.ndarray:
    """(H,W) float plane (padded to 8s) -> (n_blocks, 64) quantized
    zigzag coefficients, blocks in raster order."""
    ph, pw = plane.shape
    bh, bw = ph // 8, pw // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
    q = qtbl_zz[UNZIGZAG].reshape(8, 8).astype(np.float64)
    quant = np.round(_fdct_blocks(blocks) / q[None, :, :]).astype(np.int32)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _pad_to(plane: np.ndarray, hm: int, wm: int) -> np.ndarray:
    """Edge-replicate ``plane`` up to multiples of ``hm`` rows and ``wm``
    columns."""
    h, w = plane.shape
    ph, pw = -(-h // hm) * hm, -(-w // wm) * wm
    if (ph, pw) == (h, w):
        return plane
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


# luma sampling factors (h, v) per subsampling; chroma is always 1x1
_SAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}


def _planes(img, quality, subsampling, caller, subsamplings=tuple(_SAMPLING)):
    """Validate an encoder input and lay it out as a frame -> (frame,
    comps, qtables). Gray is one component; RGB becomes JFIF Y, Cb, Cr,
    with Y at the luma sampling factors of ``subsampling`` and each
    chroma sample the mean of its h x v luma cell. Every comp carries the
    ``_frame_grid`` geometry, its table id ``tq`` (0 luma, 1 chroma) and
    ``zz``: its quantized zigzag blocks as Python lists (the entropy
    coders index them per coefficient), ``bw``-wide in raster order."""
    if img.dtype != np.uint8:
        raise ValueError(f"{caller} expects uint8, got {img.dtype}")
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"unsupported shape {img.shape}")
    if subsampling not in subsamplings:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if gray:
        hs = vs = 1
        planes = [img.astype(np.float64)]
    else:
        hs, vs = _SAMPLING[subsampling]
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    luma = {"id": 1, "h": hs, "v": vs, "tq": 0}
    chroma = [{"id": cid, "h": 1, "v": 1, "tq": 1} for cid in (2, 3)]
    frame = {"h": img.shape[0], "w": img.shape[1]}
    frame["comps"] = [luma] if gray else [luma, *chroma]
    qtables = [_quality_scale(Q_LUMA, quality), _quality_scale(Q_CHROMA, quality)]
    comps = _frame_grid(frame)
    for c, plane in zip(comps, planes):
        # pad to whole MCUs first, so the subsampled chroma planes land
        # exactly on 8x8 block boundaries too
        plane = _pad_to(plane, 8 * vs, 8 * hs)
        ry, rx = vs // c["v"], hs // c["h"]
        if ry > 1 or rx > 1:
            ph, pw = plane.shape
            plane = plane.reshape(ph // ry, ry, pw // rx, rx).mean(axis=(1, 3))
        c["zz"] = _quantized_zigzag(plane, qtables[c["tq"]]).tolist()
    return frame, comps, qtables


def _segment(marker: int, payload: bytes) -> bytes:
    """0xFF, the marker code, a big-endian length counting itself, and
    the payload."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _frame_header(sof, frame, comps, qtables, dht, exif_orientation=0) -> bytearray:
    """SOI, JFIF APP0, an optional Exif APP1 carrying the orientation
    tag, one DQT per table id in use, SOFn, then the ``dht`` tables
    (class, id, bits, vals) whose id is in use."""
    used = sorted({c["tq"] for c in comps})
    out = bytearray(b"\xff\xd8")
    out += _segment(0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00")
    if exif_orientation:
        tiff = (
            b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
            + struct.pack("<HHI", 0x0112, 3, 1)
            + struct.pack("<HH", exif_orientation, 0)
            + struct.pack("<I", 0)
        )
        out += _segment(0xE1, b"Exif\x00\x00" + tiff)
    for tq in used:
        out += _segment(0xDB, bytes([tq]) + bytes(qtables[tq].tolist()))
    sof_payload = struct.pack(">BHHB", 8, frame["h"], frame["w"], len(comps))
    for c in comps:
        sof_payload += bytes([c["id"], c["h"] << 4 | c["v"], c["tq"]])
    out += _segment(sof, sof_payload)
    for tc, th, bits, vals in dht:
        if th in used:
            out += _segment(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))
    return out


def _sos(scan, ss=0, se=63, a=0, ta=None) -> bytes:
    """SOS header for the ``scan`` components: DC table ``tq``, AC table
    ``ta`` (default: ``tq``), spectral band [ss, se] and the successive
    approximation byte ``a`` = Ah << 4 | Al."""
    hdr = bytes([len(scan)])
    for c in scan:
        hdr += bytes([c["id"], c["tq"] << 4 | (c["tq"] if ta is None else ta)])
    return _segment(0xDA, hdr + bytes([ss, se, a]))


# Annex K standard tables as DHT specs: (class, id, bits, vals)
_BASELINE_DHT = (
    (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
    (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
    (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
    (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
)


def jpeg_encode(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    interleaved: bool = True,
    exif_orientation: int = 0,
) -> bytes:
    """Encode (H,W) grayscale or (H,W,3) RGB uint8 as baseline JFIF.

    ``exif_orientation`` (1-8) writes an APP1 Exif segment carrying the
    orientation tag — the metadata phone/scanner captures ship, which
    the decoder applies by default like cv2.imread.

    ``subsampling``: '444' (one block of each component per MCU),
    '420' (16x16 MCU: 4 Y blocks + 2x2-averaged Cb, Cr — the common
    camera/scanner layout) or '422' (16x8 MCU: 2 Y blocks +
    half-width chroma — the classic scanner/video layout).
    ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker every that many MCUs (predictors reset,
    bitstream byte-aligned) — the error-resilience feature real scan
    archives carry. ``interleaved=False`` writes one SOS per component
    (legal baseline per T.81 A.2.2; each scan walks the component's own
    ceil(w_c/8) x ceil(h_c/8) grid) — the multi-scan sequential layout
    some scanner firmware emits."""
    frame, comps, qtables = _planes(img, quality, subsampling, "jpeg_encode")
    out = _frame_header(0xC0, frame, comps, qtables, _BASELINE_DHT, exif_orientation)
    if restart_interval > 0:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    codes = {(tc, th): _huffman_codes([*bits, *vals]) for tc, th, bits, vals in _BASELINE_DHT}
    if interleaved or len(comps) == 1:
        scans = [(comps, _mcu_blocks(comps, frame["mcus_x"], frame["mcus_y"]))]
    else:
        # one scan per component over its own grid: the restart
        # interval counts blocks, and RSTn numbering restarts per scan
        scans = [([c], _own_blocks(c)) for c in comps]
    for scan, blocks in scans:
        out += _sos(scan)
        tables = [(c["zz"], codes[0, c["tq"]], codes[1, c["tq"]]) for c in scan]
        writer = MsbBitWriter(stuff=True)
        preds = [0] * len(scan)
        last = rst = 0
        for unit, ci, bid in blocks:
            if unit != last:
                last = unit
                if restart_interval and unit % restart_interval == 0:
                    writer.flush()  # byte-align before the marker
                    writer.buf += bytes([0xFF, 0xD0 + (rst % 8)])
                    rst += 1
                    preds = [0] * len(scan)
            zz, dc_t, ac_t = tables[ci]
            preds[ci] = _write_block(zz[bid], writer, dc_t, ac_t, preds[ci])
        writer.flush()
        out += writer.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _write_block(blk, writer, dc_codes, ac_codes, pred):
    """One sequential-mode block (T.81 F.1.2): the DC difference from
    ``pred``, then the run/size-coded AC values; -> the block's DC."""
    dc = blk[0]
    diff = dc - pred
    writer.write_coded(dc_codes, 0, diff)
    last_nz = 63
    while last_nz > 0 and blk[last_nz] == 0:
        last_nz -= 1
    run = 0
    for k in range(1, last_nz + 1):
        v = blk[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            writer.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        writer.write_coded(ac_codes, run, v)
        run = 0
    if last_nz < 63:  # no EOB when the final coefficient is non-zero
        writer.write(*ac_codes[0x00])
    return dc


# ---------------------------------------------------------------------------
# Progressive (SOF2) encoder — spectral selection + successive
# approximation per T.81 §G.1.2. Used to produce real progressive
# streams for the decoder (the common in-the-wild JPEG flavor).
# ---------------------------------------------------------------------------

# Flat AC Huffman table covering ALL 256 symbols (128 at 8 bits, 128 at
# 9; canonical, no all-ones code) — progressive AC scans need EOBn
# symbols (r<<4 for r>0) that the Annex-K baseline tables do not carry.
PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0, 0]
PROG_AC_VALS = list(range(256))


class _ProgACState:
    """Scan-level EOB-run accumulator (+ the correction bits buffered
    against it in refinement scans)."""

    __slots__ = ("eobrun", "bits")

    def __init__(self):
        self.eobrun = 0
        self.bits: list[int] = []


def _flush_eobrun(writer, ac_codes, state):
    """Emit the pending EOBn code (+ appended correction bits)."""
    n = state.eobrun
    if n == 0:
        return
    r = n.bit_length() - 1
    writer.write(*ac_codes[r << 4])
    if r:
        writer.write(n - (1 << r), r)
    for b in state.bits:
        writer.write(b, 1)
    state.eobrun = 0
    state.bits = []


def _encode_ac_first(writer, ac_codes, band, al, state):
    """First AC scan of a band: magnitudes point-transformed by 2^Al
    (sign-preserving truncation), run-length + EOB-run coded."""
    t = [(abs(v) >> al) * (1 if v > 0 else -1) for v in band]
    last = -1
    for i, x in enumerate(t):
        if x:
            last = i
    if last == -1:
        state.eobrun += 1
        if state.eobrun == 0x7FFF:
            _flush_eobrun(writer, ac_codes, state)
        return
    _flush_eobrun(writer, ac_codes, state)
    r = 0
    for i in range(last + 1):
        x = t[i]
        if x == 0:
            r += 1
            continue
        while r > 15:
            writer.write(*ac_codes[0xF0])
            r -= 16
        writer.write_coded(ac_codes, r, x)
        r = 0
    if last < len(t) - 1:
        state.eobrun += 1
        if state.eobrun == 0x7FFF:
            _flush_eobrun(writer, ac_codes, state)


def _encode_ac_refine(writer, ac_codes, band, al, state):
    """AC refinement scan: newly-significant coefficients as (run,1)
    codes whose run counts only zero-history positions; one correction
    bit per already-nonzero coefficient, buffered and emitted after the
    next symbol (or folded into the EOB run) — the emission discipline
    the decoder's interleaved walk expects."""
    a = [abs(v) >> al for v in band]
    eob = -1
    for i, x in enumerate(a):
        if x == 1:
            eob = i
    r = 0
    br: list[int] = []
    for i, x in enumerate(a):
        if x == 0:
            r += 1
            continue
        # break long zero runs only while a newly-significant coefficient
        # is still ahead; beyond it they fold into the EOB run
        while r > 15 and i <= eob:
            _flush_eobrun(writer, ac_codes, state)
            writer.write(*ac_codes[0xF0])
            r -= 16
            for b in br:
                writer.write(b, 1)
            br = []
        if x > 1:
            br.append(x & 1)
            continue
        _flush_eobrun(writer, ac_codes, state)
        writer.write(*ac_codes[(r << 4) | 1])
        writer.write(1 if band[i] > 0 else 0, 1)
        for b in br:
            writer.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        state.eobrun += 1
        state.bits.extend(br)
        if state.eobrun == 0x7FFF:
            _flush_eobrun(writer, ac_codes, state)


# Annex-K DC tables and the flat AC table (id 0) that every component shares
_PROG_DHT = (
    (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
    (1, 0, PROG_AC_BITS, PROG_AC_VALS),
    (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
)


def jpeg_encode_progressive(
    img: np.ndarray, quality: int = 90, subsampling: str = "444"
) -> bytes:
    """Encode (H,W) grayscale or (H,W,3) RGB uint8 as progressive JFIF
    (SOF2), 4:4:4 or 4:2:0.

    Scan script (the common coarse-to-fine shape): interleaved DC first
    scan at Al=1; per component AC bands 1-5 then 6-63 at Al=1; per
    component AC refinement 1-63 (Ah=1 -> Al=0); interleaved DC
    refinement. AC scans are non-interleaved over each component's own
    ceil(w_c/8) x ceil(h_c/8) grid per T.81 A.2.2."""
    frame, comps, qtables = _planes(
        img, quality, subsampling, "jpeg_encode_progressive", ("444", "420")
    )
    out = _frame_header(0xC2, frame, comps, qtables, _PROG_DHT)
    codes = {(tc, th): _huffman_codes([*bits, *vals]) for tc, th, bits, vals in _PROG_DHT}
    ac_codes = codes[1, 0]
    mcus = (comps, frame["mcus_x"], frame["mcus_y"])

    # DC first scan, interleaved, Al=1
    writer = MsbBitWriter(stuff=True)
    preds = [0] * len(comps)
    for _, ci, bid in _mcu_blocks(*mcus):
        c = comps[ci]
        dc = c["zz"][bid][0] >> 1
        diff = dc - preds[ci]
        preds[ci] = dc
        writer.write_coded(codes[0, c["tq"]], 0, diff)
    writer.flush()
    out += _sos(comps, 0, 0, 0x01, ta=0) + writer.buf

    # AC bands 1-5 and 6-63 at Al=1, then the AC refinement to full
    # precision (Ah=1 -> Al=0), each scan over one component's own grid
    # (the padded blocks beyond nbx/nby carry no AC)
    for ss, se, a, encode in (
        (1, 5, 0x01, _encode_ac_first),
        (6, 63, 0x01, _encode_ac_first),
        (1, 63, 0x10, _encode_ac_refine),
    ):
        for c in comps:
            writer = MsbBitWriter(stuff=True)
            state = _ProgACState()
            for _, _, bid in _own_blocks(c):
                encode(writer, ac_codes, c["zz"][bid][ss : se + 1], a & 0x0F, state)
            _flush_eobrun(writer, ac_codes, state)
            writer.flush()
            out += _sos([c], ss, se, a, ta=0) + writer.buf

    # DC refinement, interleaved (raw bits, no Huffman)
    writer = MsbBitWriter(stuff=True)
    for _, ci, bid in _mcu_blocks(*mcus):
        writer.write(comps[ci]["zz"][bid][0] & 1, 1)
    writer.flush()
    out += _sos(comps, 0, 0, 0x10, ta=0) + writer.buf

    out += b"\xff\xd9"
    return bytes(out)
