"""The entropy-coding primitives the image codecs share.

- :func:`lzw_decode` / :func:`lzw_encode`: one variable-width LZW coder.
  GIF89a packs its codes LSB-first over ``min_code_size``-bit literals;
  TIFF 6.0 §13 packs them MSB-first over bytes, with "early change":
  its code width grows one dictionary entry sooner (the libtiff and
  Java ImageIO convention). Both cap the dictionary at 4096 entries.
- :class:`LsbBitWriter` (GIF LZW, WebP lossless) and
  :class:`MsbBitWriter` (TIFF LZW, JPEG, with 0xFF stuffing), and the
  WebP lossless :class:`LsbBitReader`.
- :func:`canonical_codes`: the canonical prefix-code assignment of JPEG
  and of WebP lossless (the DEFLATE convention).
- :func:`inflate`: zlib decompression with an output cap.

Each decoder passes the output size its header implies, so a small
payload that expands far past it raises ``ValueError`` before it can
allocate more.
"""

from __future__ import annotations

import zlib

_MAX_CODES = 1 << 12  # LZW dictionaries never exceed 4096 entries


def lzw_decode(
    data: bytes, min_code_size: int, max_out: int, *, lsb: bool, early_change: bool
) -> bytes:
    """LZW stream -> bytes, up to EOI, ``max_out`` bytes or the end of
    ``data`` (a truncated stream returns what it decoded). Raises
    ``ValueError`` on a code past the dictionary frontier, a non-literal
    first code after a clear, and output past ``max_out``. A full
    dictionary stays as it is until the next clear (GIF's deferred
    clear)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # the dictionary as materialized bytes entries: list indexing and
    # bytes concat stay in C, where the prefix-link/backtrack form costs
    # ~50x more in per-element Python/numpy scalar ops
    literals = [bytes([i]) for i in range(clear)]
    entries = literals + [b"", b""]  # clear/EOI placeholders
    base_len = len(entries)
    append = entries.append

    out = bytearray()
    width = min_code_size + 1
    prev = -1
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while len(out) < max_out:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            if lsb:
                acc |= data[pos] << nbits
            else:
                acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        if lsb:
            code = acc & ((1 << width) - 1)
            acc >>= width
        else:
            code = acc >> nbits
            acc &= (1 << nbits) - 1

        if code == clear:
            del entries[base_len:]
            width = min_code_size + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("LZW: first code after clear must be a literal")
            out += literals[code]
            prev = code
            continue
        next_code = len(entries)
        if code < next_code:
            e = entries[code]
            new = entries[prev] + e[:1]
        elif code == next_code and next_code < _MAX_CODES:
            e = new = entries[prev] + entries[prev][:1]  # KwKwK
        else:
            raise ValueError("LZW code beyond dictionary frontier")
        if next_code < _MAX_CODES:
            append(new)
            if next_code + 1 == (1 << width) - early_change and width < 12:
                width += 1
        out += e
        prev = code

    if len(out) > max_out:
        raise ValueError(f"LZW output overruns its {max_out}-byte budget")
    return bytes(out)


def lzw_encode(data: bytes, min_code_size: int, *, lsb: bool, early_change: bool) -> bytes:
    """Bytes -> LZW stream: a leading clear, a clear whenever the
    dictionary fills, and a closing EOI. The dictionary is keyed by
    ``(prefix_code, byte)``, so a string never has to be built."""
    clear = 1 << min_code_size
    eoi = clear + 1
    writer = LsbBitWriter() if lsb else MsbBitWriter()
    put = writer.write
    # TIFF writers clear two entries before the cap (the spec's 4094), so
    # an early-change decoder never needs a 13-bit code
    limit = _MAX_CODES - 2 * early_change
    width = min_code_size + 1
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    put(clear, width)
    cur = -1
    for byte in data:
        if cur < 0:
            cur = byte
            continue
        key = (cur, byte)
        hit = table.get(key)
        if hit is not None:
            cur = hit
            continue
        put(cur, width)
        table[key] = next_code
        next_code += 1
        # the decoder adds its mirror entry one code LATER, so it widens
        # one emission later than this dictionary grows (compare against
        # (1 << width) + 1), less the one entry of early change
        if next_code == (1 << width) + 1 - early_change and width < 12:
            width += 1
        if next_code >= limit:
            put(clear, width)
            width = min_code_size + 1
            table.clear()
            next_code = eoi + 1
        cur = byte
    if cur >= 0:
        put(cur, width)
    put(eoi, width)
    return writer.finish()


class LsbBitWriter:
    """LSB-first: a value's low bit goes out first, into the low end of
    each byte (GIF LZW, WebP lossless)."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """A prefix code, its MSB first (the DEFLATE convention)."""
        self.write(reverse_bits(code, length), length)

    def finish(self) -> bytes:
        """The bytes written, the last one padded with zero bits."""
        self.write(0, -self.nbits % 8)
        return bytes(self.buf)


class MsbBitWriter:
    """MSB-first: a value's high bit goes out first, into the high end
    of each byte (TIFF LZW, JPEG). With ``stuff`` it writes a JPEG
    entropy-coded segment: a 0x00 follows every 0xFF byte (T.81
    F.1.2.3) and padding is 1-bits."""

    __slots__ = ("buf", "acc", "nbits", "stuff")

    def __init__(self, stuff: bool = False):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0
        self.stuff = stuff

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = self.acc >> self.nbits
            self.buf.append(byte)
            if byte == 0xFF and self.stuff:
                self.buf.append(0x00)
            self.acc &= (1 << self.nbits) - 1

    def write_coded(self, codes, run: int, v: int) -> None:
        """A JPEG coefficient (T.81 F.1.2): the Huffman code of the
        symbol ``run << 4 | size``, then the ``size`` magnitude bits of
        ``v``: v itself when positive, v - 1 when negative."""
        size = abs(v).bit_length()
        self.write(*codes[(run << 4) | size])
        self.write(v if v > 0 else v + (1 << size) - 1, size)

    def flush(self) -> None:
        """Pad to a byte boundary."""
        pad = -self.nbits % 8
        self.write((1 << pad) - 1 if self.stuff else 0, pad)

    def finish(self) -> bytes:
        self.flush()
        return bytes(self.buf)


class LsbBitReader:
    """LSB-first reader over ``data`` (WebP lossless). The prefix-code
    decoders read and advance its slots directly."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated VP8L bitstream")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


def canonical_codes(pairs) -> list[tuple[int, int, int]]:
    """``(symbol, length)`` pairs in code order (length ascending) ->
    ``(symbol, code, length)``: each code is the one before plus one,
    shifted left by the step in length (T.81 Annex C, RFC 1951
    §3.2.2)."""
    out = []
    code = prev = 0
    for sym, length in pairs:
        code <<= length - prev
        prev = length
        out.append((sym, code, length))
        code += 1
    return out


def reverse_bits(code: int, length: int) -> int:
    """The low ``length`` bits of ``code`` in reverse order: how an
    LSB-first stream holds a prefix code whose MSB is read first."""
    return int(f"{code:0{length}b}"[::-1], 2)


def inflate(buf: bytes, max_out: int) -> bytes:
    """zlib stream -> at most ``max_out`` bytes. Raises ``ValueError``
    when the data would overrun ``max_out``, the stream ends before its
    final block or the stream is corrupt."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(buf, max_out + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt zlib stream: {exc}") from exc
    if len(out) > max_out:
        raise ValueError(f"inflated data overruns its {max_out}-byte budget")
    if not d.eof:
        raise ValueError("truncated zlib stream")
    return out
