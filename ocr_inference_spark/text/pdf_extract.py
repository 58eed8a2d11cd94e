"""PDF layout parse: text + image extraction into ordered spans.

The north rule names "PDF/layout parse" beside HTML boilerplate strip
as the main-content extraction surface. This module is the PDF leg of
that contract: PDF bytes in, ordered ``(kind, text, media_ref)`` spans
out — the same span schema the OCR pipeline and the HTML extractor
emit, so all three ingestion paths feed one downstream schema.

Everything here is the public PDF 1.7 file format (ISO 32000 /the
Adobe PDF Reference): object syntax (dictionaries, arrays, literal
and hex strings with escapes, names with #xx codes, indirect
references), the cross-reference table + trailer, page-tree walking,
FlateDecode content streams (RFC 1951 zlib, the same public codec the
PNG/TIFF paths use), and the content-stream text state machine
(BT/ET, Tf, Td/TD/Tm/T*, Tj/'/"/TJ) plus image XObject placement
(cm + Do).

LAYOUT parse, not stream-order echo: text shows where its matrix puts
it, and real-world generators emit blocks in arbitrary stream order —
so spans are ordered by PAGE GEOMETRY (top-to-bottom, left-to-right
on each page; pages in tree order), not by the order operators appear
in the content stream. The synthetic corpus deliberately shuffles its
stream order to pin this.

Robustness: the parser is scan-based and tolerant — a broken or
absent xref table falls back to scanning ``N G obj`` headers; unknown
operators are skipped; a truncated file yields the spans parsed so
far rather than raising (the sampler wraps remaining errors into
failure rows, like the media kernels).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..worker import map_rows

_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"

    def __eq__(self, other):
        return isinstance(other, Ref) and other.num == self.num

    def __hash__(self):
        return hash(("Ref", self.num))


class Stream:
    __slots__ = ("meta", "raw")

    def __init__(self, meta: dict, raw: bytes):
        self.meta = meta
        self.raw = raw

    def data(self, resolve) -> bytes:
        filt = resolve(self.meta.get("Filter"))
        filters = filt if isinstance(filt, list) else [filt] if filt else []
        out = self.raw
        for f in filters:
            if f == "FlateDecode":
                out = zlib.decompress(out)
            elif f is None:
                continue
            else:
                raise ValueError(f"unsupported PDF stream filter {f!r}")
        return out


# ---------------------------------------------------------------------------
# Object lexer (ISO 32000 §7.3)
# ---------------------------------------------------------------------------


def _skip_ws(buf: bytes, pos: int) -> int:
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment to EOL
            while pos < n and buf[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


def _parse_name(buf: bytes, pos: int) -> tuple[str, int]:
    pos += 1  # '/'
    out = bytearray()
    n = len(buf)
    while pos < n and buf[pos] not in _WS and buf[pos] not in _DELIM:
        c = buf[pos]
        if c == 0x23 and pos + 2 < n:  # #xx hex escape in names
            out.append(int(buf[pos + 1 : pos + 3], 16))
            pos += 3
        else:
            out.append(c)
            pos += 1
    return out.decode("latin-1"), pos


_STR_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t", ord("b"): b"\b",
    ord("f"): b"\x0c", ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _parse_literal_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    pos += 1  # '('
    depth = 1
    out = bytearray()
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = buf[pos]
            if e in _STR_ESCAPES:
                out += _STR_ESCAPES[e]
                pos += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                oct_digits = bytearray()
                while pos < n and len(oct_digits) < 3 and 0x30 <= buf[pos] <= 0x37:
                    oct_digits.append(buf[pos])
                    pos += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                pos += 1
                if e == 0x0D and pos < n and buf[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
        out.append(c)
        pos += 1
    return bytes(out), pos  # tolerant: unterminated string


def _parse_hex_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    end = buf.find(b">", pos + 1)
    if end < 0:
        end = len(buf)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", buf[pos + 1 : end])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")), end + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


def _parse_obj(buf: bytes, pos: int):
    """-> (value, new_pos). Values: dict/list/str(name)/bytes(string)/
    int/float/bool/None/Ref/Stream."""
    pos = _skip_ws(buf, pos)
    if pos >= len(buf):
        raise ValueError("truncated PDF object")
    c = buf[pos]
    if buf.startswith(b"<<", pos):
        pos += 2
        d: dict = {}
        while True:
            pos = _skip_ws(buf, pos)
            if buf.startswith(b">>", pos):
                pos += 2
                break
            if pos >= len(buf):
                break  # tolerant
            key, pos = _parse_name(buf, pos)
            val, pos = _parse_obj(buf, pos)
            d[key] = val
        pos = _skip_ws(buf, pos)
        if buf.startswith(b"stream", pos):
            pos += 6
            if buf.startswith(b"\r\n", pos):
                pos += 2
            elif pos < len(buf) and buf[pos : pos + 1] in (b"\n", b"\r"):
                pos += 1
            end = buf.find(b"endstream", pos)
            if end < 0:
                end = len(buf)
            raw = buf[pos:end]
            # the Length key is authoritative when it is a plain int
            ln = d.get("Length")
            if isinstance(ln, int) and ln <= len(raw):
                raw = raw[:ln]
            else:
                raw = raw.rstrip(b"\r\n")
            return Stream(d, raw), end + len(b"endstream")
        return d, pos
    if c == 0x5B:  # [
        pos += 1
        arr = []
        while True:
            pos = _skip_ws(buf, pos)
            if pos >= len(buf) or buf[pos] == 0x5D:
                pos = min(pos + 1, len(buf))
                break
            v, pos = _parse_obj(buf, pos)
            arr.append(v)
        return arr, pos
    if c == 0x2F:  # /
        return _parse_name(buf, pos)
    if c == 0x28:  # (
        return _parse_literal_string(buf, pos)
    if c == 0x3C:  # < hex string
        return _parse_hex_string(buf, pos)
    m = _NUM_RE.match(buf, pos)
    if m:
        # lookahead for an indirect reference: <num> <gen> R
        m2 = re.match(rb"(\d+)\s+\d+\s+R\b", buf[pos:])
        if m2:
            return Ref(int(m2.group(1))), pos + m2.end()
        tok = m.group(0)
        pos = m.end()
        return (float(tok) if b"." in tok else int(tok)), pos
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if buf.startswith(lit, pos):
            return val, pos + len(lit)
    raise ValueError(f"bad PDF token at {pos}: {buf[pos:pos+8]!r}")


# ---------------------------------------------------------------------------
# Document model
# ---------------------------------------------------------------------------


def _load_via_xref(data: bytes):
    """Classic cross-reference-table loader (ISO 32000 §7.5.4): follow
    startxref -> xref subsections -> trailer (+/Prev chain). Returns
    None when absent/broken (the scan fallback takes over). The xref
    path matters once streams carry binary payloads: a JPEG body can
    contain accidental ``N 0 obj`` byte patterns that a whole-file
    scan would misparse."""
    sx = data.rfind(b"startxref")
    if sx < 0:
        return None
    m = re.match(rb"startxref\s+(\d+)", data[sx:])
    if not m:
        return None
    objects: dict[int, object] = {}
    trailer: dict = {}
    off = int(m.group(1))
    visited: set[int] = set()
    while off not in visited:
        visited.add(off)
        if not data.startswith(b"xref", off):
            return None  # xref *streams* (PDF 1.5) -> scan fallback
        pos = off + 4
        while True:
            if re.match(rb"\s*trailer", data[pos : pos + 16]):
                break
            mh = re.match(rb"\s*(\d+)\s+(\d+)[ ]*(?:\r\n|\r|\n)", data[pos:])
            if not mh:
                return None
            start, count = int(mh.group(1)), int(mh.group(2))
            pos += mh.end()
            for i in range(count):
                me = re.match(rb"(\d{10}) (\d{5}) ([nf])", data[pos : pos + 20])
                if not me:
                    return None
                if me.group(3) == b"n":
                    num = start + i
                    if num not in objects:  # newest xref section wins
                        oo = _skip_ws(data, int(me.group(1)))
                        mo = _OBJ_HEAD_RE.match(data, oo)
                        if mo and int(mo.group(1)) == num:
                            try:
                                objects[num], _ = _parse_obj(data, mo.end())
                            except ValueError:
                                pass
                pos += 20
        t = data.find(b"trailer", pos)
        if t < 0:
            break
        try:
            tdict, _ = _parse_obj(data, t + len(b"trailer"))
        except ValueError:
            break
        if isinstance(tdict, dict):
            for k, v in tdict.items():
                trailer.setdefault(k, v)
            prev = tdict.get("Prev")
            if isinstance(prev, int):
                off = prev
                continue
        break
    if "Root" not in trailer or not objects:
        return None
    return objects, trailer


def _load_objects(data: bytes) -> tuple[dict[int, object], dict]:
    """Object table + trailer: the real xref table when valid (robust
    against binary stream payloads), else a whole-file ``N G obj``
    scan — what real-world repair-mode parsers do for broken xrefs."""
    via_xref = _load_via_xref(data)
    if via_xref is not None:
        return via_xref
    objects: dict[int, object] = {}
    for m in _OBJ_HEAD_RE.finditer(data):
        num = int(m.group(1))
        try:
            val, _ = _parse_obj(data, m.end())
        except ValueError:
            continue
        objects[num] = val
    trailer: dict = {}
    t = data.rfind(b"trailer")
    if t >= 0:
        try:
            trailer, _ = _parse_obj(data, t + len(b"trailer"))
        except ValueError:
            trailer = {}
    if "Root" not in trailer:
        # fallback: any object with /Type /Catalog
        for num, v in objects.items():
            if isinstance(v, dict) and v.get("Type") == "Catalog":
                trailer = {"Root": Ref(num)}
                break
    return objects, trailer


def _resolver(objects: dict[int, object]):
    def resolve(v):
        seen = 0
        while isinstance(v, Ref):
            v = objects.get(v.num)
            seen += 1
            if seen > 64:
                raise ValueError("PDF reference cycle")
        return v

    return resolve


def _walk_pages(objects, resolve, node, out: list, depth=0) -> None:
    node = resolve(node)
    if not isinstance(node, dict) or depth > 64:
        return
    t = node.get("Type")
    if t == "Pages":
        for kid in resolve(node.get("Kids")) or []:
            _walk_pages(objects, resolve, kid, out, depth + 1)
    elif t == "Page":
        out.append(node)


# ---------------------------------------------------------------------------
# Content-stream interpreter (text state machine, ISO 32000 §9.4)
# ---------------------------------------------------------------------------

def _decode_pdf_text(raw: bytes) -> str:
    # our corpus and fixtures are ASCII/latin-1 single-byte encodings
    return raw.decode("latin-1")


def _content_runs(content: bytes, xobject_images: set) -> list[tuple]:
    """Content stream -> [(y, x, kind, payload)] runs. Text position
    comes from Td/TD/Tm/T*; image position from the current cm
    translation at Do time."""
    runs: list[tuple] = []
    pos = 0
    n = len(content)
    stack: list = []  # operand stack
    tx = ty = 0.0  # text line position
    leading = 0.0
    cm_e = cm_f = 0.0
    in_text = False

    def show(raw: bytes) -> None:
        text = _decode_pdf_text(raw)
        if text:
            runs.append((ty, tx, "text", text))

    while pos < n:
        pos = _skip_ws(content, pos)
        if pos >= n:
            break
        c = content[pos]
        if c == 0x28:  # literal string
            s, pos = _parse_literal_string(content, pos)
            stack.append(s)
            continue
        if content.startswith(b"<<", pos):
            d, pos = _parse_obj(content, pos)
            stack.append(d)
            continue
        if c == 0x3C:
            s, pos = _parse_hex_string(content, pos)
            stack.append(s)
            continue
        if c == 0x5B:
            arr, pos = _parse_obj(content, pos)
            stack.append(arr)
            continue
        if c == 0x2F:
            name, pos = _parse_name(content, pos)
            stack.append(("name", name))
            continue
        m = _NUM_RE.match(content, pos)
        if m:
            tok = m.group(0)
            stack.append(float(tok) if b"." in tok else int(tok))
            pos = m.end()
            continue
        m = re.match(rb"[A-Za-z'\"*]+", content[pos:])
        if not m:
            pos += 1  # unknown byte — skip
            continue
        op = m.group(0).decode("latin-1")
        pos += m.end()

        if op == "BT":
            in_text = True
            tx = ty = 0.0
        elif op == "ET":
            in_text = False
        elif op in ("Td", "TD") and len(stack) >= 2:
            dy = stack[-1]
            dx = stack[-2]
            if isinstance(dx, (int, float)) and isinstance(dy, (int, float)):
                tx += dx
                ty += dy
                if op == "TD":
                    leading = -float(dy)
        elif op == "Tm" and len(stack) >= 6:
            e, f = stack[-2], stack[-1]
            if isinstance(e, (int, float)) and isinstance(f, (int, float)):
                tx, ty = float(e), float(f)
        elif op == "T*":
            ty -= leading
        elif op == "TL" and stack:
            if isinstance(stack[-1], (int, float)):
                leading = float(stack[-1])
        elif op == "Tj" and stack and isinstance(stack[-1], bytes):
            if in_text:
                show(stack[-1])
        elif op in ("'", '"'):
            if in_text and stack and isinstance(stack[-1], bytes):
                ty -= leading
                show(stack[-1])
        elif op == "TJ" and stack and isinstance(stack[-1], list):
            if in_text:
                parts = [x for x in stack[-1] if isinstance(x, bytes)]
                show(b"".join(parts))
        elif op == "cm" and len(stack) >= 6:
            e, f = stack[-2], stack[-1]
            if isinstance(e, (int, float)) and isinstance(f, (int, float)):
                cm_e, cm_f = float(e), float(f)
        elif op == "Do" and stack and isinstance(stack[-1], tuple):
            name = stack[-1][1]
            if name in xobject_images:
                runs.append((cm_f, cm_e, "media", name))
        elif op == "Q":
            cm_e = cm_f = 0.0
        if op[0].isalpha() or op in ("'", '"', "T*"):
            stack.clear()  # operators consume their operands
    return runs


# ---------------------------------------------------------------------------
# Public extraction surface
# ---------------------------------------------------------------------------


def pdf_extract_media(data: bytes) -> dict[str, "np.ndarray"]:
    """Embedded image XObjects -> {resource_name: gray array}: the
    scanned-book PDF workflow. FlateDecode rasters decompress
    bit-exact; DCTDecode bodies run through this repo's own JPEG
    decoder (jpegcodec) — the whole-container analog of the pages
    sidecar, so a PDF's images can feed the OCR pipeline directly."""
    import numpy as np

    objects, trailer = _load_objects(data)
    resolve = _resolver(objects)
    root = resolve(trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF has no document catalog")
    pages: list[dict] = []
    _walk_pages(objects, resolve, root.get("Pages"), pages)
    out: dict[str, np.ndarray] = {}
    for page in pages:
        res = resolve(page.get("Resources")) or {}
        xo = resolve(res.get("XObject")) or {}
        for name, ref in (xo.items() if isinstance(xo, dict) else []):
            obj = resolve(ref)
            if not isinstance(obj, Stream) or obj.meta.get("Subtype") != "Image":
                continue
            meta = obj.meta
            iw = resolve(meta.get("Width"))
            ih = resolve(meta.get("Height"))
            filt = resolve(meta.get("Filter"))
            filters = filt if isinstance(filt, list) else [filt] if filt else []
            if "DCTDecode" in filters:
                from ..jpegcodec import jpeg_decode

                out[name] = jpeg_decode(obj.raw)
                continue
            if resolve(meta.get("BitsPerComponent")) != 8 or resolve(
                meta.get("ColorSpace")
            ) != "DeviceGray":
                raise ValueError(
                    "only 8-bit DeviceGray / DCTDecode image XObjects decode here"
                )
            raw = obj.data(resolve)
            if len(raw) < iw * ih:
                raise ValueError("image XObject raster short")
            out[name] = np.frombuffer(raw[: iw * ih], np.uint8).reshape(ih, iw)
    return out


def pdf_extract_spans(data: bytes) -> list[tuple[str, str | None, str | None]]:
    """PDF bytes -> ordered main-content spans [(kind, text, media_ref)]:
    pages in tree order, runs on each page in GEOMETRY order (top-down,
    then left-right) regardless of content-stream order."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    objects, trailer = _load_objects(data)
    resolve = _resolver(objects)
    root = resolve(trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF has no document catalog")
    pages: list[dict] = []
    _walk_pages(objects, resolve, root.get("Pages"), pages)
    if not pages:
        raise ValueError("PDF page tree is empty or unreachable")
    spans: list[tuple[str, str | None, str | None]] = []
    for page in pages:
        # image XObject names declared by this page's resources
        res = resolve(page.get("Resources")) or {}
        xo = resolve(res.get("XObject")) or {}
        images = set()
        for name, ref in (xo.items() if isinstance(xo, dict) else []):
            obj = resolve(ref)
            meta = obj.meta if isinstance(obj, Stream) else obj
            if isinstance(meta, dict) and meta.get("Subtype") == "Image":
                images.add(name)
        contents = resolve(page.get("Contents"))
        chunks = contents if isinstance(contents, list) else [contents]
        blob = b"\n".join(
            s.data(resolve)
            for s in (resolve(cnk) for cnk in chunks)
            if isinstance(s, Stream)
        )
        runs = _content_runs(blob, images)
        runs.sort(key=lambda r: (-r[0], r[1]))  # top-down, left-right
        for _, _, kind, payload in runs:
            if kind == "text":
                spans.append(("text", payload, None))
            else:
                spans.append(("media", None, payload))
    return spans


# ---------------------------------------------------------------------------
# Writer (for fixtures and the deterministic corpus)
# ---------------------------------------------------------------------------


def pdf_write(
    page_items: list[list[tuple]],
    compress: bool = False,
) -> bytes:
    """Minimal spec-conformant writer with a real xref table. Each page
    is a list of items in CONTENT-STREAM order:
    ``('text', s, x, y)`` or ``('image', name, x, y[, payload])``.

    ``payload`` (optional) embeds REAL raster data in the XObject:
    a ``(gray_array, 'flate'|'dct')`` tuple — FlateDecode carries the
    zlib'd raw rows (bit-exact), DCTDecode carries a baseline JPEG
    from jpegcodec (the classic scanned-book PDF layout). Without a
    payload a 1x1 stub is embedded (geometry fixtures)."""
    objects: list[bytes] = []  # bodies, object number = index+1

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    def image_body(payload) -> bytes:
        if payload is None:
            return (
                b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
                b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                b"/Length 1 >>\nstream\n\xff\nendstream"
            )
        arr, codec = payload
        ih, iw = arr.shape[:2]
        if codec == "flate":
            data = zlib.compress(arr.tobytes())
            filt = b"/Filter /FlateDecode "
        elif codec == "dct":
            from ..jpegcodec import jpeg_encode

            data = jpeg_encode(arr, quality=95)
            filt = b"/Filter /DCTDecode "
        else:
            raise ValueError(f"unknown embedded-image codec {codec!r}")
        return (
            f"<< /Type /XObject /Subtype /Image /Width {iw} /Height {ih} "
            f"/ColorSpace /DeviceGray /BitsPerComponent 8 ".encode("latin-1")
            + filt
            + f"/Length {len(data)} >>".encode("latin-1")
            + b"\nstream\n" + data + b"\nendstream"
        )

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_refs: list[int] = []
    pages_num = None  # patched below
    kids_bodies = []
    for items in page_items:
        ops = []
        xobjects: dict[str, int] = {}
        for item in items:
            if item[0] == "text":
                _, s, x, y = item
                esc = (
                    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
                )
                ops.append(
                    f"BT /F1 12 Tf {x} {y} Td ({esc}) Tj ET".encode("latin-1")
                )
            else:
                name, x, y = item[1], item[2], item[3]
                payload = item[4] if len(item) > 4 else None
                if name not in xobjects:
                    xobjects[name] = add(image_body(payload))
                ops.append(f"q 64 0 0 64 {x} {y} cm /{name} Do Q".encode("latin-1"))
        content = b"\n".join(ops)
        if compress:
            z = zlib.compress(content)
            body = (
                f"<< /Length {len(z)} /Filter /FlateDecode >>".encode("latin-1")
                + b"\nstream\n" + z + b"\nendstream"
            )
        else:
            body = (
                f"<< /Length {len(content)} >>".encode("latin-1")
                + b"\nstream\n" + content + b"\nendstream"
            )
        cont = add(body)
        xo_entries = " ".join(f"/{n} {num} 0 R" for n, num in xobjects.items())
        kids_bodies.append(
            (
                f"<< /Type /Page /Parent @PAGES@ 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font} 0 R >> "
                f"/XObject << {xo_entries} >> >> /Contents {cont} 0 R >>"
            ).encode("latin-1")
        )
    page_refs = [add(b) for b in kids_bodies]
    kids = " ".join(f"{r} 0 R" for r in page_refs)
    pages_num = add(
        f"<< /Type /Pages /Kids [ {kids} ] /Count {len(page_refs)} >>".encode(
            "latin-1"
        )
    )
    catalog = add(f"<< /Type /Catalog /Pages {pages_num} 0 R >>".encode("latin-1"))
    objects = [o.replace(b"@PAGES@", str(pages_num).encode()) for o in objects]

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root {catalog} 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# Deterministic synthetic corpus (the q30/q34/q44 spec-derivation recipe)
# ---------------------------------------------------------------------------


def synth_pdf_for(doc_id: int, text: str) -> bytes:
    """One deterministic PDF: the SAME md5 spec and paragraph
    derivation as the HTML corpus (html_extract._spec_of /
    paragraphs_for), but items are emitted in ROTATED content-stream
    order while their y coordinates encode the logical order — the
    extractor must sort by geometry to recover it. Streams alternate
    raw / FlateDecode by doc parity.

    The image XObject carries a REAL rendered page (the q30 synth
    renderer: page_lines_for golden lines + md5-keyed furniture),
    embedded FlateDecode (bit-exact) for even docs and DCTDecode q95
    (binarization-invariant, like the driver-gate JPEG slots) for odd
    — the scanned-book archive layout the reference ingests."""
    from ..render import render_page
    from ..synth import _style_for, page_lines_for
    from .html_extract import _spec_of, paragraphs_for

    n_paras, has_img = _spec_of(doc_id)
    paras = paragraphs_for(doc_id, text)
    items: list[tuple] = [("text", paras[0], 72, 720)]
    y = 680
    if has_img:
        ref = f"img_{doc_id:08d}_00"
        page_img = render_page(page_lines_for(text, 3), **_style_for(ref))
        codec = "dct" if doc_id % 2 else "flate"
        items.append(("image", ref, 72, y, (page_img, codec)))
        y -= 40
    for p in paras[1:]:
        items.append(("text", p, 72, y))
        y -= 40
    rot = doc_id % len(items)
    shuffled = items[rot:] + items[:rot]
    return pdf_write([shuffled], compress=doc_id % 2 == 1)


def synth_pdf_corpus(spark: SparkSession, docs_df: DataFrame, n_docs: int = 64) -> DataFrame:
    from pyspark.sql import functions as F

    src = docs_df.select("doc_id", "text").where(F.col("doc_id") < n_docs)

    def rows(r):
        yield int(r.doc_id), synth_pdf_for(int(r.doc_id), r.text or "")

    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(
        src.repartition(n_parts, "doc_id"), "doc_id long, pdf binary", lambda: rows
    )


def pdf_extract_spans_df(df: DataFrame, pdf_col: str = "pdf") -> DataFrame:
    """(doc_id, pdf) -> flat ordered span rows; one ``worker.map_rows``
    kernel, no shuffle — the page-decode 100-TB shape."""
    def rows(r):
        doc_id, blob = r
        for off, (kind, text, ref) in enumerate(pdf_extract_spans(blob)):
            yield str(doc_id), kind, text, ref, off

    return map_rows(
        df.select("doc_id", pdf_col),
        "doc_id string, kind string, text string, media_ref string, offset int",
        lambda: rows,
    )
