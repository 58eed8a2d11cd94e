"""WARC (ISO 28500) web-archive ingestion: the container format the
100-TB web corpus actually arrives in (Common Crawl publishes ~100 TB
of WARC per monthly crawl), parsed from scratch off the public spec.

This closes the ingestion chain for the web-native path: WARC bytes ->
records -> HTTP responses -> HTML documents -> main-content spans,
where the last hop is the round-5 extractor (``html_extract.py``) and
everything upstream is this module. The reference repo ingests loose
page images from a folder (`reference/cli.py:16` glob list); a
web-scale corpus ships as WARC, so first-class WARC ingestion is the
"same contract, web's wire format" analogue of its folder scan.

Public knowledge only:

* WARC 1.0/1.1 record grammar (ISO 28500 / IIPC warc-specifications):
  ``WARC/1.0`` version line, named-field headers, CRLF CRLF, exactly
  ``Content-Length`` payload octets, CRLF CRLF record terminator.
* The Common Crawl storage convention: one gzip MEMBER per record,
  members concatenated — so a reader can split on member boundaries
  and a 100-TB crawl stays record-parallel without a sync scan.
* HTTP/1.1 message framing (RFC 9112): status line, headers,
  Content-Length or chunked transfer coding.

Scale posture: WARC files are the natural Spark split unit — one
(warc_name, data) row per file, records decoded inside one
``worker.map_rows`` kernel (embarrassingly parallel, zero shuffle, the
same shape as page decode). CDX indexing (the ``warc_cdx_index``
operator) is the published access pattern for random record lookup
over archived crawls; digests here are md5-hex of the transfer-decoded
payload (Common Crawl uses sha1-base32; md5 is chosen because the
DuckDB oracle can recompute it relationally — the DEVIATION IS
DOCUMENTED and is a constant-factor choice, not a semantic one).

Determinism: synthetic corpora derive every byte from the documents
table through the q44 md5-spec recipe; WARC-Date is a fixed constant
and record ids are content-derived, so DuckDB can reconstruct the
exact payload bytes and hash-match the digest column end-to-end.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..worker import map_rows
from .html_extract import sniff_decode, synth_html_for

CRLF = b"\r\n"
# fixed archival instant: synthetic crawls must be byte-deterministic
WARC_DATE = "2024-01-01T00:00:00Z"
ROBOTS_BODY = b"User-agent: *\r\nDisallow: /private/\r\n"

_DOC_URL_RE = re.compile(r"/doc/(\d{8})$")


def url_of(doc_id: int) -> str:
    """Deterministic target URI for a synthetic document (site id from
    the same mod-7 family the page chrome uses)."""
    return f"http://site{doc_id % 7}.example/doc/{doc_id:08d}"


def robots_url_of(file_id: int) -> str:
    return f"http://warc{file_id:04d}.example/robots.txt"


# ---------------------------------------------------------------------------
# Writer (synthesis side)
# ---------------------------------------------------------------------------


def http_response_bytes(
    body: bytes,
    mime: str,
    chunked: bool = False,
    content_encoding: str | None = None,
) -> bytes:
    """Minimal valid HTTP/1.1 response, Content-Length or chunked
    framing (RFC 9112 §6/§7). ``content_encoding`` ("gzip"/"deflate")
    compresses the entity FIRST and then applies the transfer framing
    over the compressed bytes — the RFC 9110 §8.4 layering real
    origin servers use."""
    head = [b"HTTP/1.1 200 OK", b"Content-Type: " + mime.encode("ascii")]
    if content_encoding == "gzip":
        body = _gzip_member(body)
        head.append(b"Content-Encoding: gzip")
    elif content_encoding == "deflate":
        body = zlib.compress(body, 6)
        head.append(b"Content-Encoding: deflate")
    elif content_encoding is not None:
        raise ValueError(f"unsupported content_encoding {content_encoding!r}")
    if chunked:
        head.append(b"Transfer-Encoding: chunked")
        out = []
        for i in range(0, len(body), 100):
            chunk = body[i : i + 100]
            out.append(f"{len(chunk):x}".encode("ascii") + CRLF + chunk + CRLF)
        out.append(b"0" + CRLF + CRLF)
        payload = b"".join(out)
    else:
        head.append(f"Content-Length: {len(body)}".encode("ascii"))
        payload = body
    return CRLF.join(head) + CRLF + CRLF + payload


def http_redirect_bytes(location: str, code: int = 301) -> bytes:
    """A 3xx response with a Location header and an empty body."""
    reason = {301: "Moved Permanently", 302: "Found", 307: "Temporary Redirect"}
    return (
        f"HTTP/1.1 {code} {reason.get(code, 'Redirect')}\r\n"
        f"Location: {location}\r\nContent-Length: 0\r\n\r\n"
    ).encode("ascii")


def http_request_bytes(url: str) -> bytes:
    path = "/" + url.split("/", 3)[3]
    host = url.split("/", 3)[2]
    return (
        f"GET {path} HTTP/1.1\r\nHost: {host}\r\nUser-Agent: synthbot/1.0\r\n\r\n"
    ).encode("ascii")


def warc_record(rtype: str, payload: bytes, url: str | None = None) -> bytes:
    """One WARC record. Record id is content-derived (deterministic);
    Content-Type carries the standard msgtype for http records."""
    rid = hashlib.md5(rtype.encode() + b"\x00" + payload).hexdigest()
    head = [
        b"WARC/1.0",
        f"WARC-Type: {rtype}".encode("ascii"),
        f"WARC-Date: {WARC_DATE}".encode("ascii"),
        f"WARC-Record-ID: <urn:synth:{rid}>".encode("ascii"),
    ]
    if url is not None:
        head.append(f"WARC-Target-URI: {url}".encode("ascii"))
    if rtype in ("request", "response"):
        head.append(
            f"Content-Type: application/http; msgtype={rtype}".encode("ascii")
        )
    elif rtype == "warcinfo":
        head.append(b"Content-Type: application/warc-fields")
    else:
        head.append(b"Content-Type: application/octet-stream")
    head.append(f"Content-Length: {len(payload)}".encode("ascii"))
    return CRLF.join(head) + CRLF + CRLF + payload + CRLF + CRLF


def _gzip_member(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def messy_url_of(doc_id: int) -> str:
    """A second capture URI for the same page: uppercase host, explicit
    default port, dot-segments, fragment — canonicalizes to
    ``url_of(doc_id)`` under RFC 3986 §6 (text/urlnorm.py)."""
    k = doc_id % 7
    return f"HTTP://SITE{k}.EXAMPLE:80/a/../doc/./{doc_id:08d}#dup"


#: content-coding rotation for ``content_encoding=True`` corpora — two
#: gzip slots, one deflate, two identity, composed with the chunked
#: rotation so chunked-over-gzip (the Common Crawl common case) occurs.
_CE_ROTATION = (None, "gzip", None, "deflate", "gzip")


def site_robots_body(site: int) -> bytes:
    """robots.txt for ``site{site}.example``: the crawl agent's group
    disallows doc paths ending in the site digit (wildcard + $ anchor,
    longest-match beats the shorter Allow), everyone else is banned
    outright — so group selection, pattern syntax, and precedence all
    sit under the q54 gate. Blocked set in SQL terms: doc_id % 10 =
    doc_id % 7."""
    return (
        f"# synthetic robots for site{site}.example\r\n"
        f"User-agent: synthbot\r\n"
        f"Crawl-delay: 2\r\n"
        f"Disallow: /doc/*{site}$\r\n"
        f"Allow: /doc/\r\n"
        f"\r\n"
        f"User-agent: *\r\n"
        f"Disallow: /\r\n"
    ).encode("ascii")


def site_sitemap_body(site: int, n_docs: int) -> bytes:
    """sitemap.xml for ``site{site}.example``: advertises the site's
    doc URLs with deterministic lastmod dates, EXCEPT ids with
    doc_id % 5 == 4 (captured-but-unlisted, the link-discovery case),
    PLUS one phantom URL carrying an &amp; entity that is never
    crawled (listed-but-uncaptured, the frontier-gap case). Pure
    function of (site, n_docs) so DuckDB derives the coverage table
    from doc_id arithmetic alone."""
    rows = []
    for doc_id in range(site, n_docs, 7):
        if doc_id % 5 == 4:
            continue
        rows.append(
            f"<url><loc>{url_of(doc_id)}</loc>"
            f"<lastmod>2024-01-{1 + doc_id % 28:02d}</lastmod></url>"
        )
    rows.append(
        f"<url><loc>http://site{site}.example/list?page=1&amp;limit={site}"
        f"</loc><lastmod>2024-02-01</lastmod></url>"
    )
    body = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        + "\n".join(rows)
        + "\n</urlset>\n"
    )
    return body.encode("utf-8")


def charset_marker_for(doc_id: int) -> str:
    """The non-ASCII content paragraph every charset-corpus page
    carries — encodable in every rotated charset (cp1252, latin-1,
    utf-16) and a pure function of doc_id, so DuckDB re-derives it.
    A wrong or skipped decode garbles it and breaks the q53 hash."""
    return f"Résumé café © portal {doc_id % 7} àôü"


#: (codec, header-charset-label, meta-charset-label, bom) rotation for
#: ``charsets=True`` corpora — exercises every HTML5 sniffing tier:
#: transport-layer charset, meta prescan (incl. the latin-1->cp1252
#: alias fold), BOM, and the undeclared-bytes fallback pair.
_CHARSET_ROTATION = (
    ("utf-8", "utf-8", None, False),  # header label, the common case
    ("windows-1252", "windows-1252", None, False),  # header label, 1-byte
    ("iso-8859-1", None, "iso-8859-1", False),  # meta prescan + alias
    ("utf-16-le", None, None, True),  # BOM only
    ("utf-8", None, None, False),  # undeclared -> strict-utf-8 fallback
    ("windows-1252", None, None, False),  # undeclared -> cp1252 fallback
)


def build_warc_file(
    file_id: int,
    docs: list[tuple[int, str]],
    dup_captures: bool = False,
    content_encoding: bool = False,
    charsets: bool = False,
    site_robots: bool = False,
    redirects: bool = False,
    sitemap_n_docs: int | None = None,
) -> bytes:
    """One synthetic WARC file: warcinfo, a robots.txt fetch, then per
    document a request/response/metadata triple. The response body is
    the q44 deterministic web page. Even file ids use the Common Crawl
    member-per-record gzip convention; odd ids are stored uncompressed
    (both paths must parse). Responses for doc_id % 3 == 0 use chunked
    transfer coding (the reader must de-chunk). With ``dup_captures``
    every page is archived a SECOND time under its messy URI
    (``messy_url_of``) with the opposite transfer framing — the
    re-crawl duplicate that canonical-URL dedup must collapse. With
    ``content_encoding`` page responses rotate gzip / deflate /
    identity content-codings (``_CE_ROTATION``) under the transfer
    framing — the reader must content-decode after de-chunking. With
    ``charsets`` pages rotate character encodings and declaration
    channels (``_CHARSET_ROTATION``: header label / meta prescan / BOM
    / undeclared) and carry the non-ASCII ``charset_marker_for``
    paragraph — the reader must sniff per HTML5 §13.2.3.2."""
    info = (
        f"software: ocr-inference-spark-synth\r\nformat: WARC File Format 1.0\r\n"
        f"warc-file: synth-{file_id:04d}.warc\r\n"
    ).encode("ascii")
    records = [warc_record("warcinfo", info)]
    records.append(
        warc_record(
            "response",
            http_response_bytes(ROBOTS_BODY, "text/plain"),
            robots_url_of(file_id),
        )
    )
    if site_robots:
        # every file carries all seven site policies (a crawler
        # re-fetches robots constantly; the extractor dedups by host)
        for k in range(7):
            records.append(
                warc_record(
                    "response",
                    http_response_bytes(site_robots_body(k), "text/plain"),
                    f"http://site{k}.example/robots.txt",
                )
            )
    if sitemap_n_docs is not None and file_id == 0:
        # sitemaps list the WHOLE site, so they live in file 0 only
        for k in range(7):
            records.append(
                warc_record(
                    "response",
                    http_response_bytes(
                        site_sitemap_body(k, sitemap_n_docs), "application/xml"
                    ),
                    f"http://site{k}.example/sitemap.xml",
                )
            )
    for doc_id, text in sorted(docs):
        url = url_of(doc_id)
        if charsets:
            codec, hdr_label, meta_label, bom = _CHARSET_ROTATION[doc_id % 6]
            html = synth_html_for(
                doc_id,
                text or "",
                meta_charset=meta_label,
                extra_para=charset_marker_for(doc_id),
            ).encode(codec)
            if bom:
                html = b"\xff\xfe" + html
            mime = "text/html" + (f"; charset={hdr_label}" if hdr_label else "")
        else:
            html = synth_html_for(doc_id, text or "").encode("utf-8")
            mime = "text/html; charset=utf-8"
        ce = _CE_ROTATION[doc_id % 5] if content_encoding else None
        records.append(warc_record("request", http_request_bytes(url), url))
        records.append(
            warc_record(
                "response",
                http_response_bytes(
                    html,
                    mime,
                    chunked=doc_id % 3 == 0,
                    content_encoding=ce,
                ),
                url,
            )
        )
        records.append(
            warc_record("metadata", b"fetchTimeMs: 7\r\n", url)
        )
        if redirects:
            # a 2-hop alias chain per page: /r2 -(302 absolute)-> /r1
            # -(301 RELATIVE Location, which RFC 9110 permits)-> /doc
            hop1 = f"http://site{doc_id % 7}.example/r1/{doc_id:08d}"
            hop2 = f"http://site{doc_id % 7}.example/r2/{doc_id:08d}"
            records.append(
                warc_record("response", http_redirect_bytes(hop1, 302), hop2)
            )
            records.append(
                warc_record(
                    "response",
                    http_redirect_bytes(f"/doc/{doc_id:08d}", 301),
                    hop1,
                )
            )
        if dup_captures:
            records.append(
                warc_record(
                    "response",
                    http_response_bytes(
                        html,
                        mime,
                        chunked=doc_id % 3 != 0,
                        content_encoding=ce,
                    ),
                    messy_url_of(doc_id),
                )
            )
    if file_id % 2 == 0:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


# ---------------------------------------------------------------------------
# Reader (from-scratch, tolerant)
# ---------------------------------------------------------------------------


def split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Concatenated-gzip-member split (the Common Crawl layout): each
    decompressobj run ends at a member boundary; ``unused_data`` is the
    start of the next member. Non-gzip input yields itself whole."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    buf = data
    while buf[:2] == b"\x1f\x8b":
        do = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            member = do.decompress(buf)
            member += do.flush()
        except zlib.error:
            return  # truncated/corrupt tail: stop at the last good member
        yield member
        buf = do.unused_data
        if not buf:
            return


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """WARC bytes -> (headers, payload) per record. Tolerant: resyncs
    to the next version line on framing damage, never raises."""
    for member in split_gzip_members(data):
        pos = 0
        n = len(member)
        while pos < n:
            start = member.find(b"WARC/", pos)
            if start < 0:
                break
            hdr_end = member.find(CRLF + CRLF, start)
            if hdr_end < 0:
                break
            headers: dict[str, str] = {}
            lines = member[start:hdr_end].split(CRLF)
            ok = lines and lines[0].startswith(b"WARC/")
            for ln in lines[1:]:
                k, _, v = ln.partition(b":")
                if not _:
                    ok = False
                    break
                try:
                    headers[k.strip().decode("ascii").lower()] = v.strip().decode(
                        "utf-8", "replace"
                    )
                except UnicodeDecodeError:
                    ok = False
                    break
            body_at = hdr_end + 4
            try:
                clen = int(headers.get("content-length", ""))
            except ValueError:
                clen = -1
            if not ok or clen < 0 or body_at + clen > n:
                pos = start + 5  # resync past the damaged version line
                continue
            yield headers, member[body_at : body_at + clen]
            pos = body_at + clen


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes] | None:
    """HTTP response payload -> (status, headers, transfer-decoded
    body), or None on malformed framing."""
    hdr_end = payload.find(CRLF + CRLF)
    if hdr_end < 0:
        return None
    lines = payload[:hdr_end].split(CRLF)
    first = lines[0].split(None, 2)
    if len(first) < 2 or not first[0].startswith(b"HTTP/"):
        return None
    try:
        status = int(first[1])
    except ValueError:
        return None
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        if _:
            headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
                "utf-8", "replace"
            )
    body = payload[hdr_end + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        out = []
        pos = 0
        while True:
            eol = body.find(CRLF, pos)
            if eol < 0:
                return None
            try:
                size = int(body[pos:eol].split(b";")[0], 16)
            except ValueError:
                return None
            if size == 0:
                break
            chunk = body[eol + 2 : eol + 2 + size]
            if len(chunk) < size:
                return None  # truncated chunk
            out.append(chunk)
            pos = eol + 2 + size + 2
        body = b"".join(out)
    elif "content-length" in headers:
        try:
            body = body[: int(headers["content-length"])]
        except ValueError:
            pass
    return status, headers, body


def decode_content(headers: dict[str, str], body: bytes) -> bytes | None:
    """Undo HTTP content-codings (RFC 9110 §8.4) AFTER transfer
    decoding: gzip/x-gzip (tolerant of servers that actually sent zlib
    — wbits 47 auto-detects), deflate (zlib per spec, raw-deflate
    fallback for the broken-server convention), identity. Layered
    codings ("gzip, gzip") are undone right-to-left. Returns None on
    an unknown coding or a damaged stream — the caller skips the
    capture, matching the tolerant-reader posture of the rest of the
    record walk."""
    ce = headers.get("content-encoding", "").strip().lower()
    if not ce:
        return body
    for coding in reversed([c.strip() for c in ce.split(",")]):
        if coding in ("", "identity"):
            continue
        try:
            if coding in ("gzip", "x-gzip"):
                body = zlib.decompress(body, 47)
            elif coding == "deflate":
                try:
                    body = zlib.decompress(body)
                except zlib.error:
                    body = zlib.decompress(body, -15)
            else:
                return None
        except zlib.error:
            return None
    return body


def _mime_of(headers: dict[str, str]) -> str:
    return headers.get("content-type", "").split(";")[0].strip().lower()


def ok_responses(
    data: bytes, mimes: tuple[str, ...]
) -> Iterator[tuple[str, dict[str, str], bytes]]:
    """WARC bytes -> (target URI, HTTP headers, body) for every response
    record with status 200 and a content type in ``mimes``, its body
    transfer- and content-decoded. Records that fail to parse or decode
    are skipped (the tolerant record walk)."""
    for headers, payload in iter_warc_records(data):
        if headers.get("warc-type") != "response":
            continue
        resp = parse_http_response(payload)
        if resp is None:
            continue
        status, hh, body = resp
        if status != 200 or _mime_of(hh) not in mimes:
            continue
        body = decode_content(hh, body)
        if body is not None:
            yield headers.get("warc-target-uri", ""), hh, body


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def synth_warc_corpus(
    spark: SparkSession,
    docs_df: DataFrame,
    n_docs: int = 64,
    docs_per_file: int = 8,
    dup_captures: bool = False,
    content_encoding: bool = False,
    charsets: bool = False,
    site_robots: bool = False,
    redirects: bool = False,
    sitemaps: bool = False,
) -> DataFrame:
    """documents -> (warc_name, data) files, built executor-side. One
    shuffle (group docs onto their file id); each file's bytes are a
    pure function of its documents rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = (
        docs_df.select("doc_id", "text")
        .where(F.col("doc_id") < n_docs)
        .withColumn("file_id", (F.col("doc_id") / docs_per_file).cast("long"))
    )

    def kernel(key, pdf):
        file_id = int(key[0])
        docs = [(int(d), t or "") for d, t in zip(pdf["doc_id"], pdf["text"])]
        return pd.DataFrame(
            {
                "warc_name": [f"synth-{file_id:04d}.warc"],
                "data": [
                    build_warc_file(
                        file_id,
                        docs,
                        dup_captures,
                        content_encoding,
                        charsets,
                        site_robots,
                        redirects,
                        n_docs if sitemaps else None,
                    )
                ],
            }
        )

    return src.groupBy("file_id").applyInPandas(
        kernel, schema="warc_name string, data binary"
    )


def warc_extract_html(warc_df: DataFrame) -> DataFrame:
    """(warc_name, data) -> (doc_id, url, html): gunzip members, walk
    records, keep type=response with an HTML content type and a 200
    status, transfer-decode the body. Zero shuffle."""

    def rows(r):
        for url, hh, body in ok_responses(r.data, ("text/html",)):
            m = _DOC_URL_RE.search(url)
            if m:
                yield int(m.group(1)), url, sniff_decode(body, hh.get("content-type", ""))

    return map_rows(
        warc_df.select("data"), "doc_id long, url string, html string", lambda: rows
    )


def warc_extract_captures(warc_df: DataFrame) -> DataFrame:
    """(warc_name, data) -> (url, html) for every 200 text/html
    response, capture URI passed through RAW (no doc-id recovery, no
    canonicalization) — the input shape for URL-canonicalization dedup
    over a crawl that archived the same page under variant URIs. Zero
    shuffle."""

    def rows(r):
        for url, hh, body in ok_responses(r.data, ("text/html",)):
            yield url, sniff_decode(body, hh.get("content-type", ""))

    return map_rows(warc_df.select("data"), "url string, html string", lambda: rows)


def warc_extract_robots(warc_df: DataFrame) -> DataFrame:
    """(warc_name, data) -> (host, robots_txt) for every 200 text/plain
    response captured at a /robots.txt path. One row per CAPTURE (a
    crawl re-fetches robots constantly); dedupe by host downstream
    (bodies are deterministic here, so ``max`` works). Zero shuffle."""

    def rows(r):
        for url, _, body in ok_responses(r.data, ("text/plain",)):
            if url.endswith("/robots.txt"):
                yield url.split("/", 3)[2].lower(), body.decode("utf-8", "replace")

    return map_rows(
        warc_df.select("data"), "host string, robots_txt string", lambda: rows
    )


def warc_cdx_index(warc_df: DataFrame) -> DataFrame:
    """(warc_name, data) -> CDX-style capture index over response
    records: (url, status, mime, length, digest, redirect) where
    length/digest are of the transfer-decoded payload (so they are
    invariant to chunked vs content-length framing, per the CDXJ
    convention) and ``redirect`` is the CDXJ redirect field: the
    Location target of a 3xx capture, made absolute against the
    capture URI (RFC 9110 allows relative Location). Zero shuffle;
    md5-hex digest so a relational oracle can recompute it."""
    from urllib.parse import urljoin

    def rows(r):
        for headers, payload in iter_warc_records(r.data):
            if headers.get("warc-type") != "response":
                continue
            resp = parse_http_response(payload)
            if resp is None:
                continue
            status, hh, body = resp
            url = headers.get("warc-target-uri", "")
            loc = hh.get("location")
            yield (
                url, status, _mime_of(hh), len(body), hashlib.md5(body).hexdigest(),
                urljoin(url, loc) if loc and 300 <= status < 400 else None,
            )

    return map_rows(
        warc_df.select("warc_name", "data"),
        (
            "url string, status int, mime string, length long, "
            "digest string, redirect string"
        ),
        lambda: rows,
    )


# ---------------------------------------------------------------------------
# WET text export (the Common Crawl "WARC-converted" sibling format):
# extracted plain text re-archived as ISO 28500 `conversion` records,
# one gzip member per record. This is the WRITE half of the archive
# layer — the reader above must round-trip it byte-exactly.
# ---------------------------------------------------------------------------


def wet_record(url: str, text: str) -> bytes:
    """One WET conversion record. Record id is content-derived (like
    warc_record); WARC-Refers-To is a deterministic urn derived from
    the capture URI — the extraction pipeline does not carry the source
    response's record id through, so the linkage key is the URI (a
    documented deviation from Common Crawl, which threads the id)."""
    payload = text.encode("utf-8")
    rid = hashlib.md5(b"conversion\x00" + payload).hexdigest()
    src = hashlib.md5(url.encode("utf-8")).hexdigest()
    head = [
        b"WARC/1.0",
        b"WARC-Type: conversion",
        f"WARC-Date: {WARC_DATE}".encode("ascii"),
        f"WARC-Record-ID: <urn:synth:{rid}>".encode("ascii"),
        f"WARC-Target-URI: {url}".encode("ascii"),
        f"WARC-Refers-To: <urn:synth:src-{src}>".encode("ascii"),
        b"Content-Type: text/plain",
        f"Content-Length: {len(payload)}".encode("ascii"),
    ]
    return CRLF.join(head) + CRLF + CRLF + payload + CRLF + CRLF


def wet_export(texts_df: DataFrame, docs_per_file: int = 8) -> DataFrame:
    """(doc_id, url, text) -> (wet_name, data) WET files: a warcinfo
    member followed by one conversion record per document (doc_id
    order inside the file), each its own gzip member (the Common Crawl
    member-per-record convention, so a reader can split work without
    parsing). One shuffle (docs onto their file id); each file's bytes
    are a pure function of its rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = texts_df.select("doc_id", "url", "text").withColumn(
        "file_id", (F.col("doc_id") / docs_per_file).cast("long")
    )

    def kernel(key, pdf):
        file_id = int(key[0])
        info = warc_record(
            "warcinfo", b"software: ocr_inference_spark wet_export\r\n"
        )
        parts = [_gzip_member(info)]
        pdf = pdf.sort_values("doc_id")
        for url, text in zip(pdf["url"], pdf["text"]):
            parts.append(_gzip_member(wet_record(str(url), str(text or ""))))
        return pd.DataFrame(
            {
                "wet_name": [f"synth-{file_id:04d}.warc.wet"],
                "data": [b"".join(parts)],
            }
        )

    return src.groupBy("file_id").applyInPandas(
        kernel, schema="wet_name string, data binary"
    )


def wet_extract_text(wet_df: DataFrame) -> DataFrame:
    """(wet_name, data) -> (url, text) from conversion records. Zero
    shuffle; tolerant of damaged members via the shared record walk."""

    def rows(r):
        for headers, payload in iter_warc_records(r.data):
            if headers.get("warc-type") == "conversion":
                text = payload.decode("utf-8", "replace")
                yield headers.get("warc-target-uri", ""), text

    return map_rows(wet_df.select("data"), "url string, text string", lambda: rows)
