"""HTML main-content extraction: boilerplate strip + DOM heuristics,
emitting ordered (kind, text, media_ref) span sequences.

The north rule names this surface directly: "main-content extraction
pipeline (HTML boilerplate strip, PDF/layout parse, DOM heuristics) ...
re-emits each document as an ordered span sequence where detected
[content blocks] become text spans interleaved with their source
media_refs". The OCR pipeline does that for page images; this module
is the same contract for the web's native container — tag soup in,
`(kind, text, media_ref, offset)` spans out — so one downstream schema
serves both ingestion paths.

Everything here is public knowledge: the HTML5 tokenization rules
(tags, attributes, comments, raw-text elements, entities) and the
published main-content heuristics family (Readability's tag/class
pruning, jusText/Boilerpipe's link-density block classification —
Kohlschütter et al., WSDM 2010; Pomikálek 2011). The classifier is a
deterministic simplification of those:

1. DROP whole subtrees of non-content elements (script/style/head/
   nav/header/footer/aside/form/...) and of any element whose
   class/id matches the boilerplate word list (nav, menu, footer,
   sidebar, banner, ad, promo, ...).
2. Segment remaining text into blocks at block-level tag boundaries.
3. KEEP a block iff it has visible text and its link density
   (chars inside <a> / total chars) is <= 0.5.
4. `<img src=...>` inside kept regions emits a media span at its
   document-order position.

Spark-side, extraction is a ``worker.map_rows`` kernel over (doc_id,
html) — embarrassingly parallel, no shuffle, the same 100-TB shape as
page decode. The tokenizer is a single linear scan (no backtracking), so
cost is O(bytes) per document.
"""

from __future__ import annotations

import html as _htmlmod
import re

from pyspark.sql import DataFrame, SparkSession

from ..worker import map_rows

# elements whose entire subtree is never content
_DROP_TAGS = frozenset(
    "script style noscript template svg head nav header footer aside form "
    "button select option iframe object embed applet map area".split()
)
# raw-text elements: content runs to the matching close tag, unparsed
_RAWTEXT_TAGS = frozenset("script style textarea title".split())
# void elements never push the open stack
_VOID_TAGS = frozenset(
    "img br hr meta link input source track wbr col base param".split()
)
# block-level boundaries that flush the current text block
_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table thead tbody "
    "tfoot blockquote pre article section main figure figcaption address "
    "fieldset hr center body html".split()
)
# class/id tokens that mark an element as site furniture (Readability's
# unlikely-candidates list, trimmed to word-boundary tokens)
_BOILER_HINT = re.compile(
    r"(?:^|[\s_-])(nav|menu|footer|header|sidebar|banner|ads?|advert|promo|"
    r"comments?|share|social|cookie|breadcrumbs?|related|widget|popup)"
    r"(?:$|[\s_-])",
    re.I,
)
_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9:._-]*)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
_WS_RE = re.compile(r"\s+")

MAX_LINK_DENSITY = 0.5


def _attrs_of(seg: str) -> dict[str, str]:
    out = {}
    for m in _ATTR_RE.finditer(seg):
        v = m.group(2) or ""
        if v[:1] in ("'", '"'):
            v = v[1:-1]
        out[m.group(1).lower()] = v
    return out


def _tokenize(doc: str):
    """Linear-scan HTML tokenizer -> ('text', s) | ('start', tag, attrs,
    self_closing) | ('end', tag) events. Tolerant: bare '<' is literal
    text; comments/rawtext/doctype consumed per the HTML5 rules;
    truncated constructs are dropped silently (never raises)."""
    n = len(doc)
    pos = 0
    while pos < n:
        lt = doc.find("<", pos)
        if lt < 0:
            yield ("text", doc[pos:])
            return
        if lt > pos:
            yield ("text", doc[pos:lt])
        if lt + 1 >= n:
            return
        c = doc[lt + 1]
        if doc.startswith("<!--", lt):
            end = doc.find("-->", lt + 4)
            pos = n if end < 0 else end + 3
            continue
        if c in "!?":
            end = doc.find(">", lt)
            pos = n if end < 0 else end + 1
            continue
        if c == "/":
            end = doc.find(">", lt)
            if end < 0:
                return
            name = doc[lt + 2 : end].strip().split()[0].lower() if doc[lt + 2 : end].strip() else ""
            if name:
                yield ("end", name)
            pos = end + 1
            continue
        if not c.isalpha():
            yield ("text", "<")
            pos = lt + 1
            continue
        end = doc.find(">", lt)
        if end < 0:
            return
        inner = doc[lt + 1 : end]
        self_closing = inner.endswith("/")
        if self_closing:
            inner = inner[:-1]
        parts = inner.split(None, 1)
        tag = parts[0].lower()
        attrs = _attrs_of(parts[1]) if len(parts) > 1 else {}
        yield ("start", tag, attrs, self_closing)
        pos = end + 1
        if tag in _RAWTEXT_TAGS and not self_closing:
            # raw text runs to the matching close tag, case-insensitive
            m = re.search(rf"</{tag}\s*>", doc[pos:], re.I)
            if m is None:
                return
            pos += m.end()
            yield ("end", tag)


def _is_boiler(tag: str, attrs: dict[str, str]) -> bool:
    if tag in _DROP_TAGS:
        return True
    hint = (attrs.get("class", "") + " " + attrs.get("id", "")).strip()
    return bool(hint) and bool(_BOILER_HINT.search(hint))


def parse_html_spans(doc: str) -> list[tuple[str, str | None, str | None]]:
    """HTML -> ordered main-content spans [(kind, text, media_ref)].
    Text spans are entity-decoded and whitespace-normalized blocks that
    survive the boilerplate strip; media spans are in-content
    ``<img src>`` refs at their document-order position."""
    spans: list[tuple[str, str | None, str | None]] = []
    drop_stack: list[str] = []  # open dropped-subtree tags
    a_depth = 0
    parts: list[str] = []
    link_chars = 0

    def flush() -> None:
        nonlocal parts, link_chars
        text = _WS_RE.sub(" ", "".join(parts)).strip()
        total = len(text)
        if total:
            density = min(link_chars, total) / total
            if density <= MAX_LINK_DENSITY:
                spans.append(("text", text, None))
        parts = []
        link_chars = 0

    for ev in _tokenize(doc):
        kind = ev[0]
        if kind == "text":
            if drop_stack:
                continue
            decoded = _htmlmod.unescape(ev[1])
            parts.append(decoded)
            if a_depth > 0:
                link_chars += len(decoded.strip())
            continue
        if kind == "start":
            _, tag, attrs, self_closing = ev
            if drop_stack:
                if not self_closing and tag not in _VOID_TAGS:
                    drop_stack.append(tag)
                continue
            if _is_boiler(tag, attrs):
                flush()
                if not self_closing and tag not in _VOID_TAGS:
                    drop_stack.append(tag)
                continue
            if tag == "img":
                flush()
                src = attrs.get("src", "").strip()
                if src:
                    spans.append(("media", None, src))
                continue
            if tag == "a":
                a_depth += 1
                continue
            if tag == "br" or tag in _BLOCK_TAGS:
                flush()
            continue
        # end tag
        tag = ev[1]
        if drop_stack:
            # tolerant matching: pop to the nearest open occurrence
            if tag in drop_stack:
                while drop_stack and drop_stack.pop() != tag:
                    pass
            continue
        if tag == "a":
            a_depth = max(0, a_depth - 1)
            continue
        if tag in _BLOCK_TAGS:
            flush()
    flush()
    return spans


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

SPAN_ROWS_SCHEMA = (
    "doc_id string, kind string, text string, media_ref string, offset int"
)


_META_CHARSET_RE = re.compile(
    rb"""<meta\s[^>]*?charset\s*=\s*["']?\s*([A-Za-z0-9_][A-Za-z0-9._:-]*)""",
    re.I,
)
_CHARSET_ALIASES = {
    "iso-8859-1": "windows-1252",  # the HTML5 alias table folds latin-1
    "latin-1": "windows-1252",  # into cp1252 (WHATWG Encoding §4.2)
    "us-ascii": "windows-1252",
    "utf8": "utf-8",
}


def sniff_decode(body: bytes, content_type: str = "") -> str:
    """HTML bytes -> text via the HTML5 encoding-sniffing order
    (WHATWG HTML §13.2.3.2): (1) BOM, (2) transport-layer charset from
    the Content-Type header, (3) <meta charset> prescan of the first
    1024 bytes, (4) fallback — strict UTF-8 if the bytes validate
    (the dominant web reality), else windows-1252 (the spec's default,
    which decodes any byte sequence). Unknown labels fall through to
    the next step rather than erroring: a crawler must never die on a
    mislabeled page."""
    if body.startswith(b"\xef\xbb\xbf"):
        return body[3:].decode("utf-8", "replace")
    if body.startswith(b"\xff\xfe"):
        return body[2:].decode("utf-16-le", "replace")
    if body.startswith(b"\xfe\xff"):
        return body[2:].decode("utf-16-be", "replace")
    for label in (_header_charset(content_type), _meta_charset(body)):
        if not label:
            continue
        codec = _CHARSET_ALIASES.get(label, label)
        try:
            return body.decode(codec, "replace")
        except LookupError:
            continue
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError:
        return body.decode("windows-1252", "replace")


def _header_charset(content_type: str) -> str | None:
    for part in content_type.split(";")[1:]:
        k, _, v = part.partition("=")
        if k.strip().lower() == "charset":
            return v.strip().strip("\"'").lower() or None
    return None


def _meta_charset(body: bytes) -> str | None:
    m = _META_CHARSET_RE.search(body[:1024])
    return m.group(1).decode("ascii", "replace").lower() if m else None


def html_extract_spans(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, html) -> flat ordered span rows, one ``worker.map_rows``
    kernel: linear parse per document, no shuffle, no driver round-trips
    — the same embarrassingly-parallel shape as page decode, so
    throughput scales with executors at 10^12-document scale."""

    def rows(r):
        doc_id, doc = r
        for off, (kind, text, ref) in enumerate(parse_html_spans(doc)):
            yield str(doc_id), kind, text, ref, off

    return map_rows(df.select("doc_id", html_col), SPAN_ROWS_SCHEMA, lambda: rows)


# ---------------------------------------------------------------------------
# Deterministic synthetic web corpus (the q30/q34 spec-derivation recipe)
# ---------------------------------------------------------------------------

PARA_WIDTH = 64


def _spec_of(doc_id: int) -> tuple[int, bool]:
    """(n_paras, has_img) from the md5 spec — the same hash family the
    layout/video gates use, so DuckDB reproduces it verbatim."""
    import hashlib

    h = hashlib.md5(str(doc_id).encode()).hexdigest()
    return 1 + ord(h[0]) % 3, ord(h[1]) % 2 == 0


def paragraphs_for(doc_id: int, text: str) -> list[str]:
    """Main-content paragraph texts: 64-char windows of the document
    text, whitespace-normalized, 'paragraph i' fallback — SQL-
    expressible (trim/regexp_replace/substring), mirrored by the q44
    oracle."""
    n_paras, _ = _spec_of(doc_id)
    out = []
    for i in range(n_paras):
        seg = _WS_RE.sub(" ", text[i * PARA_WIDTH : (i + 1) * PARA_WIDTH]).strip()
        out.append(seg if seg else f"paragraph {i}")
    return out


def synth_html_for(
    doc_id: int,
    text: str,
    template_blocks: tuple[str, str] | None = None,
    meta_charset: str | None = None,
    extra_para: str | None = None,
) -> str:
    """One deterministic web page: real site chrome (head scripts and
    styles with decoy text, header+nav, link-soup menu inside the
    content div, advert div, aside, footer — ALL of which the extractor
    must strip) around the derived main-content paragraphs and an
    optional in-content image. Paragraph 0 carries an entity-encoded
    suffix so entity decoding sits under the oracle gate.
    ``template_blocks`` = (top, bottom) injects two CONTENT-SHAPED
    boilerplate paragraphs (plain <p>, no class/id hint, no links —
    invisible to the single-page heuristics by construction) at the
    start and end of the content div: the cross-page template that only
    domain-frequency analysis (text/boilerplate.py) can remove.
    ``meta_charset`` adds a <meta charset> declaration to the head (the
    prescan target for q53's charset sniffing); ``extra_para`` appends
    one more content paragraph after the derived ones (q53's non-ASCII
    marker that proves the decode actually happened)."""
    n_paras, has_img = _spec_of(doc_id)
    paras = paragraphs_for(doc_id, text)
    body = [
        "<!DOCTYPE html>",
        f"<html><head><title>site {doc_id % 7} &mdash; page</title>",
        *(
            [f'<meta charset="{meta_charset}">']
            if meta_charset is not None
            else []
        ),
        "<style>p { color: #222; } /* <p>decoy</p> */</style>",
        "<script>if (1 < 2) { document.write('<p>not content</p>'); }</script>",
        "</head><body>",
        f"<header><h1>Portal {doc_id % 7}</h1>",
        '<nav><a href="/">home</a> <a href="/a">archive</a> '
        '<a href="/t">tags</a></nav></header>',
        '<div class="content">',
    ]
    if template_blocks is not None:
        body.append(f"<p>{template_blocks[0]}</p>")
    body.append(f"<p>{paras[0]} &amp; more</p>")
    if has_img:
        body.append(f'<img src="img_{doc_id:08d}_00.png" alt="figure">')
    for i, p in enumerate(paras[1:], start=1):
        body.append(f"<p>{p}</p>")
    if extra_para is not None:
        body.append(f"<p>{extra_para}</p>")
    if template_blocks is not None:
        body.append(f"<p>{template_blocks[1]}</p>")
    body += [
        '<ul class="menu"><li><a href="/1">one</a></li>'
        '<li><a href="/2">two</a></li><li><a href="/3">three</a></li></ul>',
        '<div class="advert">BUY NOW limited offer</div>',
        "</div>",
        "<aside>you may also like: everything</aside>",
        "<!-- rendered by synth_html_for -->",
        "<footer>&copy; portal archives</footer>",
        "</body></html>",
    ]
    return "\n".join(body)


def synth_html_corpus(spark: SparkSession, docs_df: DataFrame, n_docs: int = 64) -> DataFrame:
    """documents -> (doc_id, html) pages, rendered executor-side."""
    from pyspark.sql import functions as F

    src = docs_df.select("doc_id", "text").where(F.col("doc_id") < n_docs)

    def rows(r):
        yield int(r.doc_id), synth_html_for(int(r.doc_id), r.text or "")

    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(
        src.repartition(n_parts, "doc_id"), "doc_id long, html string", lambda: rows
    )


# ---------------------------------------------------------------------------
# head-metadata extraction (title / meta / canonical link / date)
# ---------------------------------------------------------------------------

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</\s*title\s*>", re.I | re.S)


def extract_metadata(doc: str) -> dict[str, str | None]:
    """Document metadata the crawl index keys on: <title> text,
    meta[name=description], meta[property=og:title],
    link[rel=canonical] href, and the publication date
    (meta[name=date] | meta[property=article:published_time]).
    First occurrence wins (the WHATWG processing model for repeated
    head metadata); names/rels compare case-insensitively; values are
    entity-decoded and whitespace-collapsed. Reuses the module's
    tolerant linear tokenizer — <title> alone needs a regex because
    the tokenizer (correctly, for the span extractor) swallows
    rawtext element bodies."""
    out: dict[str, str | None] = {
        "title": None,
        "description": None,
        "og_title": None,
        "canonical": None,
        "pub_date": None,
    }
    m = _TITLE_RE.search(doc)
    if m is not None:
        out["title"] = _WS_RE.sub(
            " ", _htmlmod.unescape(m.group(1))
        ).strip() or None
    for ev in _tokenize(doc):
        if ev[0] != "start":
            continue
        tag, attrs = ev[1], ev[2]
        if tag == "meta":
            name = attrs.get("name", "").lower()
            prop = attrs.get("property", "").lower()
            content = attrs.get("content")
            if content is None:
                continue
            val = _WS_RE.sub(" ", _htmlmod.unescape(content)).strip()
            if name == "description" and out["description"] is None:
                out["description"] = val
            elif prop == "og:title" and out["og_title"] is None:
                out["og_title"] = val
            elif (
                name == "date" or prop == "article:published_time"
            ) and out["pub_date"] is None:
                out["pub_date"] = val
        elif tag == "link":
            rel = attrs.get("rel", "").lower()
            href = attrs.get("href")
            if rel == "canonical" and href and out["canonical"] is None:
                out["canonical"] = href.strip()
    return out


def html_metadata(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, html) -> one metadata row per page. ``worker.map_rows``,
    shuffle-free — the same embarrassingly-parallel 100-TB shape as
    span extraction."""

    def rows(r):
        doc_id, doc = r
        m = extract_metadata(doc or "")
        yield (
            int(doc_id), m["title"], m["description"], m["og_title"],
            m["canonical"], m["pub_date"],
        )

    return map_rows(
        df.select("doc_id", html_col),
        (
            "doc_id long, title string, description string,"
            " og_title string, canonical string, pub_date string"
        ),
        lambda: rows,
    )


def synth_metadata_head(doc_id: int) -> list[str]:
    """Head-metadata lines for the q69 corpus, messy on purpose:
    uppercase tag/attr spellings, single-quoted and UNQUOTED attribute
    values, swapped attribute order, entities in content — with
    doc_id-ruled omissions so every output column exercises NULL.
    Kept separate from synth_html_for so the byte-exact corpora the
    CDX digest oracles rebuild (q49/q59) stay untouched."""
    k = doc_id % 7
    lines: list[str] = []
    if doc_id % 4 != 1:
        lines.append(
            f'<meta name="description" content="doc {doc_id} summary'
            ' &amp; notes">'
        )
    if doc_id % 6 != 2:
        lines.append(
            f"<META Content='Portal {k} &mdash; {doc_id:08d}'"
            " Property='og:title'>"
        )
    if doc_id % 5 != 3:
        lines.append(
            f"<link rel=canonical href=http://site{k}.example/doc/"
            f"{doc_id:08d}>"
        )
    if doc_id % 7 != 4:
        lines.append(
            f'<meta name="date" content="2024-{1 + doc_id % 12:02d}-'
            f'{1 + doc_id % 28:02d}">'
        )
    return lines


def synth_metadata_corpus(
    spark: SparkSession, docs_df: DataFrame, n_docs: int = 64
) -> DataFrame:
    """documents -> (doc_id, html) pages whose head carries the messy
    metadata block (spliced after the <title> line of the standard
    q44 page)."""
    from pyspark.sql import functions as F

    src = docs_df.select("doc_id", "text").where(F.col("doc_id") < n_docs)

    def rows(r):
        d = int(r.doc_id)
        page = synth_html_for(d, r.text or "").split("\n")
        # line 1 is the <head><title> line of the template
        page[2:2] = synth_metadata_head(d)
        yield d, "\n".join(page)

    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(
        src.repartition(n_parts, "doc_id"), "doc_id long, html string", lambda: rows
    )
