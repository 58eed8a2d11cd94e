"""URL canonicalization + registrable-domain extraction: the standard
first step of crawl-side dedup (the same capture fetched as
``HTTP://Host:80/a/../doc#frag`` and ``http://host/doc`` is ONE
document; URL-level canon collapses them before any content hashing
runs, and domain-level rollups drive crawl budgeting / per-site
quality policies).

Public knowledge only:

* RFC 3986 §6 syntax-based normalization: lowercase scheme and host,
  drop default ports, percent-decode unreserved characters and
  uppercase the remaining escapes, remove path dot-segments, empty
  path -> "/".
* Crawl conventions on top (the pywb / warcio "fuzzy canon" family):
  drop fragments, strip known tracking parameters (utm_*, gclid,
  fbclid, ...), sort surviving query parameters for order
  insensitivity.
* Registrable domain via the Mozilla Public Suffix List rule
  ("registrable domain = public suffix + one label"). The full PSL is
  a large living dataset; this module embeds a small representative
  subset of multi-label suffixes and falls back to the last two labels
  — a DOCUMENTED simplification of the public algorithm, not a
  different algorithm.

Scale posture: normalization is per-row string work inside one
``mapInPandas`` kernel (zero shuffle — the repo's no-row-at-a-time-UDF
rule); the dedup rollup that follows is a single hash aggregate on the
canonical key. At 10^12 captures that is exactly one narrow shuffle.
"""

from __future__ import annotations

import re
from typing import Iterator
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession

from ..worker import map_rows

_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
# representative multi-label public suffixes (PSL subset; see module doc)
_MULTI_SUFFIXES = frozenset(
    "co.uk org.uk ac.uk gov.uk com.au net.au org.au co.jp ne.jp co.in "
    "com.br com.cn com.mx co.za com.sg com.tr".split()
)
_TRACKING_PARAMS = frozenset("gclid fbclid msclkid yclid igshid mc_eid".split())
_DEFAULT_PORTS = {"http": 80, "https": 443}


def _pct_normalize(s: str) -> str:
    """Decode %XX escapes of unreserved characters; uppercase the rest
    (RFC 3986 §6.2.2.1-2)."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1]:
                out.pop()
                if not out:
                    out.append("")
            continue
        out.append(seg)
    # a trailing "." / ".." leaves a directory reference -> trailing slash
    if path.rstrip("/").endswith((".", "..")) and (not out or out[-1]):
        out.append("")
    return "/".join(out)


def _is_tracking(name: str) -> bool:
    n = name.lower()
    return n.startswith("utm_") or n in _TRACKING_PARAMS


def normalize_url(url: str) -> str | None:
    """Canonical form of an http(s) URL, or None if unparseable."""
    try:
        s = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = s.scheme.lower()
    if scheme not in ("http", "https") or not s.hostname:
        return None
    host = s.hostname.lower().rstrip(".")
    try:
        port = s.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    if s.username:
        netloc = f"{s.username}@{netloc}"
    path = _remove_dot_segments(_pct_normalize(s.path)) or "/"
    if not path.startswith("/"):
        path = "/" + path
    params = []
    for piece in s.query.split("&"):
        if not piece:
            continue
        name, sep, value = piece.partition("=")
        if _is_tracking(name):
            continue
        params.append((_pct_normalize(name), _pct_normalize(value), sep))
    params.sort(key=lambda t: (t[0], t[1]))
    query = "&".join(n + (("=" + v) if sep else "") for n, v, sep in params)
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")


def registered_domain(host: str) -> str:
    """Public-suffix-plus-one label (PSL-subset rule; module doc)."""
    labels = host.lower().rstrip(".").split(".")
    if len(labels) <= 2:
        return ".".join(labels)
    if ".".join(labels[-2:]) in _MULTI_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append (url_norm, domain) to a captures frame. One mapInPandas
    kernel, zero shuffle; unparseable URLs get NULLs (kept, so the
    caller decides drop-vs-quarantine)."""
    import pandas as pd

    cols = df.columns

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            norms, doms = [], []
            for u in pdf[url_col]:
                n = normalize_url(u) if u is not None else None
                norms.append(n)
                doms.append(
                    registered_domain(urlsplit(n).hostname) if n else None
                )
            pdf = pdf.copy()
            pdf["url_norm"] = norms
            pdf["domain"] = doms
            yield pdf

    from pyspark.sql.types import StringType, StructField, StructType

    # copy the field list: StructType.add mutates in place, and df.schema
    # hands back the DataFrame's own cached object
    schema = StructType(
        list(df.schema.fields)
        + [StructField("url_norm", StringType()), StructField("domain", StringType())]
    )
    return df.mapInPandas(kernel, schema=schema).select(
        *cols, "url_norm", "domain"
    )


def synth_messy_urls(
    spark: SparkSession, docs_df: DataFrame, n_docs: int = 64
) -> DataFrame:
    """Deterministic messy capture log: per document 4 raw URL variants
    that exercise every normalization rule — case, default port,
    fragment, dot-segments, percent-encoding, tracking-param strip,
    query-param sort. Variants 0-2 canonicalize to the clean document
    URL; variant 3 keeps a sorted surviving query. doc_id % 5 == 0
    documents live on a co.uk host (the PSL multi-label suffix path)."""
    from pyspark.sql import functions as F

    src = docs_df.select("doc_id").where(F.col("doc_id") < n_docs)

    def rows(r):
        d = int(r.doc_id)
        k = d % 7
        host = f"media.site{k}.co.uk" if d % 5 == 0 else f"site{k}.example"
        path = f"/doc/{d:08d}"
        yield d, f"HTTP://{host.upper()}:80{path}#section-2"
        yield d, f"http://{host}/a/../doc/./{d:08d}"
        yield d, f"http://{host}/%64oc/{d:08d}?utm_source=feed&gclid=1"
        yield d, f"http://{host}{path}?b=2&a=1&utm_x=0#f"

    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(
        src.repartition(n_parts, "doc_id"), "doc_id long, url string", lambda: rows
    )
