"""Sitemap parsing (sitemaps.org XML) and crawl-coverage audit.

A crawl pipeline uses sitemaps in both directions: as a URL frontier
(what the site says exists) and as an audit (what the crawl actually
captured vs what was advertised). The coverage join is the useful
operator at scale: a FULL OUTER equi-join between the advertised URL
set and the captured URL set — rows missing on either side are the
actionable output (listed-but-never-crawled = frontier gaps;
captured-but-unlisted = discovery via links). Both sides are
zero-shuffle kernel extractions from the same WARC stream; the outer
join is the one necessary exchange (an outer join cannot broadcast —
both sides' non-matches survive).

The parser is a tolerant scan (regex over <url> blocks, entity
decoding for the five XML predefines), not a conforming XML parser:
real-world sitemaps are full of namespace soup and stray bytes, and a
crawler needs loc/lastmod recovery, not validation. <sitemapindex>
files are recognized and their <loc> children returned with
``is_index=True`` so a frontier can enqueue the nested fetches.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import map_rows

_URL_BLOCK_RE = re.compile(r"<(url|sitemap)\b[^>]*>(.*?)</\1>", re.S | re.I)
_LOC_RE = re.compile(r"<loc\b[^>]*>\s*(.*?)\s*</loc>", re.S | re.I)
_LASTMOD_RE = re.compile(r"<lastmod\b[^>]*>\s*(.*?)\s*</lastmod>", re.S | re.I)
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&apos;": "'",
}


def _unescape(s: str) -> str:
    for k, v in _ENTITIES.items():
        s = s.replace(k, v)
    return s


def parse_sitemap(text: str) -> list[tuple[str, str | None, bool]]:
    """Sitemap XML -> [(loc, lastmod, is_index)]: one row per <url>
    entry (is_index=False) or per <sitemap> child of a sitemapindex
    (is_index=True). Entries without a <loc> are skipped; everything
    else about the document is ignored (tolerant scan)."""
    out = []
    for m in _URL_BLOCK_RE.finditer(text):
        block = m.group(2)
        loc = _LOC_RE.search(block)
        if not loc or not loc.group(1):
            continue
        lastmod = _LASTMOD_RE.search(block)
        out.append(
            (
                _unescape(loc.group(1)),
                _unescape(lastmod.group(1)) if lastmod else None,
                m.group(1).lower() == "sitemap",
            )
        )
    return out


def warc_extract_sitemaps(warc_df: DataFrame) -> DataFrame:
    """(warc_name, data) -> (loc, lastmod, is_index) for every URL
    advertised by a captured sitemap (200 application/xml or text/xml
    response at a path ending in .xml). Zero shuffle."""
    from .warc import ok_responses

    def rows(r):
        for url, _, body in ok_responses(r.data, ("application/xml", "text/xml")):
            if url.endswith(".xml"):
                yield from parse_sitemap(body.decode("utf-8", "replace"))

    return map_rows(
        warc_df.select("data"), "loc string, lastmod string, is_index boolean", lambda: rows
    )


def crawl_coverage(listed: DataFrame, captured: DataFrame) -> DataFrame:
    """Advertised (loc, lastmod) x captured (url) -> one row per URL
    seen on either side: (url, listed, captured, lastmod). The FULL
    OUTER equi-join is the point — frontier gaps (listed-only) and
    link-discovered pages (captured-only) both survive."""
    left = (
        listed.where(~F.col("is_index"))
        .groupBy(F.col("loc").alias("url"))
        .agg(F.min("lastmod").alias("lastmod"))
        .withColumn("listed", F.lit(True))
    )
    right = captured.select("url").distinct().withColumn("captured", F.lit(True))
    return (
        left.join(right, "url", "full_outer")
        .select(
            "url",
            F.coalesce("listed", F.lit(False)).alias("listed"),
            F.coalesce("captured", F.lit(False)).alias("captured"),
            "lastmod",
        )
    )
