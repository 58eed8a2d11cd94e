"""Cross-page template (boilerplate) removal by domain-level block
frequency.

Single-page DOM heuristics (text/html_extract.py) strip furniture they
can RECOGNIZE — nav/footer tags, boiler class hints, link-dense blocks.
They are blind to content-shaped templates: a plain ``<p>`` with no
class, no links, repeated verbatim on every page of a site (newsletter
pitches, reader-support blurbs, legal lines). The published fix is
cross-page: a text block that appears on a large fraction of a domain's
pages is template, not content (the CCNet paragraph-frequency filter,
arXiv:1911.00359 §3.1; jusText/trafilatura corpus mode). This module is
that rule as a Spark plan.

Scale shape (the reason this is an operator and not a kernel): at 10^12
documents the per-(domain, block) frequency table is one map-side-
combined hash aggregation over TEXT SPANS ONLY (block text reduced to a
16-byte md5 key before the exchange, so shuffle bytes are rows × ~50 B
regardless of paragraph length); the FILTERED template dictionary —
blocks above the frequency threshold — is tiny (a handful of rows per
domain), so the removal pass is a broadcast anti-join, and the only
per-document work left is the dense offset re-rank, a window inside the
doc_id partition. No page bodies are ever shuffled.

North-rule surface: "HTML boilerplate strip ... DOM heuristics" — this
is the corpus-level half the DOM half cannot express. Reference
analogue: the reference strips per-page furniture geometrically
(reference/BDRC/layout_analysis.py get_text_area); the cross-page
frequency rule is its web-corpus generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..worker import map_rows


def strip_template_blocks(
    spans: DataFrame,
    domain_col: str = "domain",
    min_frac: float = 0.6,
    min_pages: int = 2,
) -> DataFrame:
    """Remove text spans whose (whitespace-trimmed, case-folded) block
    text repeats on ``>= max(min_pages, ceil(min_frac * pages))``
    distinct pages of the same registrable domain, then re-rank
    ``offset`` densely per document. Non-text spans (media) are never
    candidates. Rows with a NULL domain are kept untouched (no
    frequency evidence exists for them). Input: span rows
    (doc_id, kind, text, media_ref, offset) + ``domain_col``."""
    key = F.md5(F.lower(F.trim(F.col("text"))))
    text_keys = (
        spans.where(F.col("kind") == "text")
        .select(domain_col, "doc_id", key.alias("block_key"))
    )
    # one exchange, partial-aggregated map-side; 16-byte keys, not text
    counts = text_keys.groupBy(domain_col, "block_key").agg(
        F.countDistinct("doc_id").alias("block_pages")
    )
    # denominator = pages that contributed at least one text block (the
    # CCNet convention); derived from the same keyed projection so the
    # span source is not re-aggregated a third time
    pages = text_keys.groupBy(domain_col).agg(
        F.countDistinct("doc_id").alias("domain_pages")
    )
    template = (
        counts.join(pages, domain_col)
        .where(
            F.col("block_pages")
            >= F.greatest(
                F.lit(min_pages),
                F.ceil(F.lit(min_frac) * F.col("domain_pages")),
            )
        )
        .select(domain_col, "block_key")
    )
    kept = (
        spans.withColumn(
            "block_key", F.when(F.col("kind") == "text", key)
        )
        .join(F.broadcast(template), [domain_col, "block_key"], "left_anti")
        .drop("block_key")
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    return kept.withColumn(
        "offset", (F.row_number().over(w) - F.lit(1)).cast("int")
    )


# ---------------------------------------------------------------------------
# Deterministic synthetic corpus (the q30/q34/q44 spec-derivation recipe)
# ---------------------------------------------------------------------------


def template_blocks_for(site: int) -> tuple[str, str]:
    """The two content-shaped template paragraphs every page of
    ``site{site}.example`` carries — pure functions of the site id, so
    DuckDB re-derives them from doc_id alone."""
    return (
        f"Subscribe to the Portal {site} newsletter for daily updates",
        f"Portal {site} is a reader-supported publication",
    )


def synth_boiler_corpus(
    spark: SparkSession, docs_df: DataFrame, n_docs: int = 64
) -> DataFrame:
    """documents -> (doc_id, url, html) pages where every page carries
    its site's two template blocks inside the content div. Rendered
    executor-side, zero extra shuffle beyond the doc_id spread."""
    from .html_extract import synth_html_for
    from .warc import url_of

    src = docs_df.select("doc_id", "text").where(F.col("doc_id") < n_docs)

    def rows(r):
        d = int(r.doc_id)
        yield d, url_of(d), synth_html_for(d, r.text or "", template_blocks_for(d % 7))

    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(
        src.repartition(n_parts, "doc_id"),
        "doc_id long, url string, html string",
        lambda: rows,
    )
