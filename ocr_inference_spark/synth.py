"""Distributed deterministic corpus synthesis.

Builds an interleaved (documents, pages) pair from the driver-provided
``documents.parquet`` testdata: each source row's text seeds one
document whose media pages are *rendered inside executors*
(``render_pages``, a ``worker.map_rows`` kernel over the text rows), so
corpus generation scales with the cluster the same way the pipeline
does — nothing materializes on the driver.

Deterministic: page content depends only on (doc text, doc index);
distortion style derives from a hash of the doc id, not an RNG stream
shared across partitions.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .glyphs import CHARSET
from .imgcodec import png_encode
from .render import render_page
from .worker import map_rows

_ALLOWED = set(CHARSET)

PAGES_GEN_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("page_lines", T.ArrayType(T.StringType()), False),
    ]
)


def _clean_for_glyphs(text: str) -> str:
    return "".join(ch if ch in _ALLOWED else " " for ch in text.lower())


def page_lines_for(text: str, n_lines: int = 3, width: int = 28) -> list[str]:
    """Deterministic line texts derived from a source string."""
    body = _clean_for_glyphs(text)
    lines = []
    for i in range(n_lines):
        seg = body[i * width : (i + 1) * width].strip()
        if not seg:
            seg = f"line {i}"
        lines.append(seg)
    return lines


def _style_for(ref: str) -> dict:
    h = int(hashlib.md5(ref.encode()).hexdigest()[:8], 16)
    style = h % 4
    kw = {
        # page furniture the pipeline must strip (sub-line noise via the
        # size filter, line-shaped captions via the text-area filter) —
        # golden lines are unaffected, so span equality still holds
        "noise": bool((h >> 20) & 1),
        "caption": bool((h >> 21) & 1),
    }
    if style == 1:
        kw["skew_deg"] = 0.8 + (h >> 4) % 300 / 100.0 * (1 if h & 1 else -1)
    elif style == 2:
        kw["warp_amp"] = 36 + (h >> 6) % 16
    elif style == 3:
        kw["skew_deg"] = 0.8 + (h >> 4) % 200 / 100.0
        kw["warp_amp"] = 36 + (h >> 6) % 12
    return kw


def _render_rows(r):
    lines = page_lines_for(r.text, int(r.n_lines))
    img = render_page(lines, **_style_for(r.media_ref))
    yield r.media_ref, png_encode(img), int(img.shape[1]), int(img.shape[0]), lines


def render_pages(media: DataFrame) -> DataFrame:
    """(media_ref, text, n_lines) rows -> PAGES_GEN_SCHEMA pages, each
    rendered executor-side from its text."""
    return map_rows(media, PAGES_GEN_SCHEMA, lambda: _render_rows)


def synth_corpus(
    spark: SparkSession,
    sf_dir: str,
    n_docs: int | None = None,
    pages_per_doc: int = 1,
    lines_per_page: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (documents_df, pages_df, expected_df) — interleaved docs
    seeded by the testdata ``documents`` table, with golden output."""
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("src_id"), "text"
    )
    if n_docs is not None:
        src = src.where(F.col("src_id") < n_docs)

    page_idx = F.explode(F.sequence(F.lit(0), F.lit(pages_per_doc - 1))).alias("p")
    media = src.select("src_id", "text", page_idx).select(
        "src_id",
        "text",
        F.format_string("page_%08d_%02d", "src_id", "p").alias("media_ref"),
        F.col("p"),
        F.lit(lines_per_page).alias("n_lines"),
    )
    # the documents scan is a handful of small files -> without an
    # explicit exchange the render kernel would run in ONE task no
    # matter how many pages it synthesizes; page rendering is
    # embarrassingly parallel, so spread it across the cluster first
    render_parts = spark.sparkContext.defaultParallelism * 2
    pages_full = render_pages(
        media.select("media_ref", "text", "n_lines").repartition(render_parts, "media_ref")
    )
    pages_df = pages_full.select("media_ref", "content", "width", "height")

    # document = [text span (head of source text), media spans...]
    doc_id = F.format_string("doc_%08d", "src_id")
    head_text = F.substring(F.lower(F.regexp_replace("text", r"[^a-z0-9 .,'\-]", " ")), 1, 40)
    text_span = F.struct(
        F.lit("text").alias("kind"),
        head_text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.col("media_ref").alias("media_ref"),
        (F.col("p") + 1).cast("int").alias("offset"),
    )
    media_spans_df = media.groupBy("src_id").agg(
        F.array_sort(F.collect_list(media_span)).alias("mspans")
    )
    docs_df = (
        src.join(media_spans_df, "src_id")
        .select(
            doc_id.alias("doc_id"),
            F.concat(F.array(text_span), F.col("mspans")).alias("spans"),
        )
    )

    # golden output: text span, then per media span the media span + its lines
    exp_media = (
        media.join(pages_full.select("media_ref", "page_lines"), "media_ref")
        .select(
            "src_id",
            "p",
            "media_ref",
            "page_lines",
        )
    )
    exp_spans = exp_media.groupBy("src_id").agg(
        F.array_sort(
            F.collect_list(F.struct("p", "media_ref", "page_lines"))
        ).alias("ms")
    )
    flat = F.flatten(
        F.transform(
            "ms",
            lambda m: F.concat(
                F.array(
                    F.struct(
                        F.lit("media").alias("kind"),
                        F.lit(None).cast("string").alias("text"),
                        m["media_ref"].alias("media_ref"),
                    )
                ),
                F.transform(
                    m["page_lines"],
                    lambda t: F.struct(
                        F.lit("text").alias("kind"),
                        t.alias("text"),
                        m["media_ref"].alias("media_ref"),
                    ),
                ),
            ),
        )
    )
    head_struct = F.struct(
        F.lit("text").alias("kind"),
        head_text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )
    expected_df = (
        src.join(exp_spans, "src_id")
        .select(
            doc_id.alias("doc_id"),
            F.concat(F.array(head_struct), flat).alias("raw"),
        )
        .select(
            "doc_id",
            F.transform(
                "raw",
                lambda x, i: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    return docs_df, pages_df, expected_df
