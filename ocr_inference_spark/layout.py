"""LAYOUT mode: per-region class detection (LineMode.LAYOUT,
reference: BDRC/data.py:46-50; LayoutDetection, BDRC/inference.py:186-276).

The reference's layout model segments a page into class planes
(``line``, ``margin``, ``caption``, ``pagenr``, ``header``, ... —
Config.py COLOR_DICT) and ``filter_classes`` keeps the requested ones
(BDRC/inference.py:868-888). Without a trained net, the classes the
synthetic corpus can produce are recovered GEOMETRICALLY from the same
component analysis the line path uses — each rule names the layout
semantics it stands in for:

- ``line``:   line-sized component whose center lies in the text area
- ``caption``: line-sized component OUTSIDE the text area
- ``margin``: tall thin rule hugging a vertical page edge
- ``header``: wide thin rule at the very top
- ``pagenr``: small isolated blob in the bottom page band
- ``text``:   anything else inside the text area (fallback)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .imgcodec import decode_image
from .kernels.binarize import binarize, to_gray
from .kernels.components import (
    Component,
    filter_in_text_area,
    filter_line_contours,
    get_text_area,
)
from .kernels.morphology import H_RADIUS, V_RADIUS
from .page import _detect
from .pipeline import by_page
from .worker import map_rows

LAYOUT_CLASSES = ("line", "caption", "margin", "header", "pagenr", "text")

LAYOUT_OUT_SCHEMA = (
    "image_name string, cls string, x int, y int, w int, h int, status string"
)

# Classifier thresholds — page-FRACTION rules, named so the contract is
# explicit (a drift test in tests/test_layout.py asserts the synthetic
# furniture geometry sits well inside these acceptance regions, so a
# renderer tweak cannot silently split classes):
THIN_RULE_PX = 10          # max stroke thickness (after mask deflation) of a rule
MARGIN_MIN_H_FRAC = 0.5    # vertical rule spans > half the page height
MARGIN_MAX_W_FRAC = 0.05   # ... and is narrow
MARGIN_EDGE_FRAC = 0.08    # ... hugging either vertical page edge
HEADER_MAX_Y_FRAC = 0.05   # horizontal rule in the top band
HEADER_MIN_W_FRAC = 0.3    # ... spanning a real fraction of the width
PAGENR_MIN_Y_FRAC = 0.8    # small blob in the bottom band
# pagenr size bounds are fractions of page WIDTH: a page number's glyph
# size tracks the text size (≈ width), not how many lines the page
# happens to carry (height) — a height-relative bound misclassifies the
# same blob on short pages; height is deflated by the mask dilation
PAGENR_MAX_W_FRAC = 0.1
PAGENR_MAX_H_FRAC_W = 0.05


def classify_regions(
    comps: list[Component], shape: tuple[int, int], width: int
) -> list[tuple[str, Component]]:
    """(class, component) per region under the rules above."""
    h_img, w_img = shape
    line_sized_comps = filter_line_contours(
        comps, width, deflate_w=H_RADIUS, deflate_h=V_RADIUS
    )
    line_sized = set(id(c) for c in line_sized_comps)
    # text area from LINE-SIZED components only — the reference derives
    # it from the line-channel prediction mask (BDRC/utils.py:576-608),
    # which never contains furniture; clustering ALL components lets a
    # full-width header's dilation reach swallow bottom-band blobs on
    # short pages
    area = get_text_area(line_sized_comps)
    in_area = set(id(c) for c in filter_in_text_area(comps, area))
    out: list[tuple[str, Component]] = []
    for c in comps:
        thin = (c.median_thickness() - 2 * V_RADIUS) <= THIN_RULE_PX
        if id(c) in line_sized:
            out.append(("line" if id(c) in in_area else "caption", c))
        elif c.h > MARGIN_MIN_H_FRAC * h_img and c.w < MARGIN_MAX_W_FRAC * w_img and (
            c.x < MARGIN_EDGE_FRAC * w_img
            or c.x + c.w > (1 - MARGIN_EDGE_FRAC) * w_img
        ):
            # a vertical rule is thin HORIZONTALLY (its column thickness
            # is its height) — width bound is the thinness test here
            out.append(("margin", c))
        elif thin and c.y < HEADER_MAX_Y_FRAC * h_img and c.w > HEADER_MIN_W_FRAC * w_img:
            out.append(("header", c))
        elif (
            c.y + c.h > PAGENR_MIN_Y_FRAC * h_img
            and c.w < PAGENR_MAX_W_FRAC * w_img
            and (c.h - 2 * V_RADIUS) < PAGENR_MAX_H_FRAC_W * w_img
            and id(c) not in in_area
        ):
            out.append(("pagenr", c))
        else:
            out.append(("text", c))
    return out


def detect_layout(
    spark: SparkSession, pages_df: DataFrame, filter_classes: list[str] | None = None
) -> DataFrame:
    """Pages -> one row per region (image_name, cls, bbox). The F5
    class filter (``filter_classes``, BDRC/inference.py:868-888) is a
    relational ``isin`` AFTER the kernel so Catalyst can prune it."""

    def rows(r):
        try:
            ink = binarize(to_gray(decode_image(bytes(r.content))))
        except Exception:
            yield r.media_ref, None, 0, 0, 0, 0, "failed:decode"
            return
        mask, comps = _detect(ink)
        for cls, c in classify_regions(comps, mask.shape, ink.shape[1]):
            yield r.media_ref, cls, c.x, c.y, c.w, c.h, "success"

    pages = by_page(spark, pages_df.select("media_ref", "content"))
    out = map_rows(pages, LAYOUT_OUT_SCHEMA, lambda: rows)
    if filter_classes:
        out = out.where(F.col("cls").isin(filter_classes))
    return out


# ---------------------------------------------------------------------------
# Oracle-checkable layout corpus: pages rendered FROM a deterministic
# region spec, so a SQL engine can compute the expected per-class counts
# from the same spec without running the kernel (q38's correctness gate).
# ---------------------------------------------------------------------------

_SPEC_LINE_POOL = (
    "the quick brown fox",
    "jumps over the lazy dog",
    "a spark native engine",
)


def layout_spec(docs_df: DataFrame, n_docs: int = 48) -> DataFrame:
    """Deterministic per-page region spec from the documents table:
    (doc_id, n_lines in 1..3, caption bool, noise bool), every term
    derived via md5/ascii so the identical spec is expressible in ANSI
    SQL (the oracle counts classes from this spec directly)."""
    first = docs_df.select("doc_id").orderBy("doc_id").limit(n_docs)
    # md5 of the id's decimal-string UTF-8 bytes (doc_id is BIGINT in
    # the testdata; DuckDB's md5(doc_id) implicitly casts the same way)
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return first.select(
        "doc_id",
        (F.lit(1) + F.ascii(F.substring(h, 1, 1)) % 3).alias("n_lines"),
        ((F.ascii(F.substring(h, 2, 1)) % 2) == 0).alias("caption"),
        ((F.ascii(F.substring(h, 3, 1)) % 2) == 0).alias("noise"),
    )


def render_layout_pages(spark: SparkSession, spec_df: DataFrame) -> DataFrame:
    """Spec rows -> pages table (media_ref, content, width, height),
    rendered distributively (mapInPandas). A page carries exactly
    n_lines text-line bands, plus a caption band / margin-header-pagenr
    furniture when the spec says so — the region inventory the layout
    kernel must recover class-for-class."""
    from .bmpcodec import bmp_encode, pnm_encode
    from .gifcodec import gif_encode
    from .imgcodec import png_encode, tiff_encode
    from .jpegcodec import jpeg_encode, jpeg_encode_progressive
    from .render import render_page

    # rotate container formats per doc so the driver's own
    # correctness gate (q34/q38 vs the DuckDB spec oracle) exercises
    # the real ingestion codecs, not just PNG. The lossless slots
    # are GEOMETRY-exact (G4 rethresholds {25,235} -> {0,255}, which
    # shifts the adaptive-binarization operating point but not the
    # detected geometry); the two JPEG slots (baseline q95 +
    # progressive q95 — the hardest decoder in the repo) are lossy
    # but provably quantization-invariant for spec pages: worst-case
    # pixel error is < 20 levels against a 210-level ink/paper
    # separation, so binarize recovers the identical mask
    # (tests/test_layout.py::test_jpeg_slots_geometry_invariant
    # pins region equality across every spec shape)
    encoders = [
        png_encode,
        lambda im: tiff_encode(im, compression="g4"),
        lambda im: tiff_encode(im, compression="lzw", predictor=2),
        lambda im: tiff_encode(im, compression="deflate", predictor=2),
        lambda im: tiff_encode(im, compression="packbits"),
        lambda im: jpeg_encode(im, quality=95),
        lambda im: jpeg_encode_progressive(im, quality=95),
        bmp_encode,  # cv2.imread --image surface (bit-exact)
        pnm_encode,  # netpbm P5 (bit-exact)
        gif_encode,  # web still-image surface (256-gray GCT, bit-exact)
    ]

    def rows(r):
        img = render_page(
            list(_SPEC_LINE_POOL[: int(r.n_lines)]),
            caption=bool(r.caption),
            noise=bool(r.noise),
        )
        content = encoders[int(r.doc_id) % len(encoders)](img)
        yield str(r.doc_id), content, int(img.shape[1]), int(img.shape[0])

    n = spark.sparkContext.defaultParallelism
    return map_rows(
        spec_df.repartition(n, "doc_id"),
        "media_ref string, content binary, width int, height int",
        lambda: rows,
    )
