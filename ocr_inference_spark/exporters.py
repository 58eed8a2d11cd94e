"""Sinks: TXT / PageXML / JSONL / detection-parquet exporters.

Re-expresses the reference's exporter family (BDRC/exporter.py) and the
detection parquet sink (write_result_parquet, BDRC/utils.py:1119-1139)
as DataFrame writes. All formatting happens in JVM expressions
(concat_ws/transform/to_json) — one output file per page is replaced by
partitioned columnar output, which is the cluster-native equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ocr_lines_to_txt(ocr_df: DataFrame, out_dir: str) -> None:
    """K1 TXT sink (TextExporter.export_lines, BDRC/exporter.py:296-320):
    one text line per detected line in reading order, grouped per page.
    Written as a text-format table partitioned by nothing (driver-side
    order within a page preserved through array_sort)."""
    per_page = (
        ocr_df.where(F.col("status") == "success")
        .groupBy("doc_id", "media_ref")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_rank", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("value")
        )
        .select(F.concat_ws("\n", F.col("media_ref"), F.col("value")).alias("value"))
    )
    per_page.write.mode("overwrite").text(out_dir)


def ocr_lines_to_jsonl(ocr_df: DataFrame, out_dir: str) -> None:
    """K3 JSONL sink (JsonExporter, BDRC/exporter.py:355-407):
    {image, lines, text[]} per page."""
    per_page = (
        ocr_df.where(F.col("status") == "success")
        .groupBy("doc_id", "media_ref")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_rank", "text"))),
                lambda s: s["text"],
            ).alias("text")
        )
        .select(
            F.col("media_ref").alias("image"),
            F.col("doc_id"),
            F.col("text"),
        )
    )
    per_page.write.mode("overwrite").json(out_dir)


def _xml_escape(col):
    """Escape &, <, >, \" for XML text AND attribute content (& first —
    the reference gets this for free from xml.etree; raw concat without
    it yields malformed PageXML for any text containing markup chars,
    and a media_ref containing a double quote would break the
    imageFilename attribute)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    return F.replace(out, F.lit('"'), F.lit("&quot;"))


def _points_string(contour):
    """contour array<struct<x,y>> -> 'x,y x,y ...' (C13 point-string
    formatting, reference: BDRC/exporter.py:82-113)."""
    return F.array_join(
        F.transform(
            contour,
            lambda p: F.concat(p["x"].cast("string"), F.lit(","), p["y"].cast("string")),
        ),
        " ",
    )


def detection_line_polygons(det_df: DataFrame) -> DataFrame:
    """Detection table -> one row per line: (media_ref, line_rank,
    points) with the Coords point string. Contours are emitted in
    reading order, so position == line_rank."""
    return det_df.select(
        F.col("image_name").alias("media_ref"),
        F.posexplode("contours").alias("line_rank", "contour"),
    ).select("media_ref", "line_rank", _points_string(F.col("contour")).alias("points"))


def ocr_lines_to_pagexml(
    ocr_df: DataFrame, out_dir: str, det_df: DataFrame | None = None
) -> None:
    """K2 PageXML sink (PageXMLExporter, BDRC/exporter.py:162-276):
    PcGts document per page with reading-order indexed lines; each
    TextLine carries its polygon ``<Coords points="x,y x,y ..."/>``
    like build_xml_document (reference: BDRC/exporter.py:162-233).
    Pure string expressions.

    Coords come from the OCR rows' own ``contour`` column when present
    — the SAME rectified geometry the text was recognized in, exactly
    like the reference (which exports contours from the inference run
    itself). Passing ``det_df`` overrides with a detection table, but
    that table MUST come from an identical-geometry run: detect_lines
    segments the UN-rectified ink, so on skewed/warped pages its line
    count/order can differ from the OCR pass and a TextLine would get
    the wrong polygon."""
    lines_src = ocr_df.where(F.col("status") == "success")
    if det_df is not None:
        polys = detection_line_polygons(det_df)
        lines_src = lines_src.drop("points").join(
            polys, ["media_ref", "line_rank"], "left"
        )
    elif "contour" in ocr_df.columns:
        lines_src = lines_src.withColumn(
            "points",
            F.when(
                F.col("contour").isNotNull(), _points_string(F.col("contour"))
            ),
        )
    else:
        lines_src = lines_src.withColumn("points", F.lit(None).cast("string"))
    line_xml = F.transform(
        F.array_sort(F.collect_list(F.struct("line_rank", "text", "points"))),
        lambda s: F.concat(
            F.lit('    <TextLine id="l'),
            s["line_rank"].cast("string"),
            F.lit('" index="'),
            s["line_rank"].cast("string"),
            F.lit('">'),
            F.when(
                s["points"].isNotNull(),
                F.concat(F.lit('<Coords points="'), s["points"], F.lit('"/>')),
            ).otherwise(F.lit("")),
            F.lit("<TextEquiv><Unicode>"),
            _xml_escape(s["text"]),
            F.lit("</Unicode></TextEquiv></TextLine>"),
        ),
    )
    per_page = (
        lines_src.groupBy("doc_id", "media_ref")
        .agg(line_xml.alias("lines"))
        .select(
            F.concat(
                F.lit('<?xml version="1.0" encoding="UTF-8"?>\n<PcGts>\n'),
                F.lit('  <Page imageFilename="'),
                _xml_escape(F.col("media_ref")),
                F.lit('">\n'),
                F.array_join(F.col("lines"), "\n"),
                F.lit("\n  </Page>\n</PcGts>"),
            ).alias("value")
        )
    )
    per_page.write.mode("overwrite").text(out_dir)


def detection_to_parquet(det_df: DataFrame, out_dir: str) -> None:
    """K4 detection parquet sink (``pipeline.DETECTION_OUT_SCHEMA``, the
    reference's LINE_DETECTION_SCHEMA, Config.py:90-115; zstd like
    BDRC/utils.py:1139)."""
    det_df.write.mode("overwrite").option("compression", "zstd").parquet(out_dir)


def ocr_lines_to_parquet(ocr_df: DataFrame, out_dir: str) -> None:
    """K5 OCR-lines parquet sink (save_ocr_lines_parquet,
    BDRC/utils.py:1240-1292; zstd level ~7 -> codec zstd)."""
    ocr_df.write.mode("overwrite").option("compression", "zstd").parquet(out_dir)
