"""Explicit StructType schemas — never inferred (SURVEY.md §1.3).

The reference declares its Parquet schemas by hand
(LINE_DETECTION_SCHEMA, Config.py:90-115; OCR-lines schema,
BDRC/utils.py:1273-1285); we do the same for every table the engine
touches. The input/output span shape is authoritative from
BASELINE.json ``input_hint``. The detection table's schema, the
analogue of the reference's LINE_DETECTION_SCHEMA, is
``pipeline.DETECTION_OUT_SCHEMA``, next to ``detect_lines``, the one
writer of it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- primary input/output: interleaved text+media documents ---------------

SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),       # 'text' | 'media'
        T.StructField("text", T.StringType(), True),       # non-null for text spans
        T.StructField("media_ref", T.StringType(), True),  # non-null for media spans
        T.StructField("offset", T.IntegerType(), True),    # 0-based position in doc
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
    ]
)

# --- media sidecar: page payloads resolved by media_ref -------------------
# (the reference reads these from disk via cv2.imread, cli.py:114; we
# carry encoded bytes in-table so executors never touch a filesystem)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),  # PNG bytes
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

# --- intermediate: per-line OCR rows out of the page kernel ---------------
# (cf. save_ocr_lines_parquet schema, BDRC/utils.py:1273-1285; guid is a
# deterministic content hash here — uuid1 is wall-clock-dependent,
# SURVEY.md §7 "determinism")

OCR_LINES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_offset", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("line_rank", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ctc_conf", T.FloatType(), True),
        T.StructField("page_angle", T.DoubleType(), True),
        T.StructField("dewarp_applied", T.BooleanType(), True),
        T.StructField("n_lines", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        # per-stage wall-clock ms (decode/detect/deskew/dewarp/extract/
        # recognize) — audit plane only (BDRC/audit_logger.py:41-64);
        # identical across a page's line rows
        T.StructField("stage_ms", T.MapType(T.StringType(), T.DoubleType()), True),
        # simplified line polygon in the SAME rectified geometry the
        # text was recognized in (the reference's PageXML Coords come
        # from the same inference run, BDRC/exporter.py:162-233)
        T.StructField(
            "contour",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("x", T.IntegerType(), True),
                        T.StructField("y", T.IntegerType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

# --- metrics / checkpoint table (FIXTURES.md §6) ---------------------------
# mirrors per-page metrics (BDRC/pipeline.py:177-187), batch aggregates
# (BDRC/artifact_manager.py:120-139), audit records (BDRC/audit_logger.py)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        # bucketing modulus recorded per row: resuming a job with a
        # different --buckets silently mismatches bucket numbers
        # (skipped + duplicated docs) — run_resumable fails fast on it
        T.StructField("n_buckets", T.IntegerType(), True),
        T.StructField("docs", T.LongType(), True),
        T.StructField("pages", T.LongType(), True),
        T.StructField("lines", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("stage", T.StringType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
