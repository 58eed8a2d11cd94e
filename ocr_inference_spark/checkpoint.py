"""Resumable runs: per-partition lineage + metrics table.

Mirrors the reference's job-directory + audit-log practice
(ArtifactManager job dirs, BDRC/artifact_manager.py:23-45; AuditLogger
stage records, BDRC/audit_logger.py:46-58) with a relational design:

- work is bucketed by ``pmod(xxhash64(doc_id), n_buckets)`` — a
  deterministic function of the data, so a rerun derives the same
  buckets;
- each completed bucket appends one metrics row (job_id, bucket,
  n_buckets, docs, pages, lines, chars, status, stage, duration_ms,
  ts); the recorded n_buckets guards resumes against a modulus change;
- the output is written ``partitionBy(bucket)`` with dynamic partition
  overwrite, so re-processing a bucket is idempotent;
- resume = anti-join the input's buckets against completed metrics rows
  (SURVEY.md §2.10) — only unfinished buckets are read, decoded, OCRed.

At 10^12 documents the metrics table is tiny (n_buckets rows per job),
always broadcast-joinable.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import reassemble_spans, recognize_pages, text_only
from .schemas import METRICS_SCHEMA


FINAL_STAGE = "ocr+reassemble"  # the row that marks a bucket complete


def bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, metrics_path: str, job_id: str) -> DataFrame:
    """Buckets already recorded successful for this job (empty if none)."""
    try:
        m = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
    except Exception:
        return spark.createDataFrame([], "bucket int")
    return (
        m.where(
            (F.col("job_id") == job_id)
            & (F.col("status") == "success")
            & (F.col("stage") == FINAL_STAGE)  # stage-audit rows don't complete a bucket
        )
        .select("bucket")
        .distinct()
    )


def _validate_n_buckets(
    spark: SparkSession, metrics_path: str, job_id: str, n_buckets: int
) -> None:
    """Fail fast if this job_id was previously run with a different
    bucketing modulus: completed bucket NUMBERS computed under another
    modulus would silently skip some documents and re-key others, so the
    dynamic partition overwrite no longer replaces their old copies."""
    try:
        m = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
    except Exception:
        return
    seen = [
        r[0]
        for r in m.where(F.col("job_id") == job_id)
        .select("n_buckets")
        .where(F.col("n_buckets").isNotNull())
        .distinct()
        .collect()  # metrics table is tiny (<= n_buckets rows per job)
    ]
    bad = [v for v in seen if v != n_buckets]
    if bad:
        raise ValueError(
            f"job {job_id!r} has checkpoints recorded with n_buckets="
            f"{sorted(set(bad))}; resuming with n_buckets={n_buckets} would "
            "mismatch bucket numbers (skipped/duplicated documents). Rerun "
            "with the original value or use a new job_id."
        )


def run_resumable(
    spark: SparkSession,
    docs_df: DataFrame,
    pages_df: DataFrame,
    output_path: str,
    metrics_path: str,
    job_id: str,
    n_buckets: int = 32,
    strategy: str = "shuffle",
    options=None,
    encoding: str = "unicode",
) -> None:
    """Process only unfinished buckets; append metrics; idempotent output.

    ``options``: page.PipelineOptions threaded into the OCR kernel, run
    ``text_only`` because only spans and metrics are written.
    ``encoding``: 'unicode' (as recognized) or 'wylie' — the reference's
    --encoding switch (cli.py:25); 'wylie' transliterates every output
    TEXT span relationally (text/encodings.to_translit), media spans
    untouched.

    Work, metrics and the output sink all share ONE bucketing —
    ``pmod(xxhash64(doc_id), n_buckets)`` — so every output partition a
    run overwrites is exactly a set of fully-recomputed documents (a
    mixed granularity would let a partial rerun clobber sibling rows).
    Compute skew inside a bucket is not a concern: recognize_pages
    re-distributes its input at page granularity (media_ref) regardless,
    so a 784-page document still spreads across the cluster.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _validate_n_buckets(spark, metrics_path, job_id, n_buckets)
    t0 = time.monotonic()

    docs_b = docs_df.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
    done = completed_buckets(spark, metrics_path, job_id)
    # prune finished work before any page bytes are read (broadcast anti-join)
    todo_docs = docs_b.join(F.broadcast(done), "bucket", "left_anti")

    ocr = recognize_pages(
        spark, todo_docs.drop("bucket"), pages_df, strategy=strategy,
        options=text_only(options),
    )
    ocr.cache()

    out = reassemble_spans(todo_docs.drop("bucket"), ocr)
    if encoding == "wylie":
        from .text.encodings import to_translit

        out = out.withColumn(
            "spans",
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    F.when(s["kind"] == "text", to_translit(s["text"]))
                    .otherwise(s["text"])
                    .alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ),
        )
    out_bucketed = out.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
    out_bucketed.write.mode("overwrite").partitionBy("bucket").parquet(output_path)

    duration_ms = (time.monotonic() - t0) * 1000.0
    doc_counts = (
        todo_docs.groupBy("bucket").agg(F.count("*").alias("docs"))
    )
    ocr_counts = (
        ocr.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
        .groupBy("bucket")
        .agg(
            F.countDistinct("media_ref").alias("pages"),
            F.sum(F.when(F.col("line_rank") >= 0, 1).otherwise(0)).alias("lines"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("chars"),
        )
    )
    # per-stage audit rows (K8, AuditLogger.log_stage_start/_end/_error,
    # BDRC/audit_logger.py:41-64): one row per (bucket, stage) with the
    # summed kernel stage time; a stage any page failed at gets status
    # 'failed' and the failed-page count in ``docs``
    page_stage = (
        ocr.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
        .groupBy("bucket", "doc_id", "media_ref", "status")
        .agg(F.first("stage_ms").alias("stage_ms"))
    )
    stage_rows = page_stage.select(
        "bucket", "status", F.explode_outer("stage_ms").alias("stage", "ms")
    ).where(F.col("stage").isNotNull())
    stage_metrics = (
        stage_rows.groupBy("bucket", "stage")
        .agg(
            F.sum("ms").alias("duration_ms"),
            F.sum(
                F.when(F.col("status") == F.concat(F.lit("failed:"), F.col("stage")), 1)
                .otherwise(0)
            ).alias("n_failed"),
            F.count("*").alias("docs"),
        )
        .withColumn(
            "status", F.when(F.col("n_failed") > 0, "failed").otherwise("success")
        )
        .withColumn("pages", F.col("docs"))
        .withColumn("lines", F.lit(None).cast("long"))
        .withColumn("chars", F.lit(None).cast("long"))
    )

    metrics = (
        doc_counts.join(ocr_counts, "bucket", "left_outer")
        .na.fill(0, ["pages", "lines", "chars"])
        .withColumn("status", F.lit("success"))
        .withColumn("stage", F.lit(FINAL_STAGE))
        .withColumn("duration_ms", F.lit(duration_ms))
        .unionByName(stage_metrics.select(
            "bucket", "docs", "pages", "lines", "chars", "status", "stage",
            "duration_ms",
        ))
        .withColumn("job_id", F.lit(job_id))
        .withColumn("n_buckets", F.lit(n_buckets))
        .withColumn("ts", F.current_timestamp())
        .select([f.name for f in METRICS_SCHEMA.fields])
    )
    metrics.write.mode("append").parquet(metrics_path)
    ocr.unpersist()
