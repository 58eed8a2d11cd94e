"""Structured Streaming smoke: the engine's batch plan shapes run
unchanged under a streaming source (the reference is strictly batch —
SURVEY.md §2.10 — so this covers the resumable-driver direction only:
Trigger.availableNow over a parquet directory of interleaved docs,
foreachBatch running the extraction)."""

from __future__ import annotations


def test_streaming_windowed_agg(spark, tmp_path):
    from pyspark.sql import functions as F

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "events_stream")
    src.write.mode("overwrite").parquet(path)

    stream = (
        spark.readStream.schema(src.schema)
        .parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> instant
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ev_agg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS total FROM ev_agg").collect()[0]["total"]
    assert got == src.count()


def test_streaming_extraction_foreachbatch(spark, tmp_path):
    """Stream interleaved documents through the OCR extraction with
    exactly-once batch semantics (foreachBatch)."""
    from corpus_fixtures import build_corpus, corpus_to_spark
    from ocr_inference_spark.pipeline import extract_spans
    from ocr_inference_spark.schemas import DOCUMENTS_SCHEMA

    documents, pages, expected = build_corpus(n_docs=4, seed=3, pecha_docs=0)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    src_path = str(tmp_path / "docs_stream")
    out_path = str(tmp_path / "out")
    docs_df.write.mode("overwrite").parquet(src_path)
    pages_df.cache().count()

    def handle(batch_df, epoch_id):
        out = extract_spans(batch_df.sparkSession, batch_df, pages_df)
        out.write.mode("append").parquet(out_path)

    q = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .parquet(src_path)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        e["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in e["spans"]
        ]
        for e in expected
    }
    assert got == want


def test_streaming_hourly_rollup_equals_batch(spark):
    """The availableNow streaming rollup (q43) must equal the batch q29
    result row-for-row — complete-mode emission is deterministic."""
    from ocr_inference_spark.queries import q29_tumbling_window
    from ocr_inference_spark.streaming import streaming_hourly_rollup

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in q29_tumbling_window(spark, sf).collect()}
    stream = {tuple(r) for r in streaming_hourly_rollup(spark, sf).collect()}
    assert stream == batch and len(stream) > 0
