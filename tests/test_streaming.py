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
    from ocr_inference_spark.fixtures import build_corpus, corpus_to_spark
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


def test_streaming_stateful_exact_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates that arrive in LATER
    micro-batches are suppressed by state (maxFilesPerTrigger=1 forces
    one batch per file)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_inference_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_in")
    schema = "doc_id long, text string"
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "Alpha  beta GAMMA")],
        schema,
    )
    batch2 = spark.createDataFrame(
        [(4, "alpha beta gamma"), (5, "zeta eta"), (6, "delta epsilon")],
        schema,
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_exact_dedup(stream, "doc_id", "text")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r["dup_key"]: r["id"] for r in spark.sql("SELECT * FROM dedup_out").collect()}
    # 3 distinct normalized texts total; within each key the smallest id
    # of the FIRST batch it appeared in wins; later-batch dups suppressed
    assert len(rows) == 3
    ids = sorted(rows.values())
    assert 4 not in ids and 6 not in ids  # later-batch duplicates dropped
    assert 5 in ids                        # new key in batch 2 kept


def test_streaming_dedup_survives_restart(spark, tmp_path):
    """Kill/restart exactly-once: run the stateful dedup with a
    checkpoint dir, stop the query after at least one committed batch
    (possibly mid-stream), add more files — containing duplicates of
    keys seen before the stop — and restart a NEW query from the SAME
    checkpoint. The reloaded state store must suppress the cross-restart
    duplicates, and no pre-stop row may be emitted twice. This is the
    exactly-once property the checkpoint's state store exists for
    (within-run state alone is covered by
    test_streaming_stateful_exact_dedup)."""
    import time

    from ocr_inference_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_in")
    out_path = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_file([(1, "key alpha"), (2, "key beta")])
    write_file([(3, "key alpha"), (4, "key gamma")])  # 3 = dup of 1

    def start(trigger_kwargs):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            streaming_exact_dedup(stream, "doc_id", "text")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    # run 1: stop after >=1 committed batch (location of the stop in the
    # file sequence does not matter for the assertion)
    q1 = start({"processingTime": "0 seconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q1.lastProgress
        if p is not None and p["batchId"] >= 0:
            break
        time.sleep(0.2)
    else:
        raise AssertionError("run 1 never committed a batch")
    q1.stop()
    q1.awaitTermination(60)

    # new arrivals while "down": every key except 'delta' is a duplicate
    # of a key the pre-restart state already saw
    write_file([(5, "key beta"), (6, "key gamma"), (7, "key delta")])

    # run 2: fresh query object, same checkpoint -> offsets + state reload
    q2 = start({"availableNow": True})
    q2.awaitTermination(180)

    rows = spark.read.parquet(out_path).collect()
    got = {r["dup_key"]: r["id"] for r in rows}
    assert len(rows) == len(got) == 4, rows  # no key emitted twice, ever
    assert sorted(got.values()) == [1, 2, 4, 7]  # first-arrival ids only


def test_streaming_dedup_ttl_evicts_state(spark, tmp_path):
    """TTL-bounded dedup: a key idle past ttl_seconds is EVICTED
    (processing-time timeout -> state.remove), so a later duplicate is
    re-emitted as new — the bounded-state posture a 10^12-doc ingest
    needs. Run 1 seeds the key; after sleeping past the TTL, run 2
    (same checkpoint) must emit the duplicate again, although no idle
    batch ran in between to fire the key's timer. Run 3 keeps running:
    its idle batches must then drain the state store to zero rows."""
    import time

    from ocr_inference_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_in")
    out_path = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def sink_ids(path):
        try:
            return sorted(r["id"] for r in spark.read.parquet(path).collect())
        except Exception:
            return []

    def start_q(**trigger):
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            streaming_exact_dedup(stream, "doc_id", "text", ttl_seconds=2.0)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    def run_once():
        # exactly one batch and no idle batch after it (availableNow
        # would keep running idle batches to fire the registered timers)
        q = start_q(once=True)
        q.awaitTermination(120)

    write_file([(1, "expiring key")])
    run_once()
    assert sink_ids(out_path) == [1]

    # the duplicate arrives past the TTL in the very batch that first
    # sees the key again: the key's lapsed timer was never fired
    time.sleep(3)
    write_file([(2, "expiring key")])
    run_once()
    assert sink_ids(out_path) == [1, 2]

    # a running query follows each batch with idle batches; past the TTL
    # they fire the timers and evict every key, the new one included
    q = start_q(processingTime="1 second")
    write_file([(3, "another key")])
    state_rows = None
    deadline = time.time() + 300
    while time.time() < deadline:
        progress = [p for p in q.recentProgress if p["stateOperators"]]
        if any(p["numInputRows"] > 0 for p in progress):
            state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
            if state_rows == 0:
                break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(60)
    assert state_rows == 0, f"keys never evicted: {state_rows} state rows"
    assert sink_ids(out_path) == [1, 2, 3]

    # control: without ttl the same pattern suppresses the duplicate
    src2, out2, ck2 = (str(tmp_path / p) for p in ("in2", "out2", "ck2"))

    def write2(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src2)

    def run_plain():
        stream = spark.readStream.schema(schema).parquet(src2)
        q = (
            streaming_exact_dedup(stream, "doc_id", "text")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out2)
            .option("checkpointLocation", ck2)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write2([(1, "expiring key")])
    run_plain()
    time.sleep(3)
    write2([(2, "expiring key")])
    run_plain()
    assert sink_ids(out2) == [1]  # no ttl -> still suppressed


def test_streaming_quality_gate(spark, tmp_path):
    from ocr_inference_spark.streaming import streaming_quality_gate

    src = str(tmp_path / "docs_q")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = streaming_quality_gate(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("quality_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM quality_out").collect()[0]["n"]
    # must equal the batch result of the same predicates
    from pyspark.sql import functions as F

    from ocr_inference_spark.text import analysis as tx

    want = (
        docs.withColumn("quality", F.round(tx.quality_score(F.col("text")), 6))
        .withColumn("lang", tx.lang_id(F.col("text")))
        .where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
        .count()
    )
    assert got == want and got > 0


def test_streaming_hourly_rollup_equals_batch(spark):
    """The availableNow streaming rollup (q43) must equal the batch q29
    result row-for-row — complete-mode emission is deterministic."""
    from ocr_inference_spark.queries import q29_tumbling_window
    from ocr_inference_spark.streaming import streaming_hourly_rollup

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in q29_tumbling_window(spark, sf).collect()}
    stream = {tuple(r) for r in streaming_hourly_rollup(spark, sf).collect()}
    assert stream == batch and len(stream) > 0
