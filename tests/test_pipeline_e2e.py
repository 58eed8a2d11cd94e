"""End-to-end Spark tests: span-sequence equality (kind, text,
media_ref, order) on golden fixtures, plus resume-from-checkpoint."""

from __future__ import annotations

import pytest

from corpus_fixtures import build_corpus, corpus_to_spark
from ocr_inference_spark.pipeline import (
    extract_spans,
    media_spans,
    page_metrics,
    recognize_pages,
)


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


@pytest.fixture(scope="module")
def corpus(spark):
    documents, pages, expected = build_corpus(n_docs=10, seed=7)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    return docs_df, pages_df, expected


def test_span_sequence_equality(spark, corpus):
    docs_df, pages_df, expected = corpus
    out = {r["doc_id"]: r["spans"] for r in extract_spans(spark, docs_df, pages_df).collect()}
    assert len(out) == len(expected)
    for exp in expected:
        assert _tuples(out[exp["doc_id"]]) == _tuples(exp["spans"]), exp["doc_id"]


def test_media_spans_projection(spark, corpus):
    docs_df, _, expected = corpus
    media = media_spans(docs_df)
    assert media.columns == ["doc_id", "media_offset", "media_ref"]
    n_media = sum(
        1 for e in expected for s in e["spans"] if s["kind"] == "media"
    )
    assert media.count() == n_media


def test_ocr_rows_are_all_success(spark, corpus):
    docs_df, pages_df, _ = corpus
    ocr = recognize_pages(spark, docs_df, pages_df)
    statuses = {r["status"] for r in ocr.select("status").distinct().collect()}
    assert statuses == {"success"}


def test_page_metrics(spark, corpus):
    docs_df, pages_df, expected = corpus
    ocr = recognize_pages(spark, docs_df, pages_df)
    m = page_metrics(ocr)
    rows = {(r["doc_id"], r["media_ref"]): r for r in m.collect()}
    n_media = sum(1 for e in expected for s in e["spans"] if s["kind"] == "media")
    assert len(rows) == n_media
    assert all(r["lines_detected"] >= 1 for r in rows.values())
    assert all(r["chars"] >= 1 for r in rows.values())


def test_failed_page_keeps_document(spark):
    """A malformed media payload must not drop the document: the media
    span survives, only the derived lines are missing."""
    from pyspark.sql import Row

    from ocr_inference_spark.schemas import DOCUMENTS_SCHEMA, PAGES_SCHEMA

    docs_df = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="before", media_ref=None, offset=0),
                    Row(kind="media", text=None, media_ref="bad", offset=1),
                    Row(kind="text", text="after", media_ref=None, offset=2),
                ],
            )
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    pages_df = spark.createDataFrame(
        [Row(media_ref="bad", content=b"garbage", width=0, height=0)],
        schema=PAGES_SCHEMA,
    )
    out = extract_spans(spark, docs_df, pages_df).collect()
    assert len(out) == 1
    assert _tuples(out[0]["spans"]) == [
        ("text", "before", None, 0),
        ("media", None, "bad", 1),
        ("text", "after", None, 2),
    ]


def test_resume_from_checkpoint(spark, tmp_path):
    from ocr_inference_spark.checkpoint import run_resumable

    documents, pages, expected = build_corpus(n_docs=8, seed=11)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    out_path = str(tmp_path / "out")
    metrics_path = str(tmp_path / "metrics")
    n_buckets = 4

    def check_complete():
        out = {r["doc_id"]: r["spans"] for r in spark.read.parquet(out_path).collect()}
        assert len(out) == len(expected)  # no duplicates, no missing docs
        for exp in expected:
            assert _tuples(out[exp["doc_id"]]) == _tuples(exp["spans"])

    # --- full run under job1 -> complete exact output ---
    run_resumable(spark, docs_df, pages_df, out_path, metrics_path, "job1", n_buckets)
    m = spark.read.parquet(metrics_path)
    done = {r["bucket"] for r in m.where("job_id = 'job1'").collect()}
    assert done == set(range(n_buckets))
    check_complete()

    # --- rerun same job id: everything checkpointed -> output untouched
    # (the dynamic overwrite must not clobber completed buckets) ---
    run_resumable(spark, docs_df, pages_df, out_path, metrics_path, "job1", n_buckets)
    check_complete()

    # --- partial resume under job2: bucket 0 pre-marked done; the rerun
    # recomputes only buckets 1..3 and must leave job1's bucket-0 output
    # partition intact ---
    fake = spark.createDataFrame(
        [("job2", 0, 0, 0, 0, 0, "success", "ocr+reassemble", 0.0, None)],
        schema="job_id string, bucket int, docs long, pages long, lines long,"
        " chars long, status string, stage string, duration_ms double, ts timestamp",
    )
    fake.write.mode("append").parquet(metrics_path)
    run_resumable(spark, docs_df, pages_df, out_path, metrics_path, "job2", n_buckets)
    check_complete()


def test_orphan_media_ref_survives(spark):
    """A media span whose page is missing from the sidecar table keeps
    its place in the output span sequence (join miss, no derived lines)."""
    from pyspark.sql import Row

    from ocr_inference_spark.schemas import DOCUMENTS_SCHEMA, PAGES_SCHEMA

    docs_df = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="media", text=None, media_ref="missing_page", offset=0),
                    Row(kind="text", text="tail", media_ref=None, offset=1),
                ],
            )
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    pages_df = spark.createDataFrame([], schema=PAGES_SCHEMA)
    out = extract_spans(spark, docs_df, pages_df).collect()
    assert _tuples(out[0]["spans"]) == [
        ("media", None, "missing_page", 0),
        ("text", "tail", None, 1),
    ]


def test_empty_spans_document_survives(spark):
    """A document whose spans array is empty must appear in the output
    with an empty spans array (explode would silently drop it)."""
    from pyspark.sql import Row

    from ocr_inference_spark.schemas import DOCUMENTS_SCHEMA, PAGES_SCHEMA

    docs_df = spark.createDataFrame(
        [
            Row(doc_id="empty", spans=[]),
            Row(
                doc_id="d1",
                spans=[Row(kind="text", text="hello", media_ref=None, offset=0)],
            ),
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    pages_df = spark.createDataFrame([], schema=PAGES_SCHEMA)
    out = {r["doc_id"]: r["spans"] for r in extract_spans(spark, docs_df, pages_df).collect()}
    assert set(out) == {"empty", "d1"}
    assert out["empty"] == []
    assert _tuples(out["d1"]) == [("text", "hello", None, 0)]


def test_resume_rejects_changed_n_buckets(spark, tmp_path):
    """Resuming a job_id with a different bucketing modulus must fail
    fast — bucket numbers computed under another modulus would skip some
    documents and re-key others."""
    from ocr_inference_spark.checkpoint import run_resumable

    documents, pages, _ = build_corpus(n_docs=4, seed=3)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    out_path = str(tmp_path / "out")
    metrics_path = str(tmp_path / "metrics")
    run_resumable(spark, docs_df, pages_df, out_path, metrics_path, "jobA", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(
            spark, docs_df, pages_df, out_path, metrics_path, "jobA", n_buckets=8
        )
    # a fresh job id with the new modulus is fine
    run_resumable(spark, docs_df, pages_df, out_path, metrics_path, "jobB", n_buckets=8)


def test_stage_audit_rows(spark, tmp_path):
    """K8 per-stage audit events: the metrics table carries one row per
    (bucket, stage) with kernel stage durations; a failed page produces
    a 'failed' stage row naming the stage (AuditLogger analogue,
    reference BDRC/audit_logger.py:41-64)."""
    from pyspark.sql import Row

    from ocr_inference_spark.checkpoint import FINAL_STAGE, run_resumable
    from ocr_inference_spark.schemas import DOCUMENTS_SCHEMA, PAGES_SCHEMA

    documents, pages, _ = build_corpus(n_docs=4, seed=9)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    out, met = str(tmp_path / "out"), str(tmp_path / "metrics")
    run_resumable(spark, docs_df, pages_df, out, met, "jobS", n_buckets=2)
    m = spark.read.parquet(met)
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert FINAL_STAGE in stages
    assert {"decode", "detect", "deskew", "dewarp", "extract", "recognize"} <= stages
    assert all(
        r["duration_ms"] >= 0 for r in m.where(f"stage != '{FINAL_STAGE}'").collect()
    )

    # failed-page fixture -> a 'failed' decode stage row
    bad_docs = spark.createDataFrame(
        [Row(doc_id="bad", spans=[Row(kind="media", text=None, media_ref="bad", offset=0)])],
        schema=DOCUMENTS_SCHEMA,
    )
    bad_pages = spark.createDataFrame(
        [Row(media_ref="bad", content=b"garbage", width=0, height=0)], schema=PAGES_SCHEMA
    )
    out2, met2 = str(tmp_path / "out2"), str(tmp_path / "metrics2")
    run_resumable(spark, bad_docs, bad_pages, out2, met2, "jobF", n_buckets=1)
    m2 = spark.read.parquet(met2)
    failed = m2.where("status = 'failed'").collect()
    assert any(r["stage"] == "decode" for r in failed)


def test_broadcast_strategy_equals_shuffle(spark, corpus):
    """recognize_pages strategy='broadcast' (page bytes never shuffle)
    must produce byte-identical output span sequences to the default
    shuffle-join plan."""
    docs_df, pages_df, _ = corpus
    a = {r["doc_id"]: _tuples(r["spans"])
         for r in extract_spans(spark, docs_df, pages_df).collect()}
    b = {r["doc_id"]: _tuples(r["spans"])
         for r in extract_spans(spark, docs_df, pages_df, strategy="broadcast").collect()}
    assert a == b


def test_extract_spans_with_contours_requested_equals_fixture(spark, corpus):
    """Contours asked for on a text-only entry point change nothing."""
    from ocr_inference_spark.page import PipelineOptions

    docs_df, pages_df, expected = corpus
    out = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(
            spark, docs_df, pages_df, options=PipelineOptions(emit_contours=True)
        ).collect()
    }
    assert len(out) == len(expected)
    for exp in expected:
        assert _tuples(out[exp["doc_id"]]) == _tuples(exp["spans"]), exp["doc_id"]


class _Captured(Exception):
    pass


def test_text_only_entry_points_skip_contours(spark, corpus, tmp_path, monkeypatch):
    """extract_spans and run_resumable keep only spans and metrics, so
    the kernel they build runs with emit_contours=False; the rest of
    the caller's options pass through."""
    from ocr_inference_spark import checkpoint, pipeline
    from ocr_inference_spark.page import PipelineOptions

    docs_df, pages_df, _ = corpus
    seen = []

    def capture(*args, options=None, **kwargs):
        seen.append(options)
        raise _Captured

    monkeypatch.setattr(pipeline, "recognize_pages", capture)
    monkeypatch.setattr(checkpoint, "recognize_pages", capture)
    caller = PipelineOptions(k_factor=1.5, emit_contours=True)
    for call in (
        lambda o: pipeline.extract_spans(spark, docs_df, pages_df, options=o),
        lambda o: checkpoint.run_resumable(
            spark, docs_df, pages_df, str(tmp_path / "out"),
            str(tmp_path / "metrics"), "job", 2, options=o,
        ),
    ):
        for options in (None, caller):
            with pytest.raises(_Captured):
                call(options)
    assert [o.emit_contours for o in seen] == [False] * 4
    assert [o.k_factor for o in seen] == [1.2, 1.5, 1.2, 1.5]


def test_recognize_pages_default_emits_contours(spark, corpus):
    docs_df, pages_df, _ = corpus
    rows = (
        recognize_pages(spark, docs_df, pages_df)
        .where("status = 'success'")
        .select("contour")
        .collect()
    )
    assert rows and all(r["contour"] for r in rows)


def test_weights_broadcast_once_per_context(spark, corpus):
    from ocr_inference_spark.pipeline import weights_broadcast

    docs_df, pages_df, _ = corpus
    bc = weights_broadcast(spark)
    recognize_pages(spark, docs_df, pages_df)
    extract_spans(spark, docs_df, pages_df)
    assert weights_broadcast(spark) is bc


def test_new_context_gets_new_weights_broadcast():
    from types import SimpleNamespace

    from ocr_inference_spark.pipeline import weights_broadcast

    def fake_session():
        sc = SimpleNamespace(sent=[])
        sc.broadcast = lambda value: sc.sent.append(value) or object()
        return SimpleNamespace(sparkContext=sc)

    a, b = fake_session(), fake_session()
    assert weights_broadcast(a) is weights_broadcast(a)
    assert weights_broadcast(b) is not weights_broadcast(a)
    assert len(a.sparkContext.sent) == len(b.sparkContext.sent) == 1
