"""Reference-CLI-parity options (PipelineOptions) actually reach the
kernel and the output (reference cli.py:20-38)."""

from __future__ import annotations

from corpus_fixtures import build_corpus, corpus_to_spark
from ocr_inference_spark.imgcodec import png_encode
from ocr_inference_spark.model import RecognitionSession, serialize_weights
from ocr_inference_spark.page import PipelineOptions, process_page
from ocr_inference_spark.render import render_page


def test_no_dewarp_disables_tps_on_warped_page():
    content = png_encode(render_page(["the quick brown fox"], warp_amp=40))
    sess = RecognitionSession(serialize_weights())
    with_dewarp = process_page(content, sess)
    without = process_page(content, sess, options=PipelineOptions(dewarp=False))
    assert with_dewarp.dewarp_applied is True
    assert without.dewarp_applied is False


def test_default_options_equal_no_options():
    content = png_encode(render_page(["hello world", "second line"]))
    sess = RecognitionSession(serialize_weights())
    a = process_page(content, sess)
    b = process_page(content, sess, options=PipelineOptions())
    assert a.texts == b.texts and a.status == b.status


def test_emit_contours_off_keeps_text_identical():
    """emit_contours=False (text-only pipelines) skips the per-line
    contour tracing but must not change ANY recognition output."""
    content = png_encode(
        render_page(["the quick brown fox", "jumps over the dog"], skew_deg=1.5)
    )
    sess = RecognitionSession(serialize_weights())
    a = process_page(content, sess)
    b = process_page(content, sess, options=PipelineOptions(emit_contours=False))
    assert a.texts == b.texts and a.confs == b.confs and a.status == b.status
    assert len(a.contours) == len(a.texts) > 0
    assert b.contours == []


def test_peaks_option_through_extract(spark):
    """line_sorting='peaks' threaded through the Spark kernel produces
    the same spans as threshold on clean pages."""
    from ocr_inference_spark.pipeline import extract_spans

    documents, pages, expected = build_corpus(n_docs=4, seed=5, pecha_docs=0)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    out = extract_spans(
        spark,
        docs_df,
        pages_df,
        options=PipelineOptions(line_sorting="peaks"),
    ).collect()
    got = {r["doc_id"]: [(s["kind"], s["text"]) for s in r["spans"]] for r in out}
    want = {
        e["doc_id"]: [(s["kind"], s["text"]) for s in e["spans"]] for e in expected
    }
    assert got == want


def test_wylie_encoding_output(spark, tmp_path):
    """run_resumable(encoding='wylie') transliterates text spans in the
    written output; media spans untouched."""
    from pyspark.sql import functions as F

    from ocr_inference_spark.checkpoint import run_resumable
    from ocr_inference_spark.text.encodings import to_translit

    documents, pages, _ = build_corpus(n_docs=3, seed=9, pecha_docs=0)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    out_u = str(tmp_path / "out_unicode")
    out_w = str(tmp_path / "out_wylie")
    run_resumable(spark, docs_df, pages_df, out_u, str(tmp_path / "m1"),
                  job_id="j1", n_buckets=2)
    run_resumable(spark, docs_df, pages_df, out_w, str(tmp_path / "m2"),
                  job_id="j2", n_buckets=2, encoding="wylie")
    uni = spark.read.parquet(out_u).select(
        "doc_id", F.explode("spans").alias("s")
    )
    wyl = spark.read.parquet(out_w).select(
        "doc_id", F.explode("spans").alias("s")
    )
    # wylie text spans == to_translit of the unicode text spans
    uni_t = uni.where(F.col("s.kind") == "text").select(
        "doc_id", F.col("s.offset").alias("o"),
        to_translit(F.col("s.text")).alias("t"))
    wyl_t = wyl.where(F.col("s.kind") == "text").select(
        "doc_id", F.col("s.offset").alias("o"), F.col("s.text").alias("t"))
    assert uni_t.exceptAll(wyl_t).count() == 0
    assert wyl_t.exceptAll(uni_t).count() == 0
    # at least one span actually changed under transliteration
    changed = uni.where(F.col("s.kind") == "text").select("s.text").exceptAll(
        wyl.where(F.col("s.kind") == "text").select("s.text")).count()
    assert changed > 0
    # media spans identical
    assert wyl.where(F.col("s.kind") == "media").count() == uni.where(
        F.col("s.kind") == "media").count()


def test_get_spark_pins_python_worker_reuse(spark):
    """worker.worker_init's import guard lives in the reused Python
    worker process; turning reuse off would bring back the per-task
    archive re-reads."""
    assert spark.sparkContext.getConf().get("spark.python.worker.reuse") == "true"
