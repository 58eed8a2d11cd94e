"""Exporter sinks, detection-only path, eval-mode beam recognition,
encoding round-trip."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from ocr_inference_spark.imgcodec import png_encode
from ocr_inference_spark.model import RecognitionSession, serialize_weights
from ocr_inference_spark.page import detect_page, process_page
from ocr_inference_spark.render import render_page

SESSION = RecognitionSession(serialize_weights())
LINES = ["first line here", "second line text"]


def test_detect_page_bboxes_in_reading_order():
    d = detect_page(png_encode(render_page(LINES)))
    assert d["status"] == "success"
    assert len(d["bboxes"]) == 2
    assert d["bboxes"][0]["y"] < d["bboxes"][1]["y"]
    assert d["width"] > 0 and d["height"] > 0


def test_eval_mode_beams():
    res = process_page(png_encode(render_page(LINES)), SESSION, eval_mode=True)
    assert res.texts == LINES
    assert len(res.beams) == 2
    for beams in res.beams:
        assert 1 <= len(beams) <= 10
        scores = [s for _, s in beams]
        assert scores == sorted(scores, reverse=True)
        # best beam agrees with the emitted text
    assert res.beams[0][0][0] == LINES[0]


def _ocr_df(spark):
    from corpus_fixtures import build_corpus, corpus_to_spark
    from ocr_inference_spark.pipeline import recognize_pages

    documents, pages, _ = build_corpus(n_docs=3, seed=5, pecha_docs=0)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    return recognize_pages(spark, docs_df, pages_df)


def test_txt_jsonl_xml_sinks(spark, tmp_path):
    from ocr_inference_spark.exporters import (
        ocr_lines_to_jsonl,
        ocr_lines_to_pagexml,
        ocr_lines_to_txt,
    )

    ocr = _ocr_df(spark).cache()
    ocr_lines_to_txt(ocr, str(tmp_path / "txt"))
    ocr_lines_to_jsonl(ocr, str(tmp_path / "jsonl"))
    ocr_lines_to_pagexml(ocr, str(tmp_path / "xml"))

    txt = spark.read.text(str(tmp_path / "txt")).collect()
    assert any("page_" in r["value"] for r in txt)

    jl = spark.read.json(str(tmp_path / "jsonl"))
    assert {"image", "doc_id", "text"}.issubset(set(jl.columns))
    row = jl.collect()[0]
    assert isinstance(row["text"], list) and len(row["text"]) >= 1

    xml_lines = [r["value"] for r in spark.read.text(str(tmp_path / "xml")).collect()]
    assert any("<PcGts>" in l for l in xml_lines)
    assert any("TextLine" in l for l in xml_lines)
    ocr.unpersist()


def test_detection_parquet_sink(spark, tmp_path):
    from ocr_inference_spark.exporters import detection_to_parquet
    from corpus_fixtures import build_corpus, corpus_to_spark
    from ocr_inference_spark.pipeline import detect_lines

    _, pages, _ = build_corpus(n_docs=3, seed=5, pecha_docs=0)
    _, pages_df = corpus_to_spark(spark, [], pages)
    det = detect_lines(spark, pages_df)
    detection_to_parquet(det, str(tmp_path / "det"))
    back = spark.read.parquet(str(tmp_path / "det"))
    assert back.count() == pages_df.count()
    assert back.where("num_contours >= 1").count() == back.count()


def test_encoding_roundtrip(spark):
    from ocr_inference_spark.text.encodings import from_translit, to_translit

    df = spark.createDataFrame(
        [Row(t="hello world 42 aeiou"), Row(t="no vowels? xyz 9")]
    )
    out = df.select(
        "t",
        to_translit(F.col("t")).alias("tr"),
        from_translit(to_translit(F.col("t"))).alias("rt"),
    ).collect()
    for r in out:
        assert r["rt"] == r["t"]
        assert r["tr"] != r["t"]


def test_recognize_pages_eval_schema(spark):
    from ocr_inference_spark.exporters import ocr_lines_to_parquet
    from corpus_fixtures import build_corpus, corpus_to_spark
    from ocr_inference_spark.pipeline import recognize_pages_eval

    documents, pages, expected = build_corpus(n_docs=3, seed=5, pecha_docs=0)
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    df = recognize_pages_eval(spark, docs_df, pages_df)
    rows = df.collect()
    want_texts = sorted(
        s["text"]
        for e in expected
        for s in e["spans"]
        if s["kind"] == "text" and s["media_ref"] is not None
    )
    assert sorted(r["text"] for r in rows) == want_texts
    for r in rows:
        assert len(r["guid"]) == 32
        assert r["encoding"] == "UNICODE"
        assert 1 <= r["n_beams"] <= 10
        assert len(r["logits"]) == r["n_beams"]
        assert 0 < r["ctc_conf"] <= 1
    # deterministic guids: rerun produces the identical set
    again = {r["guid"] for r in recognize_pages_eval(spark, docs_df, pages_df).collect()}
    assert again == {r["guid"] for r in rows}


def test_pagexml_escapes_markup_chars(spark, tmp_path):
    """Text containing &, <, > must be XML-escaped (the reference gets
    this from xml.etree; raw concat would emit malformed PageXML)."""
    from pyspark.sql import Row

    from ocr_inference_spark.exporters import ocr_lines_to_pagexml

    ocr_df = spark.createDataFrame(
        [
            Row(
                doc_id="d1", media_offset=0, media_ref="p<1>&", line_rank=0,
                text="a < b & c > d", ctc_conf=1.0, page_angle=0.0,
                dewarp_applied=False, n_lines=1, status="success",
            )
        ]
    )
    out = str(tmp_path / "xml")
    ocr_lines_to_pagexml(ocr_df, out)
    body = "\n".join(r.value for r in spark.read.text(out).collect())
    assert "a &lt; b &amp; c &gt; d" in body
    assert 'imageFilename="p&lt;1&gt;&amp;"' in body
    # no raw markup chars leaked into text content
    assert "a < b" not in body
