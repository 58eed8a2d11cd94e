"""Non-PNG media payloads flow through the full pipeline: a JPEG- or
TIFF-encoded page must produce the exact same span sequence as its PNG
original (reference ingests jpg/jpeg/png/tif, reference cli.py:16)."""

from __future__ import annotations

import pytest

from corpus_fixtures import build_corpus, corpus_to_spark
from ocr_inference_spark.imgcodec import png_decode, tiff_encode
from ocr_inference_spark.jpegcodec import jpeg_encode, jpeg_encode_progressive
from ocr_inference_spark.pipeline import extract_spans


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


@pytest.fixture(scope="module")
def mixed_format_corpus(spark):
    documents, pages, expected = build_corpus(n_docs=6, seed=11)
    # round-robin re-encode: PNG originals -> JPEG / progressive JPEG /
    # uncompressed TIFF / LZW+predictor TIFF / Deflate TIFF / PackBits
    # TIFF / adaptive-filter PNG / plain PNG (the compressed TIFFs,
    # progressive JPEGs, and filtered PNGs are what real scan archives
    # actually ship)
    from ocr_inference_spark.imgcodec import png_encode

    for i, page in enumerate(pages):
        img = png_decode(page["content"])
        if i % 8 == 0:
            page["content"] = jpeg_encode(img, quality=95)
        elif i % 8 == 1:
            page["content"] = jpeg_encode_progressive(img, quality=95)
        elif i % 8 == 2:
            page["content"] = tiff_encode(img)
        elif i % 8 == 3:
            page["content"] = tiff_encode(
                img, compression="lzw", predictor=2, rows_per_strip=64
            )
        elif i % 8 == 4:
            page["content"] = tiff_encode(img, compression="deflate", predictor=2)
        elif i % 8 == 5:
            # alternate the two bilevel fax layouts (Group 4 / MH RLE)
            # with PackBits — the classic book-scan archive formats
            if (i // 8) % 3 == 0:
                page["content"] = tiff_encode(img, compression="g4")
            elif (i // 8) % 3 == 1:
                page["content"] = tiff_encode(img, compression="ccitt-rle")
            else:
                page["content"] = tiff_encode(img, compression="packbits")
        elif i % 8 == 6:
            page["content"] = png_encode(img, filter_mode="adaptive")
    formats = {i % 8 for i in range(len(pages))}
    assert formats == set(range(8)), "fixture must exercise all eight formats"
    assert len(pages) >= 22, "need enough pages to hit all fax variants"
    docs_df, pages_df = corpus_to_spark(spark, documents, pages)
    return docs_df, pages_df, expected


def test_span_equality_across_formats(spark, mixed_format_corpus):
    docs_df, pages_df, expected = mixed_format_corpus
    out = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(spark, docs_df, pages_df).collect()
    }
    assert len(out) == len(expected)
    for exp in expected:
        assert _tuples(out[exp["doc_id"]]) == _tuples(exp["spans"]), exp["doc_id"]
