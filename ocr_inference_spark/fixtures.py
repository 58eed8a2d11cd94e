"""Deterministic interleaved-corpus fixtures (FIXTURES.md §§1-3).

Builds the three tables of the engine's contract from a seed:

- ``documents``: (doc_id, spans) per BASELINE.json input_hint
- ``pages``:     (media_ref, content PNG, width, height)
- ``expected``:  golden output span sequences — exact ground truth,
  because pages are rendered from known text (render.py)

Includes "pecha" skew fixtures: a few documents with many media spans
(cf. the reference's 784-image volume, Demo-OCR.ipynb cell 2 output) to
exercise page-granular partitioning.
"""

from __future__ import annotations

import math
import random

from .glyphs import CHARSET, line_pixel_width
from .imgcodec import png_encode
from .render import render_page

_WORDS = (
    "the quick brown fox jumps over lazy dog spark native engine page line "
    "text span media scan batch shuffle partition broadcast kernel warp "
    "skew detect decode order read write table column row value 0 1 2 42 99"
).split()


def _make_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _gate_fires(lines: list[str], amp: int, period: float, margin: int = 48) -> bool:
    """Pure-geometry predicate: will the dewarp gate (distortion ratio >
    0.25, kernels/dewarp.py) decisively fire for a page with these lines
    under a sine warp of (amp, period)? A page the gate declines keeps
    its warp (faithful to the reference's ratio <= threshold skip,
    BDRC/inference.py:558) and is NOT expected to extract cleanly — so
    warp fixtures are drawn only from configurations where >=50% of the
    lines flag with a >=60 px center spread (kernel threshold is the
    ~38 px local band height). Geometry-only: no kernel coupling, so a
    kernel regression still fails the equality tests."""
    flagged = 0
    for t in lines:
        width = line_pixel_width(len(t))
        xs = [margin + f * max(width - 8, 0) + 4 for f in (0.0, 0.25, 0.5, 0.75, 1.0)]
        vals = [math.sin(2.0 * math.pi * x / period) for x in xs]
        if amp * (max(vals) - min(vals)) > 60:
            flagged += 1
    return flagged >= max(1, math.ceil(len(lines) / 2))


def build_corpus(
    n_docs: int = 12,
    seed: int = 7,
    pecha_docs: int = 1,
    pecha_pages: int = 12,
    max_lines_per_page: int = 5,
) -> tuple[list[dict], list[dict], list[dict]]:
    """Returns (documents_rows, pages_rows, expected_rows)."""
    rng = random.Random(seed)
    documents: list[dict] = []
    pages: list[dict] = []
    expected: list[dict] = []
    page_counter = 0

    for d in range(n_docs):
        doc_id = f"doc_{d:06d}"
        is_pecha = d < pecha_docs
        n_spans = pecha_pages if is_pecha else rng.randint(1, 6)
        spans: list[dict] = []
        golden: list[dict] = []
        for off in range(n_spans):
            # pechas are media-heavy; normal docs mix ~50/50
            is_media = is_pecha or rng.random() < 0.5
            if not is_media:
                text = _make_text(rng, rng.randint(3, 10))
                spans.append(
                    {"kind": "text", "text": text, "media_ref": None, "offset": off}
                )
                golden.append({"kind": "text", "text": text, "media_ref": None})
            else:
                media_ref = f"page_{page_counter:08d}"
                page_counter += 1
                n_lines = rng.randint(1, max_lines_per_page)
                style = rng.randint(0, 3)
                if style in (2, 3) and n_lines == 2:
                    # a 2-line page under warp padding can land exactly on
                    # the reference's line-threshold boundary (median-y /
                    # count, BDRC/line_detection.py:362-421) where the two
                    # rows merge — a real heuristic limit of the reference,
                    # not solvable by the pipeline; keep warp fixtures off it
                    n_lines = 3
                lines = [_make_text(rng, rng.randint(2, 6)) for _ in range(n_lines)]
                kw = {
                    "noise": rng.random() < 0.5,  # sub-line furniture to strip
                    # line-shaped furniture outside the text block —
                    # stripped only by the text-area filter (I36)
                    "caption": rng.random() < 0.35,
                }
                if style == 1:
                    kw["skew_deg"] = rng.uniform(0.8, 4.0) * rng.choice([-1, 1])
                elif style in (2, 3):
                    if style == 3:
                        kw["skew_deg"] = rng.uniform(0.8, 3.0) * rng.choice([-1, 1])
                    # draw (amp, period) until the dewarp gate is
                    # guaranteed to fire (see _gate_fires); pages whose
                    # lines are too short to ever trip the gate fall
                    # back to the undistorted/skew-only style
                    width = max(line_pixel_width(len(t)) for t in lines) + 96
                    for _ in range(8):
                        amp = rng.randint(36, 52)
                        period = rng.choice([width, (2 * width) // 3, width // 2])
                        if _gate_fires(lines, amp, period):
                            kw["warp_amp"] = amp
                            kw["warp_period"] = period
                            break
                img = render_page(lines, **kw)
                pages.append(
                    {
                        "media_ref": media_ref,
                        "content": png_encode(img),
                        "width": int(img.shape[1]),
                        "height": int(img.shape[0]),
                    }
                )
                spans.append(
                    {"kind": "media", "text": None, "media_ref": media_ref, "offset": off}
                )
                # golden: the media span, then its lines as text spans
                golden.append({"kind": "media", "text": None, "media_ref": media_ref})
                for line in lines:
                    golden.append(
                        {"kind": "text", "text": line, "media_ref": media_ref}
                    )
        documents.append({"doc_id": doc_id, "spans": spans})
        expected.append(
            {
                "doc_id": doc_id,
                "spans": [
                    {
                        "kind": g["kind"],
                        "text": g["text"],
                        "media_ref": g["media_ref"],
                        "offset": i,
                    }
                    for i, g in enumerate(golden)
                ],
            }
        )
    return documents, pages, expected


def corpus_to_spark(spark, documents, pages):
    """Row dicts -> DataFrames under the explicit schemas."""
    from pyspark.sql import Row

    from .schemas import DOCUMENTS_SCHEMA, PAGES_SCHEMA

    doc_rows = [
        Row(doc_id=d["doc_id"], spans=[Row(**s) for s in d["spans"]])
        for d in documents
    ]
    page_rows = [Row(**p) for p in pages]
    docs_df = spark.createDataFrame(doc_rows, schema=DOCUMENTS_SCHEMA)
    pages_df = spark.createDataFrame(page_rows, schema=PAGES_SCHEMA)
    return docs_df, pages_df
