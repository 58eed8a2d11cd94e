"""The Spark job: interleaved spans table -> ordered span sequences.

Plan shape (SURVEY.md EP1 "Spark shape"):

    documents ──explode──> media spans ──join(media_ref)──> +page bytes
        │                                    │ repartition(media_ref)   (page-granular:
        │                                    ▼                           breaks multi-page
        │                        mapInPandas(page kernel)                "pecha" skew)
        │                                    │ per-line rows
        └──explode──> original spans ──unionByName──┘
                                             │ groupBy(doc_id)
                                  array_sort + transform (renumber)
                                             ▼
                              output (doc_id, spans) + metrics

Everything relational is native Catalyst (filter/explode/join/groupBy —
whole-stage codegen); the only Python is the fused page kernel, Arrow-
batched, with broadcast model weights materialized once per executor
(page.py, model.py).

Scale notes (100 TB / 10^12 docs):
- the media explode + ``kind='media'`` filter runs *before* the page
  join, so only media spans shuffle;
- partitioning is by ``media_ref`` (page granularity) — a 784-page
  pecha spreads over 784 partitions instead of hot-spotting one
  (SURVEY.md §4 "skew handling");
- reassembly shuffles once on doc_id; span structs are small (text
  only — image bytes never pass this boundary);
- AQE coalesces post-shuffle partitions; no collect() anywhere;
- a Python task has a fixed cost beside its rows: pyspark invalidates
  the import caches at every task start, and on CPython 3.11 each
  ``zipimporter`` then re-reads its archive (pyspark.zip, the
  spark-core jar, py4j), ~58 ms of worker CPU per task on a 4-vCPU
  box. ``worker.worker_init`` (installed by ``get_session``) skips the
  re-read of unchanged archives in the reused worker, so page-granular
  partitioning (4 waves per core) stays cheap.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import get_session, serialize_weights
from .page import PipelineOptions, process_page
from .schemas import DOCUMENTS_SCHEMA, OCR_LINES_SCHEMA
from .worker import worker_init


def exploded_spans(docs_df: DataFrame) -> DataFrame:
    """documents -> one row per span (kind-null sentinel row for
    empty-spans documents). Both the media projection and the
    reassembly originals derive from this single expression; each
    consumer's column pruning reaches the scan, so the two passes read
    only the spans column (at 100 TB the docs table is read twice but
    narrow — caching the exploded relation is the caller's call via
    ``.cache()`` when it fits)."""
    return docs_df.select("doc_id", F.explode_outer("spans").alias("s"))


def media_spans(docs_df: DataFrame) -> DataFrame:
    """documents -> one row per media span (doc_id, offset, media_ref)."""
    return (
        exploded_spans(docs_df)
        .where(F.col("s.kind") == F.lit("media"))
        .where(F.col("s.media_ref").isNotNull())
        .select(
            "doc_id",
            F.col("s.offset").alias("media_offset"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


def weights_broadcast(spark: SparkSession):
    """The recognizer weights, broadcast once per SparkContext and
    reused by every pass: a broadcast per call would leak one per pass
    over a long session. The handle lives on the SparkContext object, so
    a new context gets a new broadcast."""
    sc = spark.sparkContext
    bc = getattr(sc, "_ocr_weights_bc", None)
    if bc is None:
        bc = sc._ocr_weights_bc = sc.broadcast(serialize_weights())
    return bc


def text_only(options: PipelineOptions | None) -> PipelineOptions:
    """The caller's options with ``emit_contours=False``: for entry
    points that keep only spans and metrics, so the kernel does not
    trace contour polygons that would be thrown away."""
    return replace(options or PipelineOptions(), emit_contours=False)


def _make_ocr_kernel(weight_bc, options=None):
    """Build the mapInPandas kernel closing over broadcast weights and
    the (picklable) per-run PipelineOptions."""

    def ocr_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        session = get_session(weight_bc.value)  # executor-global, warm
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in OCR_LINES_SCHEMA.fields}
            for doc_id, media_offset, media_ref, content in zip(
                pdf["doc_id"], pdf["media_offset"], pdf["media_ref"], pdf["content"]
            ):
                res = process_page(bytes(content), session, options=options)
                if res.status == "success" and res.texts:
                    for rank, (text, conf) in enumerate(zip(res.texts, res.confs)):
                        out["doc_id"].append(doc_id)
                        out["media_offset"].append(media_offset)
                        out["media_ref"].append(media_ref)
                        out["line_rank"].append(rank)
                        out["text"].append(text)
                        out["ctc_conf"].append(conf)
                        out["page_angle"].append(res.angle)
                        out["dewarp_applied"].append(res.dewarp_applied)
                        out["n_lines"].append(res.n_lines)
                        out["status"].append(res.status)
                        out["stage_ms"].append(res.stage_ms)
                        out["contour"].append(
                            res.contours[rank] if rank < len(res.contours) else None
                        )
                else:
                    # keep one row per failed/empty page for lineage metrics
                    out["doc_id"].append(doc_id)
                    out["media_offset"].append(media_offset)
                    out["media_ref"].append(media_ref)
                    out["line_rank"].append(-1)
                    out["text"].append(None)
                    out["ctc_conf"].append(None)
                    out["page_angle"].append(res.angle)
                    out["dewarp_applied"].append(res.dewarp_applied)
                    out["n_lines"].append(0)
                    out["status"].append(res.status if res.status != "success" else "empty")
                    out["stage_ms"].append(res.stage_ms)
                    out["contour"].append(None)
            yield pd.DataFrame(out)

    return ocr_kernel


def recognize_pages(
    spark: SparkSession,
    docs_df: DataFrame,
    pages_df: DataFrame,
    n_partitions: int | None = None,
    repartition: bool = True,
    strategy: str = "shuffle",
    options=None,
) -> DataFrame:
    """Media spans -> per-line OCR rows (OCR_LINES_SCHEMA).
    ``options``: a page.PipelineOptions (k-factor, tps/dewarp mode,
    line sorting, merge-lines) applied inside the kernel.

    ``strategy`` picks how page bytes meet their media spans — the
    decision that dominates this job's shuffle bytes, because a page row
    is ~KBs of image while a span row is ~50 B:

    - ``"shuffle"`` (default): hash join on media_ref, then an explicit
      page-granular exchange ahead of the kernel (a hot multi-page
      document cannot skew a partition) at a partition count AQE will
      not coalesce — AQE sizes partitions by bytes, not the CPU cost
      that dominates this stage. Page bytes cross the network twice.
      ``repartition=False`` drops the second exchange and reuses the
      join's partitioning (once).
    - ``"broadcast"``: broadcast the SPAN side onto the pages relation —
      page bytes never move. This is the 100-TB-correct shape whenever
      the pages table is already well-distributed (bucketed by
      media_ref, or any even partitioning): ship the small side to the
      fat side, never the reverse. At full corpus scale the global span
      relation exceeds broadcast size, but per-bucket it is exactly the
      bucket-local spans — i.e. a bucketed sort-merge join where only
      span-sized rows shuffle; the local-mode broadcast is that plan's
      single-JVM expression. Kernel parallelism = pages partitioning
      (caller ensures it; see jobs/ and scripts/bench_scaling.py).
    """
    weight_bc = weights_broadcast(spark)
    media = media_spans(docs_df)
    if strategy == "broadcast":
        joined = pages_df.select("media_ref", "content").join(
            F.broadcast(media), "media_ref"
        )
        return joined.mapInPandas(
            _make_ocr_kernel(weight_bc, options), schema=OCR_LINES_SCHEMA
        )
    joined = media.join(pages_df.select("media_ref", "content"), "media_ref")
    if repartition:
        if n_partitions is None:
            # 4 waves per core: variable per-page cost (deskew/dewarp
            # redetects) balances out without a long straggler tail
            n_partitions = spark.sparkContext.defaultParallelism * 4
        joined = joined.repartition(n_partitions, "media_ref")
    return joined.mapInPandas(
        _make_ocr_kernel(weight_bc, options), schema=OCR_LINES_SCHEMA
    )


# reference OCR-lines schema (save_ocr_lines_parquet, BDRC/utils.py:1273-1285);
# guid is a deterministic content hash (uuid1 is wall-clock-dependent,
# SURVEY.md §7 "determinism")
OCR_LINES_EVAL_SCHEMA = (
    "guid string, doc_id string, media_ref string, line_rank int,"
    " text string, encoding string, ctc_conf float, norm_logp float,"
    " n_beams short, logits array<float>, lm_scores array<float>"
)


def recognize_pages_eval(
    spark: SparkSession,
    docs_df: DataFrame,
    pages_df: DataFrame,
    n_partitions: int | None = None,
    options=None,
) -> DataFrame:
    """Eval-mode recognition: beam decode with top-k, emitting the
    reference's OCR-lines row shape (guid/text/encoding/ctc_conf/
    norm_logp/n_beams/logits/lm_scores — BDRC/utils.py:1273-1285;
    run_text_recognition_eval, BDRC/inference.py:668-726)."""
    import hashlib

    weight_bc = weights_broadcast(spark)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .kernels.ctc import ctc_confidence
        from .page import process_page

        session = get_session(weight_bc.value)
        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "guid", "doc_id", "media_ref", "line_rank", "text",
                    "encoding", "ctc_conf", "norm_logp", "n_beams",
                    "logits", "lm_scores",
                )
            }
            for doc_id, media_ref, content in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["content"]
            ):
                res = process_page(
                    bytes(content), session, eval_mode=True, options=options
                )
                if res.status != "success":
                    continue
                for rank, (text, conf, beams) in enumerate(
                    zip(res.texts, res.confs, res.beams)
                ):
                    guid = hashlib.md5(
                        f"{doc_id}/{media_ref}/{rank}/{text}".encode()
                    ).hexdigest()
                    best_lp = beams[0][1]
                    rows["guid"].append(guid)
                    rows["doc_id"].append(doc_id)
                    rows["media_ref"].append(media_ref)
                    rows["line_rank"].append(rank)
                    rows["text"].append(text)
                    rows["encoding"].append("UNICODE")
                    rows["ctc_conf"].append(conf)
                    rows["norm_logp"].append(
                        best_lp / max(len(text), 1)
                    )
                    rows["n_beams"].append(len(beams))
                    rows["logits"].append([lp for _, lp in beams])
                    rows["lm_scores"].append(
                        [ctc_confidence(lp, max(len(t), 1)) for t, lp in beams]
                    )
            yield pd.DataFrame(rows)

    media = media_spans(docs_df)
    joined = media.join(pages_df.select("media_ref", "content"), "media_ref")
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism * 4
    joined = joined.repartition(n_partitions, "media_ref")
    return joined.mapInPandas(kernel, schema=OCR_LINES_EVAL_SCHEMA)


def reassemble_spans(docs_df: DataFrame, ocr_df: DataFrame) -> DataFrame:
    """Original spans + OCR line rows -> ordered output span sequences.

    Sort key is (source offset, 0 for the original span / 1 for derived
    lines, line rank): a media span is immediately followed by its
    detected lines in reading order (FIXTURES.md §3); offsets are then
    renumbered densely. Pure Catalyst: union + groupBy + array_sort +
    transform — no Python.

    ``explode_outer`` keeps documents whose spans array is empty: they
    surface as a kind-null sentinel row (src_offset -1, sorts first)
    that the final filter drops, so the document survives with an empty
    spans array instead of vanishing from the output.
    """
    originals = exploded_spans(docs_df).select(
        "doc_id",
        F.coalesce(F.col("s.offset"), F.lit(-1)).alias("src_offset"),
        F.lit(0).alias("sub"),
        F.lit(0).alias("rank"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    lines = ocr_df.where(
        (F.col("status") == "success") & F.col("text").isNotNull()
    ).select(
        "doc_id",
        F.col("media_offset").alias("src_offset"),
        F.lit(1).alias("sub"),
        F.col("line_rank").alias("rank"),
        F.lit("text").alias("kind"),
        "text",
        "media_ref",
    )
    unioned = originals.unionByName(lines)
    collected = unioned.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("src_offset", "sub", "rank", "kind", "text", "media_ref"))
        ).alias("ordered")
    )
    spans = F.transform(
        F.filter("ordered", lambda x: x["kind"].isNotNull()),
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    ).alias("spans")
    return collected.select("doc_id", spans)


def extract_spans(
    spark: SparkSession,
    docs_df: DataFrame,
    pages_df: DataFrame,
    n_partitions: int | None = None,
    strategy: str = "shuffle",
    options=None,
) -> DataFrame:
    """End-to-end: documents + pages -> output documents (same schema).
    Output spans carry no contours, so the kernel runs ``text_only``."""
    ocr = recognize_pages(
        spark, docs_df, pages_df, n_partitions, strategy=strategy,
        options=text_only(options),
    )
    out = reassemble_spans(docs_df, ocr)
    # pin the declared output schema
    assert [f.name for f in out.schema.fields] == [
        f.name for f in DOCUMENTS_SCHEMA.fields
    ]
    return out


# full LINE_DETECTION_SCHEMA fidelity (Config.py:90-115): nested contour
# polygons (Douglas-Peucker simplified) alongside axis-aligned AND
# rotated (minAreaRect-equivalent) boxes — the reference emits both
# (get_union_bbox, BDRC/utils.py:1081-1097)
DETECTION_OUT_SCHEMA = (
    "image_name string, image_width int, image_height int, num_contours int,"
    " contours array<array<struct<x:int, y:int>>>,"
    " bboxes array<struct<x:int, y:int, w:int, h:int>>,"
    " rbboxes array<struct<cx:double, cy:double, w:double, h:double,"
    " angle:double, points:array<struct<x:int, y:int>>>>, status string"
)


def detect_lines(spark: SparkSession, pages_df: DataFrame) -> DataFrame:
    """Detection-only job (EP3, infer_lines_cli.py): pages -> per-page
    line contours + bboxes in reading order (LINE_DETECTION_SCHEMA
    analogue, write_result_parquet BDRC/utils.py:1119-1139)."""
    import pandas as pd  # noqa: F811

    def kernel(batches):
        from .page import detect_page

        worker_init()
        for pdf in batches:
            rows = {
                "image_name": [], "image_width": [], "image_height": [],
                "num_contours": [], "contours": [], "bboxes": [],
                "rbboxes": [], "status": [],
            }
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                d = detect_page(bytes(content))
                rows["image_name"].append(ref)
                rows["image_width"].append(d["width"])
                rows["image_height"].append(d["height"])
                rows["num_contours"].append(len(d["bboxes"]))
                rows["contours"].append(d["contours"])
                rows["bboxes"].append(d["bboxes"])
                rows["rbboxes"].append(d["rbboxes"])
                rows["status"].append(d["status"])
            yield pd.DataFrame(rows)

    n = spark.sparkContext.defaultParallelism * 4
    return (
        pages_df.select("media_ref", "content")
        .repartition(n, "media_ref")
        .mapInPandas(kernel, schema=DETECTION_OUT_SCHEMA)
    )


def page_metrics(ocr_df: DataFrame) -> DataFrame:
    """Per-page QA metrics (cf. job metrics, BDRC/pipeline.py:177-187)."""
    return ocr_df.groupBy("doc_id", "media_ref").agg(
        F.max("n_lines").alias("lines_detected"),
        F.sum(F.length("text")).alias("chars"),
        F.max("page_angle").alias("rotation_angle"),
        F.max("dewarp_applied").alias("dewarping_applied"),
        F.min("status").alias("status"),
    )
