"""The three workloads: inputs from a seed, one timed pass, an output
check against a reference, and the per-layer probes of the traced run.

- ``ocr_extract``: ``pipeline.extract_spans(strategy="broadcast")`` over
  cached pages (1 page x 3 lines per document, from a seeded subset of
  the sf0.1 documents) into a noop sink. The page kernel does most of
  the work.
- ``ocr_job``: ``checkpoint.run_resumable(strategy="shuffle")`` over
  documents and pages read back from parquet (4 pages x 6 lines per
  document, from a seeded subset of the sf0.01 documents, ~1% planted
  malformed payloads), writing the bucketed output and the metrics
  table. It runs on its own with ``--workload ocr_job``; BENCHMARK.json
  does not list it, and the traced ``ocr_extract`` run sets it up,
  checks it and times one pass for its ``checkpoint.*`` layers.
- ``query_suite``: headline queries over the sf0.01 tables into a noop
  sink; no OCR kernel runs.

The input tables under ``data/`` are copies of the engine's sf0.001,
sf0.01 and sf0.1 testdata tables (only those the workloads read).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spans import Tracer, patched

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

STAGES = ("decode", "detect", "deskew", "dewarp", "extract", "recognize")

# (span name, attribute of ocr_inference_spark.page that binds it)
KERNEL_FUNCS = (
    ("imgcodec.decode_image", "decode_image"),
    ("kernels.binarize.binarize", "binarize"),
    ("kernels.morphology.line_segmentation_mask", "line_segmentation_mask"),
    ("kernels.components.connected_components", "connected_components"),
    ("kernels.deskew.estimate_page_angle", "estimate_page_angle"),
    ("kernels.dewarp.fit_page_shift", "fit_page_shift"),
    ("kernels.dewarp.apply_column_shift", "apply_column_shift"),
    ("kernels.reading_order.sort_lines_by_threshold", "sort_lines_by_threshold"),
    ("kernels.linecrop.extract_line_images", "extract_line_images"),
    ("kernels.contours.contour_points", None),  # imported inside process_page
    ("model.forward_batch", None),  # a RecognitionSession method
    ("kernels.ctc.greedy_decode", "greedy_decode"),
    ("glyphs.decode_ids", "decode_ids"),
)

# The headline queries whose shapes the rest share, few enough that the
# cold check pass and the timed passes fit a run: scan-and-aggregate,
# join + top-k, window top-k, sessionization window, shingle self-join,
# and the documents-table dense projection and explode + aggregate. Each
# has a DuckDB oracle.
QUERY_SET = (
    "q01_pricing_summary", "q02_top_orders", "q10_topk_orders_per_customer",
    "q11_user_sessions", "q24_jaccard_pairs", "q60_gopher_quality", "q67_bm25_topk",
)
QUERY_TABLES = ("lineitem", "orders", "customer", "events", "documents")

MB = 1 << 20


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def span_key(rows) -> dict:
    """Span-sequence equality key of ``tests/test_synth.py``."""
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def compare_docs(got: dict, want: dict, planted: set) -> tuple[int, int, int]:
    """(pages attempted, unplanted pages without lines, documents whose
    spans differ). A planted page keeps its media span and loses its
    lines; the other spans of its document are unchanged."""
    attempted = failed = mismatched = 0
    for doc_id, spans in want.items():
        kept = [s for s in spans if not (s[0] == "text" and s[2] in planted)]
        kept = [(k, t, m, i) for i, (k, t, m, _) in enumerate(kept)]
        out = got.get(doc_id)
        media = [s[2] for s in spans if s[0] == "media"]
        attempted += len(media)
        with_lines = {s[2] for s in out or () if s[0] == "text" and s[2] is not None}
        failed += sum(1 for m in media if m not in planted and m not in with_lines)
        mismatched += out != kept
    mismatched += len(set(got) - set(want))
    return attempted, failed, mismatched


def source_documents(out_dir: str, sf: str, n: int, seed: int) -> list[int]:
    """Write ``n`` seed-chosen rows of the ``sf`` documents table; returns
    their doc ids."""
    table = pq.read_table(os.path.join(DATA, sf, "documents.parquet"))
    pick = np.sort(np.random.default_rng(seed).choice(table.num_rows, n, replace=False))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table.take(pick), os.path.join(out_dir, "documents.parquet"))
    return table.column("doc_id").take(pick).to_pylist()


def quantile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q * 100)) if values else 0.0


def stage_quantiles(ocr_df) -> dict:
    """p50/p99 of each kernel stage over pages, from ``stage_ms``."""
    per_page = ocr_df.groupBy("media_ref").agg(F.first("stage_ms").alias("m")).collect()
    out = {}
    for st in STAGES:
        vals = [r["m"][st] for r in per_page if r["m"] and st in r["m"]]
        out[f"page.stage_ms.{st}.p50"] = quantile(vals, 0.5)
        out[f"page.stage_ms.{st}.p99"] = quantile(vals, 0.99)
    return out


def kernel_layers(pages_df, seed: int, n: int, tracer: Tracer, skip=()) -> dict:
    """Single-core, in-process page kernel over a seeded sample of the
    workload's pages: ms per page untraced, then per-function call
    counts and self time with the functions wrapped where page.py binds
    them. The traced loop's extra time over the untraced one is the
    tracing overhead."""
    import ocr_inference_spark.kernels.contours as contours
    import ocr_inference_spark.page as page
    from ocr_inference_spark.model import RecognitionSession, serialize_weights

    rows = (
        pages_df.where(~F.col("media_ref").isin(list(skip)))
        .select("media_ref", "content")
        .orderBy(F.xxhash64("media_ref", F.lit(seed)))
        .limit(n)
        .collect()
    )
    payloads = [bytes(r["content"]) for r in rows]
    session = RecognitionSession(serialize_weights())
    page.process_page(payloads[0], session)  # warm caches
    t0 = time.perf_counter()
    for p in payloads:
        page.process_page(p, session)
    plain_s = time.perf_counter() - t0

    targets = {}
    for name, attr in KERNEL_FUNCS:
        if attr is not None:
            targets[(page, attr)] = (name, None)
    targets[(contours, "contour_points")] = ("kernels.contours.contour_points", None)
    targets[(RecognitionSession, "forward_batch")] = (
        "model.forward_batch", lambda args: len(args[1])
    )
    with patched(tracer, targets), tracer.span("page.process_page.sample") as s:
        for p in payloads:
            page.process_page(p, session)
    out = {
        "page.ms_per_page": plain_s * 1000.0 / len(payloads),
        "trace.overhead_s": s["end"] - s["start"] - plain_s,
    }
    for name, _ in KERNEL_FUNCS:
        calls, self_ms = tracer.calls_and_self_ms(name)
        out[f"{name}.calls"] = calls
        out[f"{name}.self_ms"] = self_ms
    fwd = out["model.forward_batch.calls"]
    out["model.lines_per_forward"] = (
        tracer.counts["model.forward_batch.items"] / fwd if fwd else 0.0
    )
    return out


class Workload:
    """``prepare`` writes the inputs from the seed, ``setup`` turns them
    into the engine's inputs (timed), ``run_pass`` is one timed pass
    returning (operations, failed), ``check`` compares outputs with a
    reference, ``layers`` gives the per-layer metrics."""

    name = ""
    ops = 0
    setups = 3  # per timed run; setup_s is their median
    # timed passes per run, however short --seconds is: wall_s is their
    # median
    min_passes = 2
    warmup = 0  # untimed passes between the set-ups and the timed ones
    # (attempted, failed, mismatched) of checks that ``layers`` runs
    layer_check = (0, 0, 0)

    def prepare(self) -> None:
        """Write the seeded inputs; runs before the set-up clock."""

    def teardown(self) -> None:
        """Free what ``setup`` materialized before the next set-up."""

    def cleanup(self) -> None:
        """Remove a pass's outputs; runs outside the timed region."""


class OcrExtract(Workload):
    name = "ocr_extract"
    SAMPLE_PAGES = 48
    min_passes = 3

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed, self.smoke = work, seed, smoke
        self.n_docs = 24 if smoke else 800
        self.src = os.path.join(work, "src")

    def prepare(self) -> None:
        source_documents(self.src, "sf0.1", self.n_docs, self.seed)

    def setup(self, spark) -> dict:
        from ocr_inference_spark.synth import synth_corpus

        t0 = time.perf_counter()
        docs, pages, self.expected = synth_corpus(spark, self.src)
        parts = spark.sparkContext.defaultParallelism * 4
        # round-robin, not hash on media_ref: every task gets the same
        # number of pages, so the seed changes which pages are read but
        # not how evenly they spread over the cores
        self.pages = pages.repartition(parts).cache()
        self.ops = self.pages.count()
        self.docs = docs.cache()
        self.docs.count()
        return {"synth.synth_corpus_s": time.perf_counter() - t0}

    def teardown(self) -> None:
        self.pages.unpersist()
        self.docs.unpersist()

    def extract(self, spark):
        from ocr_inference_spark.pipeline import extract_spans

        return extract_spans(spark, self.docs, self.pages, strategy="broadcast")

    def run_pass(self, spark, log=None) -> tuple[int, int]:
        sink(self.extract(spark))
        return self.ops, 0

    def check(self, spark) -> tuple[int, int, int]:
        got = span_key(self.extract(spark).collect())
        return compare_docs(got, span_key(self.expected.collect()), set())

    def boundary(self, spark):
        """The broadcast join + mapInPandas plan of
        ``recognize_pages(strategy="broadcast")`` with a pass-through
        kernel: one empty row per page, no OCR."""
        import pandas as pd

        from ocr_inference_spark.model import get_session, serialize_weights
        from ocr_inference_spark.pipeline import media_spans
        from ocr_inference_spark.schemas import OCR_LINES_SCHEMA

        weight_bc = spark.sparkContext.broadcast(serialize_weights())
        cols = [f.name for f in OCR_LINES_SCHEMA.fields]

        def passthrough(batches):
            get_session(weight_bc.value)
            for pdf in batches:
                for content in pdf["content"]:
                    bytes(content)  # the per-page copy the real kernel makes
                n = len(pdf)
                out = {c: [None] * n for c in cols}
                out.update(
                    doc_id=pdf["doc_id"], media_offset=pdf["media_offset"],
                    media_ref=pdf["media_ref"], line_rank=[-1] * n,
                    n_lines=[0] * n, status=["empty"] * n,
                )
                yield pd.DataFrame(out)

        joined = self.pages.select("media_ref", "content").join(
            F.broadcast(media_spans(self.docs)), "media_ref"
        )
        return joined.mapInPandas(passthrough, schema=OCR_LINES_SCHEMA)

    def layers(self, spark, tracer: Tracer, log, wall_s: float) -> dict:
        from ocr_inference_spark.pipeline import reassemble_spans, recognize_pages

        with tracer.span("pipeline.recognize_pages") as s:
            sink(recognize_pages(spark, self.docs, self.pages, strategy="broadcast"))
        rec_s = s["end"] - s["start"]
        ocr = recognize_pages(spark, self.docs, self.pages, strategy="broadcast").cache()
        ocr.count()
        with tracer.span("pipeline.reassemble_spans") as s:
            sink(reassemble_spans(self.docs, ocr))
        reasm_s = s["end"] - s["start"]
        out = stage_quantiles(ocr)
        ocr.unpersist()
        with tracer.span("pipeline.boundary") as s:
            sink(self.boundary(spark))
        out.update(
            {
                "pipeline.recognize_pages_s": rec_s,
                "pipeline.reassemble_spans_s": reasm_s,
                "pipeline.boundary_s": s["end"] - s["start"],
                "pipeline.layer_sum_ratio": (rec_s + reasm_s) / wall_s,
            }
        )
        out.update(kernel_layers(self.pages, self.seed, self.SAMPLE_PAGES, tracer))
        ideal = out["page.ms_per_page"] * self.ops / 1000.0 / log.cores
        out["page.ideal_parallel_s"] = ideal
        out["pipeline.parallel_efficiency"] = ideal / rec_s
        out.update(self.job_layers(spark))
        return out

    def job_layers(self, spark) -> dict:
        """The ``ocr_job`` layers: set up the job's corpus, check it
        (planted pages included), time one resumable-job pass, and count
        lines per forward on its 6-line pages."""
        job = OcrJob(os.path.join(self.work, "job"), self.seed, self.smoke)
        job.prepare()
        job.setup(spark)
        self.layer_check = job.check(spark)
        t0 = time.perf_counter()
        job.run_pass(spark)
        out = job.checkpoint_layers(time.perf_counter() - t0)
        job.cleanup()
        sample = kernel_layers(job.pages, self.seed, 8, Tracer(), skip=job.planted)
        out["model.lines_per_forward"] = sample["model.lines_per_forward"]
        return out


class OcrJob(Workload):
    name = "ocr_job"
    SAMPLE_PAGES = 24
    PAGES_PER_DOC, LINES_PER_PAGE = 4, 6

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed = work, seed
        self.n_docs = 8 if smoke else 16
        self.src = os.path.join(work, "src")
        self.passes = 0

    def prepare(self) -> None:
        ids = source_documents(self.src, "sf0.01", self.n_docs, self.seed)
        refs = [f"page_{i:08d}_{p:02d}" for i in ids for p in range(self.PAGES_PER_DOC)]
        rng = np.random.default_rng(self.seed + 1)
        k = max(1, round(0.01 * len(refs)))
        self.planted = set(rng.choice(refs, k, replace=False).tolist())
        self.ops = len(refs)

    def setup(self, spark) -> dict:
        from ocr_inference_spark.synth import synth_corpus

        t0 = time.perf_counter()
        docs, pages, self.expected = synth_corpus(
            spark, self.src, pages_per_doc=self.PAGES_PER_DOC,
            lines_per_page=self.LINES_PER_PAGE,
        )
        # a truncated upload: the PNG signature and part of its header
        pages = pages.withColumn(
            "content",
            F.when(
                F.col("media_ref").isin(sorted(self.planted)),
                F.expr("substring(content, 1, 24)"),
            ).otherwise(F.col("content")),
        )
        inp = os.path.join(self.work, "in")
        docs.write.mode("overwrite").parquet(os.path.join(inp, "docs"))
        pages.write.mode("overwrite").parquet(os.path.join(inp, "pages"))
        self.docs = spark.read.parquet(os.path.join(inp, "docs"))
        self.pages = spark.read.parquet(os.path.join(inp, "pages"))
        return {"synth.synth_corpus_s": time.perf_counter() - t0}

    def _paths(self, tag: str) -> tuple[str, str]:
        base = os.path.join(self.work, "out", tag)
        return os.path.join(base, "spans"), os.path.join(base, "metrics")

    def run_job(self, spark, tag: str) -> tuple[str, str]:
        from ocr_inference_spark.checkpoint import run_resumable

        out, met = self._paths(tag)
        run_resumable(spark, self.docs, self.pages, out, met, job_id=tag, strategy="shuffle")
        return out, met

    def run_pass(self, spark, log=None) -> tuple[int, int]:
        self.passes += 1
        self.run_job(spark, f"pass{self.passes}")
        return self.ops, 0

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    def check(self, spark) -> tuple[int, int, int]:
        """Spans against ``expected_df`` with the planted pages' lines
        removed; exactly the planted pages must come back
        ``failed:decode``, and the metrics table must show failures only
        at the decode stage and only in the buckets holding them."""
        from ocr_inference_spark.pipeline import recognize_pages

        out, met = self.run_job(spark, "check")
        rows = spark.read.parquet(out).collect()
        attempted, failed, mismatched = compare_docs(
            span_key(rows), span_key(self.expected.collect()), self.planted
        )
        planted_docs = {"doc_" + r[len("page_") : -3] for r in self.planted}
        want_buckets = {r["bucket"] for r in rows if r["doc_id"] in planted_docs}
        m = spark.read.parquet(met)
        bad = m.where(F.col("status") != "success").select("stage", "bucket").collect()
        self.metrics_rows = m.count()
        self.output_mb = dir_mb(out)
        self.cleanup()
        if {r["stage"] for r in bad} != {"decode"} or {r["bucket"] for r in bad} != want_buckets:
            mismatched += 1

        ocr = recognize_pages(spark, self.docs, self.pages, strategy="shuffle").cache()
        status = ocr.groupBy("media_ref").agg(F.first("status").alias("s")).collect()
        not_ok = {r["media_ref"] for r in status if r["s"] not in ("success", "empty")}
        decode = {r["media_ref"] for r in status if r["s"] == "failed:decode"}
        mismatched += not (not_ok == decode == self.planted)
        self.stage_q = stage_quantiles(ocr)
        ocr.unpersist()
        return attempted, failed, mismatched

    def checkpoint_layers(self, wall_s: float) -> dict:
        return {
            "checkpoint.run_resumable_s": wall_s,
            "checkpoint.output_mb": self.output_mb,
            "checkpoint.metrics_rows": self.metrics_rows,
        }

    def layers(self, spark, tracer: Tracer, log, wall_s: float) -> dict:
        out = dict(self.stage_q)
        out.update(self.checkpoint_layers(wall_s))
        out.update(
            kernel_layers(self.pages, self.seed, self.SAMPLE_PAGES, tracer, skip=self.planted)
        )
        return out


class QuerySuite(Workload):
    name = "query_suite"
    # at sf0.01 the work is mostly planning, and the JIT keeps speeding
    # it up long after the check pass: with the compiler threads left
    # out, a pass's CPU time fell from 5.3 to 3.9 s over seven passes on
    # 4 vCPUs, most of it in the first four, and later on a slower host.
    # Three more passes warm it; the median of three drops the slowest
    warmup = 3
    min_passes = 3

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed = work, seed
        self.data = os.path.join(DATA, "sf0.001" if smoke else "sf0.01")
        self.ops = len(QUERY_SET)
        self.last: dict[str, float] = {}

    def prepare(self) -> None:
        # the tables are fixed; the seed picks the order a pass runs the
        # queries in
        order = np.random.default_rng(self.seed).permutation(len(QUERY_SET))
        self.order = [QUERY_SET[i] for i in order]

    def setup(self, spark) -> dict:
        """Read every input table in full: file listing, footers and
        column decode."""
        for t in QUERY_TABLES:
            sink(spark.read.parquet(os.path.join(self.data, f"{t}.parquet")))
        return {}

    def run_pass(self, spark, log=None) -> tuple[int, int]:
        from ocr_inference_spark.queries import QUERIES

        failed = 0
        self.last, self.util = {}, {}
        for name in self.order:
            mark = log.mark() if log else None
            t0 = time.perf_counter()
            try:
                sink(QUERIES[name](spark, self.data))
            except Exception:
                failed += 1
            self.last[name] = time.perf_counter() - t0
            if log:
                d = log.since(mark)
                self.util[name] = d["executor_run_s"] / (self.last[name] * log.cores)
        return len(QUERY_SET), failed

    def check(self, spark) -> tuple[int, int, int]:
        """Each query's rows, normalized as ``scripts/check_parity.py``
        does, against its DuckDB oracle over the same tables."""
        import duckdb

        from ocr_inference_spark.queries import ORACLES, QUERIES

        normalize = check_parity().normalize
        con = duckdb.connect()
        for t in QUERY_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        failed = mismatched = 0
        for name in self.order:
            t0 = time.perf_counter()
            try:
                sdf = QUERIES[name](spark, self.data)
                got = normalize([tuple(r) for r in sdf.collect()], sdf.columns)
            except Exception as exc:
                failed += 1
                print(f"failed: {name}: {exc!r}"[:300], file=sys.stderr)
                continue
            t1 = time.perf_counter()
            res = con.sql(ORACLES[name])
            want = normalize(res.fetchall(), [d[0] for d in res.description])
            print(f"check {name}: {len(got[1])} rows, spark {t1 - t0:.2f} s, oracle "
                  f"{time.perf_counter() - t1:.2f} s", file=sys.stderr)
            if got != want:
                mismatched += 1
                print(f"mismatch: {name}", file=sys.stderr)
        con.close()
        return len(QUERY_SET), failed, mismatched

    def layers(self, spark, tracer: Tracer, log, wall_s: float) -> dict:
        out = {}
        for name in QUERY_SET:
            out[f"queries.{name}_s"] = self.last[name]
            out[f"queries.{name}.core_util"] = self.util[name]
        return out


def check_parity():
    """``scripts/check_parity.py`` loaded by path (``scripts`` is not a
    package)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(root, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / MB


WORKLOADS = {w.name: w for w in (OcrExtract, OcrJob, QuerySuite)}
