"""SparkSession factory with the engine's scale-aware defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Pages are fat rows (one encoded image per row): keep Arrow batches
# small so a mapInPandas batch bounds executor memory (SURVEY.md §4
# "vectorized execution" — the reference batches 8-12 pages per
# DataLoader step, infer_lines_cli.py:58-62). 32 measured best in the
# round-2 sweep (16/32/64/128/256) — small batches keep the Python
# workers streaming behind the JVM scan instead of bursting.
ARROW_BATCH_ROWS = 32


def get_spark(
    app_name: str = "ocr_inference_spark",
    master: str | None = None,
) -> SparkSession:
    # the cores this process may run on, unless SPARK_GRAFT_CPUS says
    cores = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cores}]"
    n = master[master.find("[") + 1 : master.find("]")]
    shuffle_partitions = 32 if n == "*" else max(int(n), 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.ui.enabled", "false")
        # Spark's default, pinned: worker.worker_init installs its import
        # guard once per Python worker process, so it saves the ~58 ms
        # per-task archive re-read only while workers are reused
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_self(spark)
    return spark


def _ship_self(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile), so jobs
    built on get_spark() work regardless of the driver process CWD —
    the programmatic equivalent of spark-submit --py-files."""
    import shutil
    import tempfile

    try:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        base = os.path.join(
            tempfile.gettempdir(), f"ocr_inference_spark_self_{os.getpid()}"
        )
        zip_path = base + ".zip"
        if not os.path.exists(zip_path):
            shutil.make_archive(base, "zip", root_dir=repo, base_dir="ocr_inference_spark")
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already shipped or running from a --py-files deployment
