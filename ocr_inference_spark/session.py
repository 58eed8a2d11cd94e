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
    """The engine's session on ``master``. Without one, a driver that
    spark-submit started keeps its ``--master``; any other runs
    ``local[N]`` over the cores this process may use (or
    ``SPARK_GRAFT_CPUS``). Shuffle partitions follow the started
    context's default parallelism, at least 8."""
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cores = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
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
    if master is not None:
        builder = builder.master(master)
    spark = builder.getOrCreate()
    shuffle_partitions = max(spark.sparkContext.defaultParallelism, 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
