"""Structured Streaming for the q43 query of ``__spark_entry__.py``.

The reference is strictly batch (its resumability is bucket
checkpointing, SURVEY.md §2.10). ``streaming_hourly_rollup`` runs the
q29 hourly event rollup as a real streaming job, so the engine's batch
plan shapes are shown to hold under a streaming source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_hourly_rollup(spark, sf_dir: str, name: str = "stream_hourly") -> DataFrame:
    """The q29 hourly event rollup executed as an ACTUAL Structured
    Streaming job — ``readStream`` over the events parquet (file source,
    availableNow trigger: the batch-backfill entry point of a real-time
    ingest), windowed aggregation in complete mode into a memory sink,
    returned as the final result table. Complete mode emits every
    window at stream end, so the result is deterministic and equals the
    batch/oracle answer exactly (decimal-cast sums, like q29).

    At scale the memory sink becomes a Delta/Iceberg sink and the
    trigger a processing-time cadence; the aggregation state lives in
    the checkpoint state store keyed by (window, event_type) — the
    shuffle key, so no extra exchange."""
    import uuid

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    money = F.col("value").cast("decimal(18,4)")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum(money).cast("double"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # detach the result from the memory sink: localCheckpoint pins the
    # rows in the block manager, then the sink's temp view is dropped —
    # repeated invocations (bench loops) do not accumulate catalog
    # entries each holding a full complete-mode copy in driver memory
    out = spark.table(table).localCheckpoint(eager=True)
    spark.catalog.dropTempView(table)
    return out
