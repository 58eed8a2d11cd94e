"""Structured Streaming operators for the training-data pipeline.

The reference is strictly batch (its resumability is bucket
checkpointing, SURVEY.md §2.10); these operators cover the streaming
direction a 10^12-doc ingest actually needs: dedup and quality gating
applied AS DOCUMENTS ARRIVE, with exactly-once state across
micro-batches.

- ``streaming_exact_dedup``: keeps only the FIRST occurrence of each
  normalized-text key across the whole stream — a stateful
  ``applyInPandasWithState`` keyed on the md5 dup key. State per key is
  one 8-byte row (when the key was last seen), so the state store stays
  tiny no matter how fat the documents are; the shuffle key is the
  32-char digest, never the text.
- ``streaming_quality_gate``: stateless quality/language filter —
  the same JVM-side expressions as the batch q39 path, applied to a
  stream (included here so a reader sees both shapes side by side).

At scale: state lives in the checkpoint's state store (RocksDB in
production), partitioned by the dup-key hash — the same key the shuffle
uses, so no extra exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .dedup import normalize

_DEDUP_OUT = StructType(
    [
        StructField("id", LongType()),
        StructField("dup_key", StringType()),
        StructField("text", StringType()),
    ]
)
_DEDUP_STATE = StructType([StructField("seen_ms", LongType())])


def streaming_exact_dedup(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    ttl_seconds: float | None = None,
) -> DataFrame:
    """First occurrence of each normalized-text key across the stream.

    Within a micro-batch, ties resolve to the smallest id
    (deterministic); across micro-batches the state row suppresses every
    later duplicate. Output schema: (id, dup_key, text).

    ``ttl_seconds`` bounds the state store: a key's row is evicted
    once no occurrence has arrived for that long (processing-time
    timeout), after which the next occurrence is treated as new — also
    when it arrives before an idle micro-batch has evicted the key. At
    10^12-doc scale unbounded exact-forever state is not a real
    deployment — "suppress duplicates within a window" with TTL
    eviction keeps the RocksDB store proportional to the ACTIVE key
    set, which is the standard production posture. Default None keeps
    the exact-forever semantics for bounded backfills."""
    keyed = stream_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.md5(normalize(F.col(text_col)).cast("binary")).alias("dup_key"),
        F.col(text_col).alias("text"),
    )

    ttl_ms = None if ttl_seconds is None else int(ttl_seconds * 1000)

    def dedup_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        empty = pd.DataFrame(columns=["id", "dup_key", "text"])
        if state.hasTimedOut:
            state.remove()  # TTL eviction: forget the key entirely
            yield empty
            return
        now_ms = state.getCurrentProcessingTimeMs()
        # a key with new rows comes in with hasTimedOut=False even when
        # its timer lapsed before an idle batch fired it (e.g. across a
        # restart), and Spark does not hand the stored timer to Python:
        # the state row's own last-seen time decides
        if state.exists and (ttl_ms is None or now_ms - state.get[0] <= ttl_ms):
            # key already emitted in an earlier micro-batch
            for _ in pdf_iter:
                pass
            if ttl_ms is not None:
                state.update((now_ms,))
                state.setTimeoutDuration(ttl_ms)
            yield empty
            return
        best = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            row = pdf.loc[pdf["id"].idxmin()]
            if best is None or row["id"] < best["id"]:
                best = row
        state.update((now_ms,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if best is None:
            yield empty
        else:
            yield pd.DataFrame(
                {"id": [best["id"]], "dup_key": [key[0]], "text": [best["text"]]}
            )

    return keyed.groupBy("dup_key").applyInPandasWithState(
        dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_seconds is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def streaming_quality_gate(
    stream_df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
) -> DataFrame:
    """Stateless quality + language gate on a document stream — the
    q39 selection predicates as a streaming stage (pure JVM
    expressions; Catalyst plans them identically to batch)."""
    from .text import analysis as tx

    return stream_df.withColumn(
        "quality", F.round(tx.quality_score(F.col(text_col)), 6)
    ).withColumn("lang", tx.lang_id(F.col(text_col))).where(
        (F.col("quality") >= min_quality) & (F.col("lang") == lang)
    )


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
