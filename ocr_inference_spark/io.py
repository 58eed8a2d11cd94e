"""Thin table-IO abstraction: Iceberg when a catalog is configured,
plain Parquet otherwise (SURVEY.md §7 — the sandbox has no Iceberg
jars; the production path is the same API with format("iceberg")).
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

# Spark's file-split defaults (spark.sql.files.maxPartitionBytes and
# spark.sql.files.openCostInBytes)
_MAX_SPLIT_BYTES = 128 << 20
_OPEN_COST_BYTES = 4 << 20


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """ref: 'catalog.db.table' (Iceberg) or a parquet path."""
    if "/" not in ref and _has_iceberg(spark):
        return spark.read.format("iceberg").load(ref)
    return spark.read.parquet(ref)


def write_table(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if "/" not in ref and _has_iceberg(df.sparkSession):
        writer.format("iceberg").saveAsTable(ref)
    else:
        writer.parquet(ref)


class FooterStats(NamedTuple):
    """Size of a parquet table, summed over its files' footers."""

    rows: int
    row_groups: int
    bytes: int

    def scan_tasks(self, parallelism: int) -> int:
        """Scan tasks Spark gives this table at ``parallelism`` cores.

        Splits are min(maxPartitionBytes, max(openCostInBytes,
        bytes/parallelism)) wide (FilePartition.maxSplitBytes), and a
        split only yields rows for the row groups whose midpoint falls
        inside it, so a single-row-group file is ONE task however it is
        split."""
        per_core = self.bytes // max(parallelism, 1)
        split = min(_MAX_SPLIT_BYTES, max(_OPEN_COST_BYTES, per_core))
        n_splits = max(1, -(-self.bytes // split))
        return min(n_splits, self.row_groups)


def footer_stats(path: str) -> FooterStats | None:
    """Rows, row groups and bytes of the parquet table at ``path`` (a
    file or a directory; a plain path or a ``file://``/object-store
    URI), read from footer metadata only: no Spark job, no data scan.
    At 10^12 rows a ``df.count()`` would be a second full pass over the
    table; the footers (or catalog stats on a real Iceberg table) carry
    the exact count for free. ``None`` when the table is unreadable."""
    try:
        table = ds.dataset(path, format="parquet")
        metas = [f.metadata for f in table.get_fragments()]
        infos = table.filesystem.get_file_info(table.files)
    except (OSError, pa.ArrowException):
        return None
    return FooterStats(
        rows=sum(m.num_rows for m in metas),
        row_groups=sum(m.num_row_groups for m in metas),
        bytes=sum(i.size for i in infos),
    )
