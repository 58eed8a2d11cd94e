"""The footer-stats scan rule behind ``queries._t(..., spread=True)``:
one footer reader for plain paths and URIs, one round-robin exchange
for a scan that would run on fewer tasks than cores, none otherwise."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_inference_spark import queries
from ocr_inference_spark.io import footer_stats


def _write(path, n_rows, row_group_size=None, payload_bytes=8):
    rng = np.random.default_rng(0)
    payload = [rng.bytes(payload_bytes) for _ in range(n_rows)]
    table = pa.table({"doc_id": np.arange(n_rows, dtype=np.int64), "payload": payload})
    pq.write_table(table, path, row_group_size=row_group_size, compression="none")


def _round_robins(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "RoundRobinPartitioning"
    )


def test_file_uri_and_plain_path_agree(spark, tmp_path):
    _write(tmp_path / "docs.parquet", 500)
    plain, uri = str(tmp_path), tmp_path.as_uri()
    assert uri.startswith("file://")
    stats = footer_stats(f"{plain}/docs.parquet")
    assert stats is not None
    assert stats.rows == 500 and stats.row_groups == 1
    assert footer_stats(f"{uri}/docs.parquet") == stats
    spread = [_round_robins(queries._t(spark, d, "docs", spread=True)) for d in (plain, uri)]
    assert spread == [1, 1]


def test_single_row_group_scan_gets_one_round_robin(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    assert par > 1
    _write(tmp_path / "docs.parquet", 500)
    assert footer_stats(str(tmp_path / "docs.parquet")).scan_tasks(par) == 1
    assert _round_robins(queries._t(spark, str(tmp_path), "docs")) == 0
    spread = queries._t(spark, str(tmp_path), "docs", spread=True)
    assert _round_robins(spread) == 1
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == 500


def test_scan_with_a_task_per_core_is_not_spread(spark, tmp_path):
    # a split is at least openCostInBytes (4 MiB) wide, so a file only
    # plans into `par` tasks once it has `par` row groups AND more than
    # par * 4 MiB; 2 * par incompressible row groups of 2.5 MiB are both
    par = spark.sparkContext.defaultParallelism
    rows_per_group = 10
    _write(
        tmp_path / "docs.parquet", 2 * par * rows_per_group,
        row_group_size=rows_per_group, payload_bytes=256 << 10,
    )
    stats = footer_stats(str(tmp_path / "docs.parquet"))
    assert stats.row_groups == 2 * par
    assert stats.bytes > par * (4 << 20)
    assert stats.scan_tasks(par) >= par
    assert _round_robins(queries._t(spark, str(tmp_path), "docs", spread=True)) == 0


def test_unreadable_footer_gives_no_stats_and_a_plain_read(spark, tmp_path, monkeypatch):
    assert footer_stats(str(tmp_path / "missing.parquet")) is None
    assert footer_stats(tmp_path.as_uri() + "/missing.parquet") is None
    # a footer the reader cannot open: the scan is read as it is
    _write(tmp_path / "docs.parquet", 500)
    monkeypatch.setattr(queries, "footer_stats", lambda path: None)
    assert _round_robins(queries._t(spark, str(tmp_path), "docs", spread=True)) == 0
