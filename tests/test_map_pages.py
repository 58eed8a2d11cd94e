"""worker.row_kernel, the function every row kernel's mapInPandas runs
(worker.map_rows), called directly on pandas batches (no Spark)."""

from __future__ import annotations

import pandas as pd

from ocr_inference_spark.worker import row_kernel

COLUMNS = ["media_ref", "n", "doubled"]


def test_setup_once_and_schema_columns_for_every_batch():
    calls = []

    def setup():
        calls.append(1)

        def rows(r):
            for i in range(r.n):
                yield r.media_ref, i, 2 * i

        return rows

    batches = [
        pd.DataFrame({"media_ref": ["a", "b"], "n": [2, 1]}),
        pd.DataFrame({"media_ref": pd.Series([], dtype=object), "n": pd.Series([], dtype=int)}),
    ]
    out = list(row_kernel(COLUMNS, setup)(iter(batches)))
    assert len(calls) == 1
    assert len(out) == 2
    assert all(list(f.columns) == COLUMNS for f in out)
    assert out[0].values.tolist() == [["a", 0, 0], ["a", 1, 2], ["b", 0, 0]]
    assert len(out[1]) == 0


def test_zero_rows_for_one_input_and_several_for_another_in_order():
    """The warc/pdf shape: a record that yields nothing between ones
    that yield several keeps the others' rows in input order, and a
    batch whose every row yields nothing is an empty frame with the
    schema's columns."""

    def rows(r):
        yield from ((r.media_ref, i, 2 * i) for i in range(r.n))

    batches = [
        pd.DataFrame({"media_ref": ["a", "b", "c", "d"], "n": [3, 0, 2, 0]}),
        pd.DataFrame({"media_ref": ["e"], "n": [0]}),
    ]
    out = list(row_kernel(COLUMNS, lambda: rows)(iter(batches)))
    assert out[0].values.tolist() == [
        ["a", 0, 0], ["a", 1, 2], ["a", 2, 4], ["c", 0, 0], ["c", 1, 2],
    ]
    assert list(out[1].columns) == COLUMNS and len(out[1]) == 0
