"""pipeline.page_kernel, the function every page kernel's mapInPandas
runs, called directly on pandas batches (no Spark)."""

from __future__ import annotations

import pandas as pd

from ocr_inference_spark.pipeline import page_kernel

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
    out = list(page_kernel(COLUMNS, setup)(iter(batches)))
    assert len(calls) == 1
    assert len(out) == 2
    assert all(list(f.columns) == COLUMNS for f in out)
    assert out[0].values.tolist() == [["a", 0, 0], ["a", 1, 2], ["b", 0, 0]]
    assert len(out[1]) == 0
