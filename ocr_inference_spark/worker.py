"""The one Arrow driver of every row kernel, and the once-per-process
setup of the Python workers that run it.

``map_rows(df, schema, setup)`` runs a row function over ``df`` inside
one ``mapInPandas``: each input row gives zero or more output rows.
The page kernels (pipeline, layout, artifacts) and the text, media and
corpus-synthesis kernels all go through it; only the kernels that work
on a whole batch at once (``urlnorm.normalize_urls``, ``robots``, the
``similarity`` LSH) keep their own ``mapInPandas``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter`` on ``sys.path`` then re-reads its archive's whole
central directory, and a worker holds about 16 of them (pyspark.zip,
the spark-core jar, py4j, this package's shipped zip): ~58 ms of CPU
per task on a 4-vCPU host, re-parsing files that have not changed. With
``spark.python.worker.reuse=true`` (pinned in ``session.get_spark``) a
worker process serves many tasks, so a guard installed once in the
process pays off on every later task.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_GUARD_MARK = "_ocr_stamp_guard"


def worker_init() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since the last read.

    A changed archive is still picked up, which is why pyspark
    invalidates; an archive that cannot be stat'ed falls back to the
    original re-read. Idempotent: later calls are no-ops."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, _GUARD_MARK, False):
        return
    stamps: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            # unchanged since the last read, by this importer or another
            # over the same archive (pyspark.zip alone has ~12)
            self._files = files
            return
        # stamp taken before the read: a write racing the read leaves a
        # stale stamp, so the next call re-reads instead of missing it
        original(self)
        stamps[self.archive] = stamp

    setattr(invalidate_caches, _GUARD_MARK, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # the directories cached so far were read at an unknown stamp:
    # read each archive once now so every stamp matches what is cached
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


def row_kernel(columns: list[str], setup: Callable[[], Callable]):
    """The ``mapInPandas`` function of :func:`map_rows`. ``setup()``
    runs once per task, after :func:`worker_init`, and returns the row
    function. That gets each input row (a namedtuple over the input
    columns) and yields output rows as tuples in ``columns`` order; each
    Arrow batch in gives one frame out, an empty batch an empty frame."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        row_fn = setup()
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in columns}
            cols = list(out.values())
            for row in pdf.itertuples(index=False):
                for rec in row_fn(row):
                    for col, v in zip(cols, rec):
                        col.append(v)
            yield pd.DataFrame(out)

    return kernel


def map_rows(df: DataFrame, schema, setup: Callable[[], Callable]) -> DataFrame:
    """The one Arrow driver of the row kernels: ``df`` -> ``schema`` (a
    StructType or DDL string) through :func:`row_kernel`."""
    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return df.mapInPandas(row_kernel(struct.fieldNames(), setup), schema=schema)
