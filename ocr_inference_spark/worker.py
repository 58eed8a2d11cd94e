"""Once-per-process setup for the Python workers that run OCR kernels.

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
