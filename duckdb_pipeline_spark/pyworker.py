"""PySpark worker daemon with staleness-checked zip import caches.

Started by Spark as ``python -m duckdb_pipeline_spark.pyworker
pyspark.worker`` (``spark.python.daemon.module``, set in
``session.build_spark``). It patches one method, then hands over to the
stock ``pyspark.daemon.manager()``.

Why: before every task a reused worker runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` (one per package imported from ``pyspark.zip``, ~14-16)
re-parse the archive's whole central directory, changed or not:
0.17-0.25 s per task, measured on a 4-vCPU VM, against ~0.04 s of
actual kernel work in a typical curation ``mapInPandas`` stage.

The patched ``invalidate_caches`` stats the archive first and re-reads
it only when ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp
taken before the last read, or when ``stat`` fails (stock behaviour).
A rewritten archive is therefore still picked up. All importers over
one archive share one read per stamp, as they already share
``zipimport._zip_directory_cache``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp taken before the read, directory read)
_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches` that skips the re-read of an
    archive whose (inode, size, mtime_ns) stamp is unchanged."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _reads.pop(self.archive, None)
        return _stock_invalidate_caches(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _reads.get(self.archive)
    if seen is None or seen[0] != stamp:
        _stock_invalidate_caches(self)
        seen = _reads[self.archive] = (stamp, self._files)
    self._files = seen[1]


def install() -> None:
    """Patch `zipimporter.invalidate_caches` and stamp every zip
    importer that already exists, so processes forked afterwards find
    each archive read and stamped (one read per archive, paid here)."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    # importing pyspark.daemon also imports pyspark.worker, so the
    # importers stamped below cover what every forked worker uses; the
    # patch is installed from the package module, not __main__, so the
    # method's __module__ names this file's import path
    import pyspark.daemon

    from duckdb_pipeline_spark import pyworker

    pyworker.install()
    pyspark.daemon.manager()
