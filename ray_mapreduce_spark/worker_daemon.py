"""Spark's Python worker daemon, minus a zip re-read on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py``, ``setup_spark_files``). Before Python 3.13
that makes every cached ``zipimporter`` re-read its archive's central
directory, and workers import pyspark itself from ``pyspark.zip``:
16 reads of ~1,300 entries per task, most of a short task's CPU.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Run as ``python -m``, it makes the re-read conditional on the archive
having changed since it was last read, keyed on ``(st_mtime_ns,
st_size)`` like ``sources.tables._SCHEMA_CACHE``, then runs Spark's own
daemon. Forked workers inherit the patch. A rewritten zip (an updated
``addPyFile``) is still re-read; a new zip path gets a fresh importer.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stat key at its last read


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = key


def install() -> None:
    """Patch ``zipimporter``; archives already read count as read now."""
    for archive in list(zipimport._zip_directory_cache):
        _read_at.setdefault(archive, _stat_key(archive))
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon  # reads pyspark.zip's directory once, here

    if sys.version_info < (3, 13):
        install()
    daemon.manager()
