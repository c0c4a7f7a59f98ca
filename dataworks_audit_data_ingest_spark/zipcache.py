"""Stat-checked ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every Python
task (``pyspark/worker_util.py::setup_spark_files``), and on CPython 3.11
each zipimporter then re-reads its archive's central directory: one per
subpackage imported from ``pyspark.zip``, two over the Spark core jar —
~0.2 s per task (PERF.md, "Per-Python-task fixed cost"). Importing this
module (the package ``__init__`` does; any worker that unpickles package
code imports the package) re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since it was read, the staleness rule
``FileFinder`` applies to directories.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) its cached directory was read at
_read_at: dict[str, tuple[int, int]] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive, _read=zipimport._read_directory):
    # stat before reading: an archive rewritten mid-read then looks stale
    sig = _signature(archive)
    files = _read(archive)
    if sig is not None:
        _read_at[archive] = sig
    return files


def invalidate_caches(self, _invalidate=zipimport.zipimporter.invalidate_caches):
    """Re-read the archive's directory only if the archive changed."""
    files = zipimport._zip_directory_cache.get(self.archive)
    sig = _read_at.get(self.archive)
    if files is not None and sig is not None and sig == _signature(self.archive):
        self._files = files  # the shared directory, maybe re-read by a sibling
        return
    _invalidate(self)


zipimport._read_directory = _read_directory
zipimport.zipimporter.invalidate_caches = invalidate_caches
