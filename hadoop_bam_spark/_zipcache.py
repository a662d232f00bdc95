"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python worker call (``worker_util.setup_spark_files``). Before CPython
3.13 each ``zipimporter`` then re-reads its archive's whole central
directory, and a worker holds one importer per ``pyspark.zip`` package
path (~15 over ~1,300 entries): ~150 ms of CPU per call, on the critical
path of every planner round-trip and scan task. This wrapper re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` stamp changed;
otherwise the importer shares the directory already cached for it.
CPython 3.13 re-reads lazily itself, so it is left alone there.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_read: dict[str, tuple] = {}  # archive -> (stamp, directory read at that stamp)


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    seen_stamp, seen_files = _read.get(self.archive, (None, None))
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == seen_stamp and files is seen_files:
        self._files = files
        return
    _original(self)  # stamp taken first: a write during the read re-reads
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None:
        _read[self.archive] = (stamp, files)
    else:
        _read.pop(self.archive, None)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (CPython < 3.13 only)."""
    if sys.implementation.name == "cpython" and sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
