"""Stamp-checked zip-directory reuse inside PySpark worker processes.

Every Python task a PySpark worker runs starts in
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
cached ``zipimporter`` re-parse its archive's central directory on the
spot: one full read of ``pyspark.zip`` (~1,300 entries) per package
imported from it, 13-17 reads per task in this engine's workers, and
most of the CPU of a small UDF or data-source planner task.

``install`` makes that re-read conditional. An importer whose archive
still has the ``(st_ino, st_size, st_mtime_ns)`` stamp it had when its
directory was last parsed reuses the directory already held in
``zipimport._zip_directory_cache``; a changed or newly added archive
(``addPyFile``) is re-read exactly as before, so import semantics are
kept. It is installed on package import (``etl_geotab_spark/__init__``)
because the data-source planner workers run under the fixed
``pyspark.daemon`` and reach the engine only by unpickling its classes.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its stamp when the directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a write racing the read re-reads next time
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> bool:
    """Install the hook in a PySpark worker (``PYTHON_WORKER_FACTORY_SECRET``
    set) on Python < 3.13, where invalidation is still eager; anywhere
    else a no-op. Idempotent. Returns whether the hook is active."""
    if sys.version_info >= (3, 13) or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
