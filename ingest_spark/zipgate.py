"""Stat-gated ``zipimporter.invalidate_caches`` for Python workers.

Every task a PySpark Python worker runs starts in
``pyspark/worker_util.py:setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.11 that reaches
``zipimport.zipimporter.invalidate_caches`` (``Lib/zipimport.py``),
which re-reads the archive's whole central directory on the spot. The
JVM puts ``$SPARK_HOME/python/lib/pyspark.zip`` (about 1,300 entries)
first on the worker ``PYTHONPATH``, and a warm worker holds one
zipimporter per package it imported from it (16 for the engine's
kernels), so every task paid 16 full directory reads before its kernel
ran: a warm 8-task no-op pandas-UDF stage at local[4] on a 4-core host
took 0.83 s with them and 0.34 s without.

Importing this module replaces that method with one that re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
the last read, so a rewritten or replaced archive is still re-read. An
archive that cannot be stat'ed takes the stock path. CPython 3.12+
zipimport already re-reads lazily (``zipimporter._get_files``); there
the module changes nothing. ``ingest_spark/__init__.py`` imports it,
so every worker that unpickles an engine kernel has it from its next
task on.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_stamp: dict[str, tuple[int, int, int]] = {}  # archive → stat at last read


def _gated_invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate_caches(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamp.get(self.archive) == stamp:
        self._files = files
    else:
        _stock_invalidate_caches(self)
        _read_stamp[self.archive] = stamp


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _gated_invalidate_caches


if not hasattr(zipimport.zipimporter, "_get_files"):
    zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches
