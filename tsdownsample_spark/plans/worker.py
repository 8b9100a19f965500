"""Python-worker import-cache guard.

PySpark's ``worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``.  For each ``zipimporter`` on the worker's
path (Spark's jar, ``pyspark.zip`` once per package prefix, py4j and the
shipped engine zip) CPython then re-reads the archive's whole central
directory: ~200 ms of CPU per task on a warm worker, for archives that never
change while the worker lives.

:func:`install` swaps ``zipimporter.invalidate_caches`` for a version that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` differ
from what this process saw when it last read it; otherwise the importer is
pointed at the directory already in ``zipimport._zip_directory_cache``.  An
archive that does change is still re-read.  The package zip's file name is
its content hash (``plans/shipping.py``), so a new engine version arrives on
a new path with a fresh importer anyway.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before this process last read it;
# per process, like zipimport's own _zip_directory_cache it guards
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        stamp = None  # gone or unreadable: zipimport's own re-read handles it
    else:
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)
        _stamps[self.archive] = stamp


def install() -> None:
    """Idempotently install the guard in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
