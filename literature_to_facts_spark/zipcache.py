"""Stat-checked zip-archive directories for the import system.

pyspark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py``, ``setup_spark_files``).  On
CPython 3.10-3.12 every ``zipimport.zipimporter`` then re-reads its whole
archive directory (3.13 made that lazy).  A worker holds one importer per
package directory inside ``pyspark.zip``, the spark-core jar and py4j (16
on a local pyspark 4.1 install), each re-reading into its own dict: about
0.2 CPU-s per task before any of the task's code runs.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
reads an archive again only when its ``(st_mtime_ns, st_size, st_ino)``
changed since it was last read; otherwise the importer takes the one
directory dict in ``zipimport._zip_directory_cache`` that every importer of
the archive shares.  A changed or missing archive goes through the stdlib
method unchanged.  The package calls ``install()`` when it is imported, so
from a worker's second task on, no task re-reads an unchanged archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_read_directory = zipimport._read_directory
_stdlib_invalidate_caches = getattr(zipimport.zipimporter, "invalidate_caches", None)

# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _read_directory(archive: str) -> dict:
    """The stdlib read, stamped with a stat taken BEFORE it: an archive
    rewritten during the read keeps an older stamp and is read again."""
    stamp = _stamp(archive)
    _stamps.pop(archive, None)
    files = _stdlib_read_directory(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def invalidate_caches(self) -> None:
    """Share the cached directory while the archive is unchanged; else
    re-read it as the stdlib does."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamps.get(self.archive)
    if files is not None and stamp is not None and stamp == _stamp(self.archive):
        self._files = files
    else:
        _stdlib_invalidate_caches(self)


def install() -> None:
    """Install the stat check on CPython 3.10-3.12; a no-op elsewhere and
    when already installed."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
