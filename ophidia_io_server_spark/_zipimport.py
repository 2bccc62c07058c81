"""Stat-guarded ``zipimporter.invalidate_caches`` for Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``).  On Python 3.11
that makes every ``zipimport.zipimporter`` on the worker's path re-read its
whole archive directory: ``pyspark.zip`` is on the path once per imported
subpackage and the ``spark-core`` jar twice, so a reused worker spends about
110 ms per task re-reading archives that have not changed (NOTES.md,
"Python-worker per-task cost").  Python 3.12 made the re-read lazy, so the
patch is installed only on older interpreters.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the values seen at that
importer's last read.  A rewritten archive is still re-read, so a module
added to it imports after ``importlib.invalidate_caches()`` as before.
Importing the package installs it, which covers every Python worker that
unpickles engine code (``mapInPandas`` imports, pandas kernels, grouped-map
pipelines) from its next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed on disk."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _original_invalidate_caches(self)
    self._read_stamp = stamp


def install() -> bool:
    """Install the patch (Python < 3.12 only); return whether it is active.

    Importers already on ``sys.path_importer_cache`` are stamped with their
    archive's current state: in a Python worker the package is imported
    while a task is unpickled, right after that task's own
    ``invalidate_caches()`` has re-read every archive."""
    if sys.version_info >= (3, 12):
        return False
    if zipimport.zipimporter.invalidate_caches is not invalidate_caches:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder._read_stamp = _archive_stamp(finder.archive)
    return True
