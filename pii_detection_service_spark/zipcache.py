"""Stat-checked ``zipimporter.invalidate_caches`` for Spark Python workers.

Every Python UDF task starts with ``importlib.invalidate_caches()``
(pyspark ``worker_util.setup_spark_files``). The workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``, and on Python < 3.12
``zipimport.zipimporter.invalidate_caches`` re-reads the whole archive
directory for every cached importer of it: one per imported subpackage,
~20 × ~12 ms of pyspark.zip per task. The replacement installed here
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
changed since the last read, and otherwise points the importer at the
shared ``zipimport._zip_directory_cache`` entry: the validate-by-stat rule
``FileFinder`` applies to directories. Python 3.12 made the zip invalidation
lazy, so nothing is installed there.

The package installs it on import inside a Spark task (``install_in_task``).
That import happens while the task unpickles its UDF, after the task's own
invalidation, so the first task of each worker process still pays once.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> bool:
    """Install the stat-checked invalidation; idempotent. Returns whether it
    is installed (never on Python >= 3.12).

    Archives already in the directory cache are recorded as read now: in a
    worker, the task that imports this package refreshed every cached
    archive moments before, at its start."""
    if sys.version_info >= (3, 12):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_checked", False):
        return True
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at = {archive: _stat_key(archive) for archive in cache}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches
    return True


def install_in_task() -> bool:
    """install() when running inside a Spark Python worker's task. The
    worker imports ``pyspark.taskcontext`` before it runs any task, so a
    process that has not imported it is not one."""
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    return install()
