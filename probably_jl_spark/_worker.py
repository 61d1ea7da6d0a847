"""PySpark worker set-up: a stat-gated zip-directory refresh.

Before every Python task, PySpark's worker runs ``setup_spark_files``,
which ends with ``importlib.invalidate_caches()`` so that py-files added
or rewritten since the last task become importable. On CPython 3.10-3.12
that call makes every ``zipimport.zipimporter`` on ``sys.path`` re-read
its archive's whole zip directory. A worker that runs this library holds
about 16 of them (on ``pyspark.zip``, the py4j zip and the Spark core
jar), which costs 0.1-0.25 s of CPU per task: about ten times the
numpy work of one 48k-row sketch batch. CPython 3.13 already invalidates
lazily, so there is nothing to do there.

``install()`` replaces ``zipimporter.invalidate_caches`` in the worker
process with a version that first compares the archive's
``(st_mtime_ns, st_size, st_ino)`` with the stat taken at its last read.
An unchanged archive reuses the directory already in
``zipimport._zip_directory_cache``; a changed, new or missing one goes
through the stdlib method. Spark's reason to invalidate, picking up new
or rewritten py-files, therefore still holds. The stat is taken before
the read, so an archive rewritten during the read is read again next
time. Each archive is read once more after ``install()``, because a
directory read before it has no recorded stat.

Importing the package calls ``install()``. Unpickling a library UDF
imports the package, so every worker that runs library code is gated
from its next task onward. It does nothing on the driver, where
``SparkFiles._is_running_on_worker`` is false; that flag is set by
``setup_spark_files`` before the task's UDFs are unpickled.

Rejected alternatives:

- a custom ``spark.python.worker.module`` that installs the gate at
  worker start: it adds a conf key, and every Python UDF of the session
  fails if the daemon cannot import that module;
- trimming ``sys.path`` of archives with no Python in them (the Spark
  core jar): Spark rebuilds ``sys.path`` for every worker, and the
  pyspark and py4j zips are needed anyway.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` on the archive's stat, in a
    PySpark worker on CPython < 3.13. Idempotent; a no-op elsewhere."""
    if sys.version_info >= (3, 13):
        return
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:
        return
    if not SparkFiles._is_running_on_worker:
        return
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib_invalidate, "_stat_gated", False):
        return
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat of its last read

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        stdlib_invalidate(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = key
        else:
            read_at.pop(self.archive, None)

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
