"""Stat-guarded zip directory reloads for the engine's PySpark workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11
and 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
zip central directory of its archive, and a worker holds one
``zipimporter`` per package directory it imported from: 12 for
``pyspark.zip`` (1,328 entries), 2 for the spark-core jar (5,359
entries) and 2 for py4j. That is 0.18-0.31 s of CPU per task (4-core VM,
``local[4]``) before any kernel runs, for archives that never change
while the worker lives.

:func:`install_zip_guard` wraps the method so that an archive's
directory is re-read only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` differs from the one seen when its cached directory was
read. A missing archive or a failing ``stat`` keeps the stdlib
behaviour. Python 3.13 made the method lazy (it only drops the cache
entry), so nothing is installed there.

The package installs the guard when a worker first imports it (every
engine kernel is unpickled with that import); the driver's
``zipimporter`` stays the stdlib one.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zip_guard(cls: type = zipimport.zipimporter) -> bool:
    """Wrap ``cls.invalidate_caches`` with the stat guard. Idempotent;
    returns whether the guard is in place after the call.

    Archives already in ``zipimport._zip_directory_cache`` are stamped
    with their current stat: in a worker the cache was refreshed by the
    task that is importing the package, moments earlier."""
    if sys.version_info >= (3, 13):
        return False
    stdlib = cls.invalidate_caches
    if getattr(stdlib, "_stat_guarded", False):
        return True
    cache = zipimport._zip_directory_cache
    seen: dict[str, tuple[int, int, int]] = {}
    for archive in list(cache):
        key = _stat_key(archive)
        if key is not None:
            seen[archive] = key

    @functools.wraps(stdlib)
    def invalidate_caches(self) -> None:
        # stat BEFORE the read: a rewrite racing the read leaves an old
        # stamp on new files, which costs one extra read, never a miss
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and seen.get(self.archive) == key:
            self._files = files
            return
        stdlib(self)
        if key is not None and self.archive in cache:
            seen[self.archive] = key
        else:
            seen.pop(self.archive, None)

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches
    return True


def in_pyspark_worker() -> bool:
    """True inside a running PySpark task (worker processes only)."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None
