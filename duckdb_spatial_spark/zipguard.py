"""Skip the per-task re-read of unchanged zip archives in Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimport.zipimporter.invalidate_caches`` answers that by eagerly
re-reading the archive's whole central directory, once per importer
instance. A worker holds about 16 importers over ``pyspark.zip`` (1,328
entries), so every Python task paid ~0.2 CPU-s before running any UDF
code. From 3.13 on the method only drops a cache entry, and nothing is
patched there.

:func:`install` wraps the method so that an importer re-reads only when
its archive's ``(st_mtime_ns, st_size)`` differs from what that importer
last read: a new or rewritten archive is still re-read, an unchanged one
is not. The package installs it once per worker process (see
``__init__``); the driver's import system is never touched.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_STAMP = "_zipguard_stamp"


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def installed() -> bool:
    """Whether this process's ``zipimporter.invalidate_caches`` is the guard."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` in this process (idempotent).
    Returns whether the guard is active; False on Pythons whose method is
    already lazy."""
    if sys.version_info >= (3, 13):
        return False
    if installed():
        return True
    reread = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        # stat BEFORE reading: a rewrite racing the read leaves a stale
        # stamp, so the next call reads again rather than never
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, _STAMP, None):
            reread(self)
            setattr(self, _STAMP, stamp)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
