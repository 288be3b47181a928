"""Skip re-reading an unchanged zip archive on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``) so that files added
with ``addPyFile`` become importable. Before CPython 3.13 each
``zipimporter`` answers that call by re-reading its archive's whole
central directory, and a worker holds 16 of them (``pyspark.zip`` x12,
the py4j zip x2, the Spark core jar x2): ~0.14 CPU-s per task whatever its
row count. ``install()`` makes a re-read happen only when the archive's
``(st_size, st_mtime_ns, st_ino)`` differs from the one seen before its
last read, so a new or rewritten archive is still re-read. CPython 3.13
made the invalidation lazy itself, and before 3.10 zipimporters had no
``invalidate_caches``; there ``install()`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> stat key taken just before its last directory read
_read_at: dict = {}


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; idempotent, a no-op outside
    CPython 3.10-3.12."""
    cls = zipimport.zipimporter
    if not (3, 10) <= sys.version_info < (3, 13) or getattr(
        cls.invalidate_caches, "_stat_keyed", False
    ):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a rewrite racing the read leaves a stale key,
        # which only costs one more read on the next call
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key

    invalidate_caches._stat_keyed = True
    cls.invalidate_caches = invalidate_caches
