"""Per-worker start-up fix for the Python (Arrow) operator stages.

Spark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``setup_spark_files`` in ``pyspark/worker_util.py``). On
CPython 3.11 that makes every ``zipimport.zipimporter`` on
``sys.path_importer_cache`` re-read its archive's whole central
directory: ``pyspark.zip`` has 1,328 entries and a worker that has run a
pandas UDF holds 16 importers into it, so each task paid about 0.3 s
before the UDF started. CPython 3.12 makes that re-read lazy upstream.

:func:`skip_unchanged_zip_rereads` replaces
``zipimport.zipimporter.invalidate_caches`` with a version that re-reads
an archive only when its ``(mtime_ns, size, inode)`` changed since the
last read; otherwise the importer keeps the shared, already-read
directory. An archive rewritten in place or replaced by a new file (a
new ``addPyFile`` version) changes that stat triple, so its new entries
stay visible. The patch is process-wide: Spark reuses Python workers,
so the first task of a worker installs it and every later Python stage
in that worker, of any operator, skips the re-reads.

The helper uses only the standard library, and this module registers
itself to be pickled by value: the Arrow functions that call the helper
run in workers that cannot import ``kmr_spark`` when the driver starts
outside the repository root.
"""

from __future__ import annotations

import os
import sys

from pyspark import cloudpickle


def skip_unchanged_zip_rereads() -> None:
    """Install the stat-checked ``zipimporter.invalidate_caches`` once
    per process (a no-op on later calls and on CPython >= 3.12)."""
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or getattr(
            cls.invalidate_caches, "stat_checked", False):
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and read_at.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a rewrite racing the read leaves an old
        # stamp, so the next call reads again rather than never
        reread(self)
        read_at[self.archive] = stamp

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches


cloudpickle.register_pickle_by_value(sys.modules[__name__])
