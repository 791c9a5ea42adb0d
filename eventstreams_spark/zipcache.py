"""Stat-keyed ``zipimporter.invalidate_caches`` for Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py``, ``setup_spark_files``) so that files
added with ``addPyFile`` become importable. Up to CPython 3.12,
``zipimporter.invalidate_caches`` answers that by re-reading the whole
central directory of its archive, and it does so for every zip importer
in ``sys.path_importer_cache``: ``pyspark.zip`` (once per package
prefix), the py4j zip, the shipped engine zip and any jar on the path.
On a reused worker that measured 110–225 ms per task (CPython 3.11,
4 vCPU, 16–17 zip importers; the 5,359-entry spark-core jar alone is
~50 ms per read), which dwarfs a stateful fold that only counts rows.

:func:`install` replaces the method, once per process, by one that
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the key recorded at its last read, and otherwise points
the importer at the directory already in
``zipimport._zip_directory_cache``. A rewritten archive is still
re-read, so a module newly added to it becomes importable; a missing
archive goes through the stock method (empty ``_files``). CPython 3.13
made the stock method drop the cache entry and read lazily, so nothing
is installed there.

The engine package installs it on import (``__init__.py``). A worker
imports the engine as soon as it unpickles a module-level engine
function, which is why Python folds should be module-level (see
``streaming/stateful.py``).
"""

from __future__ import annotations

import os
import sys
import zipimport

# 3.13 replaced the re-read with a plain cache drop
_STOCK_REREADS = sys.version_info < (3, 13)

# archive path -> stat key at the time it was last read
_read_keys: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _stat_keyed(stock):
    def invalidate_caches(self):
        # stat BEFORE the read: a rewrite racing the read leaves an old
        # key behind, so the next call reads again rather than never
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_keys.get(self.archive) == key:
            self._files = files
            return
        stock(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_keys[self.archive] = key
        else:
            _read_keys.pop(self.archive, None)

    invalidate_caches.__wrapped__ = stock
    invalidate_caches.stat_keyed = True
    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process; a no-op
    when already patched or on CPython >= 3.13."""
    cls = zipimport.zipimporter
    if not _STOCK_REREADS or getattr(cls.invalidate_caches, "stat_keyed", False):
        return
    cls.invalidate_caches = _stat_keyed(cls.invalidate_caches)
