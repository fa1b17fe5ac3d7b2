"""Spark's Python daemon, with zip archives re-read only when they change.

``session_defaults()`` names this module as ``spark.python.daemon.module``;
every Python worker is forked from it. Before each task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.12 that makes every
``zipimporter`` re-read its archive's directory at once: about 16 re-reads
of ``pyspark.zip`` (1,328 entries, ~10 ms each) per task. CPython 3.12+
re-reads lazily, so there the module only runs pyspark's daemon.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
differ from this process's last read of it, or when the shared directory
cache has no entry for it; otherwise the importer re-points at the cached
directory. The module prints nothing: the daemon reports its port on stdout.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) as stat'ed before its last read
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        return _reread(self)
    key = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = key


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` on CPython < 3.12, then read
    each imported archive once, so forked workers start from a recorded read."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
