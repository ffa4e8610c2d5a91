"""Spark's Python daemon, with zip archives re-read only when they change.

Every Python task calls ``importlib.invalidate_caches()`` while it sets
up its files, and on CPython < 3.13 each ``zipimporter`` on
``sys.path`` then re-reads its archive's whole directory: pyspark.zip,
the py4j zip and the Spark core jar, about 200 ms per task. Run as
``spark.python.daemon.module``, this module swaps in an invalidation
that re-reads an archive only when its (mtime, size) stamp moved, warms
the stamps once, and hands over to ``pyspark.daemon``, whose forked
workers inherit both. CPython ≥ 3.13 already invalidates lazily, so
there it only hands over.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
# archive path -> stamp at its last read; process-wide, like the
# directory cache zipimport keeps per archive path
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since the last read by any importer of it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _read_archive(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    # patch with the function of the module under its package name, so
    # workers can see which daemon forked them
    from strat_backtest_spark._daemon import invalidate_if_changed

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
