"""Python worker daemon for the sessions :func:`~.session.get_spark` builds.

Run by Spark as ``python -m zcollection_spark._pydaemon <worker module>``
(``spark.python.daemon.module``); it serves ``pyspark.daemon.manager()``
unchanged.  Before each task PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython < 3.13 every
``zipimporter`` then re-parses its whole archive directory: a worker
holds about 16 importers over ``pyspark.zip`` (1,328 entries), which is
150-200 ms of CPU per task.  The daemon makes ``invalidate_caches``
re-read an archive only when its ``(st_mtime_ns, st_size)`` changed
since the last read; forked workers inherit that.  A changed or missing
archive goes through the stock method.  Importing this module patches
nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    stock = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}  # archive -> stat at last read

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None \
                and read_at.get(self.archive) == key:
            self._files = files
            return
        stock(self)
        # the stat was taken before the read: a change racing the read
        # shows as a changed key next time, never as a missed one.  A
        # failed read drops the cache entry, so the next call reads too.
        if key is not None:
            read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13's method only drops the cache
        import importlib
        patch_zipimport()
        importlib.invalidate_caches()  # one read per archive, pre-fork
    from pyspark import daemon
    daemon.manager()
