"""Stat-guarded zip directory reloads in PySpark Python workers.

Before every task, pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython before 3.12 that makes each
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory at once (3.12 made the reload lazy). A worker holds one importer
per zip path it imported from: ``pyspark.zip`` and its subpackages, py4j,
the spark-core jar and any ``--py-files`` archive. So every task re-parses
thousands of directory entries of archives that have not changed.

``install()`` runs on ``import sketchlib``. In a PySpark worker on CPython
< 3.12 it makes ``zipimporter.invalidate_caches`` re-read an archive only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from when that
importer last read it; when ``stat`` fails, the stdlib reload runs. New
``sys.path`` entries still get new importers, and a replaced or rewritten
archive is still re-read. Anywhere else (the driver, CPython >= 3.12) it
changes nothing.
"""

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an archive unchanged
    since this importer last read it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_read_stat", None)
        _stdlib_invalidate(self)
        return
    # stat before the read: a change that lands during the read leaves
    # the older stat recorded, so the next call reads again
    stat = (st.st_mtime_ns, st.st_size, st.st_ino)
    if self.__dict__.get("_read_stat") != stat:
        _stdlib_invalidate(self)
        self._read_stat = stat


def install() -> None:
    """Guard the reload in a PySpark worker (the daemon imports
    ``pyspark.worker`` before it forks one) on CPython < 3.12."""
    if sys.version_info < (3, 12) and "pyspark.worker" in sys.modules:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
