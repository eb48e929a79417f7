"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, on reused workers too (``pyspark.worker_util.setup_spark_files``),
so that files shipped with ``addPyFile`` become importable.  Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory on the spot, and a worker holds one
zipimporter per package it imported from ``pyspark.zip`` (13 of them) plus
the ones for py4j and the spark-core jar: every Python task re-read
``pyspark.zip`` 13 times and the 15 MB jar twice before doing any work.

CPython 3.13 made that invalidation lazy: it only drops the archive's
entry from ``zipimport._zip_directory_cache``, and the next lookup through
the importer re-reads the directory.  This module backports exactly that
onto older interpreters, then runs ``pyspark.daemon.manager()``; workers
are forked from the daemon, so they inherit the patch.  On 3.13 and later
it patches nothing.  The driver process never imports it.
"""

from __future__ import annotations

import sys
import zipimport


def _lazy_invalidate_caches(self) -> None:
    """Invalidate the cached file data of the archive (read again on the
    next lookup), as CPython 3.13 does."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def _get_files(self) -> dict:
    """The archive's file data, re-read on a cache miss.  An unreadable
    archive reads as empty and is not cached, as in CPython 3.13."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files: dict) -> None:
    """No-op: the only assignment left is in ``zipimporter.__init__``,
    before ``archive`` is set and right after the same dict was stored
    in the cache under that path."""


def install() -> bool:
    """Make ``zipimporter`` cache invalidation lazy on CPython < 3.13.
    Returns whether anything was patched."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    zipimport.zipimporter._files = property(_get_files, _set_files)
    return True


if __name__ == "__main__":
    # Patch through the importable module rather than this __main__ copy,
    # so that a worker can tell the patch apart by module name.
    from mysql_clickhouse_replication_spark._pydaemon import install as _install

    _install()

    from pyspark import daemon

    daemon.manager()
