"""PySpark's worker daemon, started with CPython 3.13's lazy zipimport
invalidation.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts every Python worker daemon as
``python -m mapreduce__spark.worker_daemon <worker module>``, and every
worker the daemon forks inherits the patch below.

Why: PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and a worker holds one ``zipimporter`` per package it imported
from ``pyspark.zip`` (12-16 of them, each re-reading its ~1,300 entries),
so every task of every Arrow UDF paid about 0.15 s before the UDF ran.
CPython 3.13 made the call O(1): it drops the archive from
``zipimport._zip_directory_cache``, and the next lookup re-reads it once.
``install`` backports that on Python < 3.13 and does nothing on 3.13+.

The daemon's contract is kept: nothing here writes to stdout (the JVM reads
the daemon's port from it), and ``sys.argv[1]`` (the worker module that data
source and streaming-state daemons are started with) reaches
``pyspark.daemon`` untouched.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    """The archive's directory, read on first use after an invalidation
    (CPython 3.13's ``zipimporter._get_files``)."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}  # archive gone: every lookup misses, as on 3.13
        return files


def _set_files(self, files):
    """Dropped: ``__init__`` assigns ``self._files`` right after caching the
    same dict, and the cache is the one copy."""


def _invalidate_caches(self):
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` O(1) on Python < 3.13.

    Before 3.13 ``zipimporter`` reads ``self._files`` directly, so ``_files``
    becomes a class-level property over the shared cache: a data descriptor
    wins over the instance dict, so importers made before the patch follow
    the cache too.
    """
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter._files = property(_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # Patch from the copy imported by name, so the patched methods report
    # this module rather than ``__main__``.
    from mapreduce__spark.worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
