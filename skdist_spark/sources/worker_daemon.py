"""Python worker daemon for sessions built by ``get_session``.

Spark starts it with ``python -m skdist_spark.sources.worker_daemon``
(``spark.python.daemon.module``) in place of ``pyspark.daemon``; it
forks the Python workers that run every RDD function, pandas UDF and
``mapInPandas`` task, and forked workers inherit the change below.

Before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11,
``zipimporter.invalidate_caches`` re-reads its archive's central
directory at once, and a worker holds 16 zipimporters (12 on
pyspark.zip, one per sub-package, 2 on the spark-core jar, 2 on py4j):
26,672 zip entries parsed per task, 0.21 s on a 4-core x86-64 host
before any user code runs.

This daemon makes that invalidation lazy, as later CPython releases do
(``zipimporter._get_files``): ``invalidate_caches`` drops the archive
from ``zipimport._zip_directory_cache``, and the next lookup in that
archive re-reads it, once for all the importers that share it. A
changed archive is still re-read on the next lookup, so import
semantics are unchanged. Where the private names are absent or the
lazy design is already in place, the stock daemon runs as is.
"""

from __future__ import annotations

import sys
import zipimport


class _DirectoryCache(dict):
    """``zipimport._zip_directory_cache`` that re-reads a dropped archive.

    Re-reading on a miss, rather than in ``_files`` alone, also serves
    code that indexes the cache directly, such as
    ``pkgutil.iter_modules`` over a zip path.
    """

    def __missing__(self, archive):
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _lazy_files(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except zipimport.ZipImportError:
        return {}


def _ignore_files(self, files):
    # The one writer left is zipimporter.__init__, which assigns _files
    # before it sets archive and has already put the same dict in
    # _zip_directory_cache under that archive path.
    pass


def _lazy_invalidate_caches(self):
    """Drop the archive's cached directory; it is re-read on next use."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zip_invalidation() -> None:
    """Patch ``zipimport`` where this interpreter re-reads eagerly."""
    cls = zipimport.zipimporter
    if (
        type(getattr(zipimport, "_zip_directory_cache", None)) is not dict
        or not hasattr(zipimport, "_read_directory")
        or hasattr(cls, "_get_files")
    ):
        return
    zipimport._zip_directory_cache = _DirectoryCache(zipimport._zip_directory_cache)
    cls._files = property(_lazy_files, _ignore_files)
    cls.invalidate_caches = _lazy_invalidate_caches
    # importers made before the patch hold their own _files reference,
    # which would pin a stale copy of the directory after invalidation
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            vars(finder).pop("_files", None)


if __name__ == "__main__":
    from pyspark import daemon

    install_lazy_zip_invalidation()
    daemon.manager()
