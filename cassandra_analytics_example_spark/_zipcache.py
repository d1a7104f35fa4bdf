"""Lazy, per-archive ``zipimport`` invalidation on CPython < 3.13.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task and every data-source planner call
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12,
``zipimporter.invalidate_caches()`` re-reads the archive's whole central
directory at once, and does so once per importer instance. A Spark worker
holds one importer per zip entry of ``sys.path`` plus one per package
sub-path inside it: ``pyspark.zip`` 12-13 times (1,328 entries), the
spark-core jar twice (5,359 entries) and py4j twice. Measured on CPython 3.11.7, 4 cores:
~0.2 CPU-s per call, about 0.6 s of each cassandra stand-in leg of the
``bulk_etl`` benchmark; ~0.0001 CPU-s per call with this module.

CPython 3.13 made this lazy (``Lib/zipimport.py``):
``invalidate_caches()`` only drops the archive's entry from
``_zip_directory_cache``, and ``_get_files()`` re-reads the archive on its
next use, once, shared by every importer of that archive. This module gives
``zipimport.zipimporter`` that behaviour on older interpreters: ``_files``
becomes a class-level property over the shared cache, and
``invalidate_caches`` becomes the pop. An invalidation still forces a
re-read before the archive is next used, so a rewritten archive is seen.

Imported first by the package ``__init__``, so every process that runs
package code (the driver, and each Python worker that unpickles a stand-in
class, a ``mapInArrow`` closure or a UDF) carries it. Idempotent, and a
no-op on 3.13+.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    """The archive's directory, re-read on a cache miss (3.13 ``_get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files):
    # ``zipimporter.__init__`` assigns the entry it has just cached (and
    # before ``self.archive`` exists): the shared cache already holds it.
    pass


def invalidate_caches(self):
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Patch ``zipimport.zipimporter``; True when the lazy form is active."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if not isinstance(vars(cls).get("_files"), property):
        cls._files = property(_files, _set_files)
        cls.invalidate_caches = invalidate_caches
        # importers built before the patch keep a stale per-instance copy;
        # the property shadows it, so drop it to free the memory
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, cls):
                vars(imp).pop("_files", None)
    return True


install()
