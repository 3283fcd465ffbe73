"""Lazy ``zipimporter`` cache invalidation (the Python 3.13 semantics).

PySpark runs ``importlib.invalidate_caches()`` at the start of every Python
worker command (``worker_util.setup_spark_files``). Before 3.13, each cached
``zipimporter`` answers that by re-reading its archive's whole central
directory at once, and a worker holds one importer per package directory of
``pyspark.zip``: about 28,000 entries read 17 times. On a 4-vCPU box with
Python 3.11 that took 120-240 ms per command, paid again by every planner
call and every task of a reused worker.

From 3.13 on, ``invalidate_caches`` only drops the archive's cached table and
the next lookup re-reads it. :func:`install` backports that to the running
interpreter when its ``zipimport`` still re-reads eagerly.
"""

from __future__ import annotations

import sys
import zipimport


class LazyZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose file table lives only in the shared per-archive
    cache, read on first use after an invalidation (3.13's ``_get_files``)."""

    @property
    def _files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    @_files.setter
    def _files(self, files):
        # zipimporter.__init__ stores the table it just put in the cache
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)


def _eager(importer_cls) -> bool:
    code = getattr(importer_cls.invalidate_caches, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def install() -> bool:
    """Switch this process's zip imports to lazy invalidation. Returns False,
    changing nothing, when the running ``zipimport`` is already lazy."""
    base = zipimport.zipimporter
    if not _eager(base):
        return False
    sys.path_hooks[:] = [LazyZipImporter if h is base else h for h in sys.path_hooks]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is base:
            finder.__class__ = LazyZipImporter
            # from now on its table lives only in the shared cache
            finder.__dict__.pop("_files", None)
    return True
