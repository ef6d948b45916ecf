"""Lazy zipimport cache invalidation for Python workers on CPython < 3.12.

Every PySpark task calls ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``).  Before 3.12,
``zipimporter.invalidate_caches`` re-reads the archive's central directory
at once, for every importer; a worker holds one importer per package
directory imported from ``pyspark.zip`` (1,328 entries), so each task parsed
that directory about 16 times: ~0.3 s per task, whatever the task computes
(local[4] on a 4-core host, CPython 3.11.7).  3.12 made it lazy:
invalidation drops the cached directory and the next lookup re-reads it
once.  This module backports that.  ``_files`` becomes a class-level data
descriptor, so it also covers importers created before the patch (those a
forked worker inherits from its daemon); its setter is a no-op because
``__init__`` has filled the shared cache already.  A reused worker keeps
the patch for all its later tasks.
"""

import sys
import zipimport

if sys.version_info < (3, 12):

    def _files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}  # archive gone: import nothing from it, as 3.11
            return files

    def _invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport.zipimporter._files = property(_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
