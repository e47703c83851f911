"""OCR document extraction on Spark.

Importing the package makes ``importlib.invalidate_caches()`` lazy for zip
archives.  pyspark's worker calls it at the start of every task
(``pyspark/worker_util.py``, ``setup_spark_files``), and on CPython < 3.13
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
zip directory on the spot, once per importer in ``sys.path_importer_cache``.
A warm worker holds 16 of them (12 on pyspark.zip, 2 on the Spark core jar,
2 on py4j; under ``spark-submit --py-files`` also one per package directory
imported from the shipped zip), which cost about 0.19 s per task before the
first batch was read.

Here an archive is re-read only when its ``(st_mtime_ns, st_size)`` differs
from the last time it was read (a rewrite that keeps both goes unseen);
otherwise the importer takes the directory read then.  Every worker that
unpickles a function of this package imports the package, so the rule
covers every Python stage the program runs.  The task that first imports
the package in a fresh worker still pays the stock cost, and the next one
reads each archive once.  CPython 3.13 made the stock method lazy, so
nothing is installed there.
"""

import os
import sys
import zipimport


def _install_lazy_zip_invalidation() -> None:
    stock_read = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    last_read = {}  # archive -> (stamp taken before the read, directory)

    def stamp(archive):
        st = os.stat(archive)
        return st.st_mtime_ns, st.st_size

    def read_directory(archive):
        try:
            before = stamp(archive)
        except OSError:
            before = None
        files = stock_read(archive)
        last_read[archive] = (before, files)
        return files

    def invalidate_caches(self):
        try:
            now = stamp(self.archive)
        except OSError:
            return stock_invalidate(self)
        before, files = last_read.get(self.archive, (None, None))
        if before != now:
            return stock_invalidate(self)
        self._files = zipimport._zip_directory_cache[self.archive] = files

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install_lazy_zip_invalidation()
