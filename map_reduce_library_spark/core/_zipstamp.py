"""Stop reused Python workers re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``), so that zips added
by ``addPyFile`` since the last task become importable. On CPython
3.11, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
directory of its archive, once for each cached importer. A reused
worker holds 16 of them: ``pyspark.zip`` and 11 of its sub-package
paths, the spark-core jar twice and the py4j zip twice. That costs
0.10-0.39 s per task before any user code runs. CPython 3.12 made the
invalidation lazy, so only 3.11 is patched.

:func:`skip_unchanged_zip_rereads` replaces that method, once per
worker process, with one that re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from its last read in the
process. All importers of one archive share that read; a new or
changed archive still goes through the original method.

Functions of this module are pickled by value (see
``core/mapreduce.py``), so Python workers never import this package.
"""

import sys


def skip_unchanged_zip_rereads() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this Python worker.
    A no-op on the driver, on CPython other than 3.11 and after the
    first call in a worker process."""
    if sys.version_info[:2] != (3, 11):
        return
    import zipimport

    from pyspark import SparkFiles

    original = zipimport.zipimporter.invalidate_caches
    if not SparkFiles._is_running_on_worker or hasattr(original, "stamps"):
        return
    import os

    stamps: dict = {}  # archive -> its stat stamp at the last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stamped before the read: a change during it re-reads next time
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches.stamps = stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches
