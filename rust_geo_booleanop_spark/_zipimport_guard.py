"""Stop `importlib.invalidate_caches()` from re-parsing unchanged zip archives.

Spark's Python worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py`, `setup_spark_files`). On CPython 3.11
and 3.12, `zipimport.zipimporter.invalidate_caches` re-reads the archive's
whole central directory at once, and a reused worker holds one zipimporter
per imported subpackage of pyspark.zip, the py4j zip and the spark-core jar:
about 0.3 s of CPU per task before it reads a row. The guard re-reads an
archive only when its (mtime_ns, size, inode) changed since its last read; if
the archive cannot be stat'ed, the original method runs. CPython 3.13 only
drops the cache there, so the guard is not installed.
"""

import os
import sys
import zipimport


def _stat_key(path):
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install():
    invalidate = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(invalidate, "guarded", False):
        return
    read_directory = zipimport._read_directory
    read_keys = {}  # archive -> stat key taken just before its last read

    def _read_directory(archive):
        try:
            key = _stat_key(archive)
        except OSError:
            key = None
        files = read_directory(archive)
        read_keys[archive] = key
        return files

    def invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        try:
            unchanged = read_keys.get(self.archive) == _stat_key(self.archive)
        except OSError:
            unchanged = False
        if unchanged and cached is not None:
            self._files = cached
        else:
            invalidate(self)  # re-reads through _read_directory above

    invalidate_caches.guarded = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
