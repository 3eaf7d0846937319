"""Python worker daemon for sessions built by `session.get_spark`.

Runs `pyspark.daemon.manager()` after one change to the import system:
a zipimporter re-reads its archive's directory on `invalidate_caches()`
only when the archive's (st_mtime_ns, st_size) differ from those of its
last read. Spark's worker calls `importlib.invalidate_caches()` before
every task, and on CPython < 3.13 each zipimporter on the worker's path
(pyspark.zip, the py4j zip and the spark-core jar, one importer per
imported package directory) eagerly re-parses its whole archive
directory there: about 27k entries, 0.25 s of CPU, per task. CPython
3.13 re-reads lazily, so nothing is installed there.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install():
    """Skip directory re-reads of unchanged archives (CPython < 3.13)."""
    if sys.version_info >= (3, 13):
        return
    read, invalidate = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    # archive -> stamp taken before its directory was last read; archives
    # this process already holds were read moments ago, at start-up
    stamps = {a: _stamp(a) for a in zipimport._zip_directory_cache}

    def read_directory(archive):
        stamp = _stamp(archive)
        files = read(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        # the importer holds its archive's latest read and that read is current
        current = zipimport._zip_directory_cache.get(self.archive)
        if self._files is not current or stamps.get(self.archive) != _stamp(self.archive):
            invalidate(self)

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
