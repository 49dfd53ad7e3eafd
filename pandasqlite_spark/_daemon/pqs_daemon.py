"""Spark's Python worker daemon, minus the per-task re-read of unchanged zips.

Every PySpark task starts with ``setup_spark_files``, which calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes each
``zipimporter`` re-read its archive's directory, so every task re-reads
``pyspark.zip`` (1,328 entries) once per zipimporter that covers it (one
per imported package directory: a dozen or more).  Before forking any
worker, this daemon replaces ``zipimporter.invalidate_caches`` with one
that re-reads an archive only when its ``(st_size, st_mtime_ns,
st_ino)`` differs from the stamp taken at the last read, and otherwise
reuses the directory already in ``zipimport._zip_directory_cache``.
Workers inherit the patch through ``fork``; plain ``FileFinder``s are
invalidated as before.  A zip that is added or rewritten mid-session
has a new stamp, so it is re-read.

If ``zipimport`` lacks the two internals the patch relies on, nothing is
installed and this is the stock ``pyspark.daemon``.

This file sits alone in its directory so that putting the directory on
the workers' ``PYTHONPATH`` exposes nothing else: the daemon imports
neither the engine nor its dependencies.  Spark starts it as
``python -m pqs_daemon <worker module>``.
"""

import importlib
import os
import zipimport

_STAMPS = {}  # archive path -> stamp taken just before its last read


def _stamp(path):
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def install():
    """Patch ``zipimporter.invalidate_caches``; True when installed."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if not isinstance(cache, dict) or not hasattr(zipimport, "_read_directory"):
        return False
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            stamp = None
        if stamp is not None and _STAMPS.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        stock(self)
        # stamped before the read: a write racing the read leaves a stale
        # stamp, which only costs one more read next time
        _STAMPS[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    from pyspark import daemon  # reads the worker module from sys.argv[1]

    importlib.invalidate_caches()  # stamp every archive once, before the fork
    daemon.manager()
