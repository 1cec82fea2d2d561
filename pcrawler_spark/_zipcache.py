"""Re-read a zip archive's import directory only when the archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``).  On Python 3.11
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads its archive's
central directory, and a warm worker holds ~17 zipimporters: pyspark.zip,
py4j, the package zip and the ``spark-core`` jar that Spark puts on the
worker's path.  Together that is ~0.2 core-s per task before the UDF starts.
CPython 3.12 made the invalidation lazy (gh-103200); this wrapper goes one
step further and skips it while the archive is unchanged.

The skip is keyed on the archive's ``(st_mtime_ns, st_size, st_ino)``.  Any
rewrite in place moves the mtime or the size, and a rebuild swapped in with
``os.replace`` (as ``session._package_zip`` does) brings a new inode, so a
changed archive is still re-read on the next invalidation.  The key is taken
*before* the original method reads the directory, so a change racing the
read shows up as a mismatch next time; when ``stat`` fails the original
method always runs.  An importer the wrapper has not keyed yet is re-read
once to learn its key: a key taken later cannot prove that the directory it
holds is current.  Installing re-keys the importers that already exist, so
in a Spark worker every task after the one that imports this package skips
the re-reads.
"""

import functools
import os
import sys
import zipimport


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _install():
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_keyed", False):  # re-import or reload
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is None or key != getattr(self, "_archive_stat", None):
            original(self)
            self._archive_stat = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_install()
