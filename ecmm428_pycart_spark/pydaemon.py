"""Python worker daemon for ``get_spark`` sessions: ``pyspark.daemon`` with
a zip-import cache that is invalidated only when an archive changes.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. On Python 3.11 that call makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory (the 3.13 stdlib only drops the cache). A
Spark worker holds about fifteen importers over ``pyspark.zip`` (one per
imported subpackage, ~11 ms each) and two over the spark-core jar that
Spark puts on the workers' ``PYTHONPATH`` (~50 ms each), so each task of
every pandas-UDF stage paid ~250 ms before its body ran, even in a reused
worker.

Here ``zipimporter.invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken before
the last read of that archive, or when ``os.stat`` fails (which keeps the
stdlib behaviour for a deleted archive). What the call is for still
holds: an archive added with ``SparkContext.addPyFile`` is a new path and
gets a new importer, and an archive rewritten in place has a new stat and
is re-read. Importers over one archive share its directory, as
``zipimporter.__init__`` already does through ``_zip_directory_cache``.

Spark starts this module with ``python -m`` (``spark.python.daemon.module``),
so the patch lives only in the daemon and the workers it forks. Rejected:
patching at package import, which would change the stdlib in the user's
driver process too; reordering the workers' ``sys.path``, which would
change which pyspark they run and still scan the jar; Spark settings,
since worker reuse is already on (one worker pid ran every stage).
"""

import importlib
import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive path -> stat stamp taken before its last read


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        return _stdlib_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    # stamp only a directory the stdlib read (3.13+ reads lazily)
    if self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    from pyspark.daemon import manager
    manager()
