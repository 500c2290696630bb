"""PySpark worker daemon whose per-task import-cache reset skips unchanged zips.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that makes
each ``zipimporter`` re-read its archive's whole central directory. Run as
``spark.python.daemon.module``, this module re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read, then starts the
stock daemon; forked workers inherit the patch.  A zip archive does not change
under a running worker, a new ``--py-files`` archive is a new path entry with
its own importer, and directory finders are invalidated as before, so import
semantics stay the same.

Before it forks, the daemon also imports the modules the engine's Arrow and
pandas stages import in a worker (``PRELOAD``) and freezes its heap
(``gc.collect(); gc.freeze()``).  The stock daemon runs a full
``gc.collect()`` in each reused worker after every task; with the Arrow stack
imported after the fork that walk covers ~73k objects and takes ~37 ms
(median, 4-vCPU host), with the stack frozen in the daemon it covers the ~700
the task's worker still tracks and takes ~0.25 ms.  Only objects that exist
before the fork, and live as long as the worker, are frozen: every object a
task allocates is still tracked and collected after it.  Importing this
module imports and freezes nothing.
"""

import os
import zipimport

#: modules a worker imports for the engine's mapInArrow and mapInPandas stages
#: that ``pyspark.worker`` does not already import into the daemon; the
#: ``pyarrow`` import starts jemalloc's background thread, which jemalloc's
#: own fork handlers leave stopped and consistent in the child
PRELOAD = ("pyarrow", "pyarrow.compute", "pandas")

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key, directory read under that key); process-wide,
# like zipimport._zip_directory_cache, so every importer of an archive shares it
_read: dict = {}


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed since the last read."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    hit = _read.get(self.archive)
    if key is not None and hit is not None and hit[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
        return
    _read.pop(self.archive, None)
    _stock_invalidate(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read[self.archive] = (key, self._files)


def install() -> None:
    """Patch ``zipimporter`` process-wide; the daemon does this before forking."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import gc
    import importlib

    from pyspark import daemon

    # patch from the importable module, not this __main__ copy, so the
    # workers' zipimporter.invalidate_caches names ocrd_odem_spark.worker_daemon
    from ocrd_odem_spark.worker_daemon import PRELOAD, install as _install

    _install()
    importlib.invalidate_caches()  # read each archive once, before the forks
    for _name in PRELOAD:
        importlib.import_module(_name)
    # forked workers inherit a frozen heap, so the daemon's gc.collect()
    # after each task walks only what the worker allocated since the fork
    gc.collect()
    gc.freeze()
    daemon.manager()
