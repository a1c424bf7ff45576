"""PySpark worker daemon whose workers read each zip archive's directory
once, not once per task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``). On CPython 3.11 that makes every
``zipimporter`` on the worker's path re-read its archive's central
directory: 16 importers over ``pyspark.zip``, the py4j zip and the
spark-core jar, most of a small Python-UDF task's wall.

Run as ``python -m omigo_data_analytics_spark.pydaemon`` (``get_spark`` sets
``spark.python.daemon.module`` to it), the module installs
``invalidate_caches`` below in place of ``zipimporter.invalidate_caches``,
reads each archive once, and hands over to PySpark's own daemon, whose
forked workers inherit the replacement. Importing the module changes
nothing. Where the CPython internals the replacement relies on are missing
(CPython 3.12+ re-reads lazily), nothing is installed and PySpark's daemon
runs as it is.
"""

import importlib
import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_size, st_mtime_ns) when this process last read it
_stamps: dict = {}


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _original(self)
    # stat before the read: a write racing the read leaves an old stamp,
    # so the next call reads again
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    _stamps[self.archive] = stamp


def install() -> bool:
    """Put ``invalidate_caches`` on ``zipimporter``; False, with nothing
    replaced, unless the directory cache exists and the original re-reads
    eagerly into ``self._files`` from ``self.archive``."""
    names = getattr(getattr(_original, "__code__", None), "co_names", ())
    if not (hasattr(zipimport, "_zip_directory_cache")
            and {"archive", "_files"} <= set(names)):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    if install():
        importlib.invalidate_caches()   # read once here; the workers inherit it
    from pyspark.daemon import manager
    manager()
