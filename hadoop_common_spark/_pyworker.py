"""Python worker daemon that does not re-read zip directories per task.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
Python 3.13, ``zipimporter.invalidate_caches`` eagerly re-reads the
archive's central directory, once per cached importer — and a worker
holds one importer per package directory of every zip on its path
(pyspark.zip, the py4j zip, the spark-core jar, the shipped package
zip): 160-230 ms per task at 4 cores before the task's function starts.
Python 3.13 made that re-read lazy.

Run as ``spark.python.daemon.module`` (``session.get_spark`` does this on
the local master it picks): it replaces ``zipimporter.invalidate_caches``
with one that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` changed since the last read, then runs the stock
``pyspark.daemon`` manager. Forked workers inherit the patch. An archive
rewritten in place (new mtime or size) is still re-read, so the import
semantics of the stock method hold. On Python 3.13 and later the module
only runs the stock manager."""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its directory
# was last read; stat-before-read means a rewrite racing the read leaves
# an older stamp, so the next call re-reads rather than missing it
_stamps: dict[str, tuple[int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed on disk."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        # another importer over the same archive may have re-read it
        self._files = cached
        return
    _stock_invalidate(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` (Python < 3.13) and stamp every zip importer
    already cached, so workers forked after this skip the first re-read."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    # install from the imported module, not from __main__, so the patched
    # method names hadoop_common_spark._pyworker as its module
    from hadoop_common_spark._pyworker import install as _install

    _install()
    import pyspark.daemon

    pyspark.daemon.manager()
