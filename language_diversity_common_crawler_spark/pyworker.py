"""Per-task set-up cost of a reused Python worker: zip directory re-reads.

Before a Python task runs its first batch, the worker calls
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. That walks ``sys.path_importer_cache``
and calls ``invalidate_caches`` on every finder in it. On Python
3.10-3.12 ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory at once, whether the archive changed
or not. A worker imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
and holds one zipimporter per package path of it (16 in a worker that
has run a pandas UDF), so every task parsed that archive's 1,328-entry
directory 16 times.

Measured on a 4-core box with pyspark 4.1.2 on Python 3.11: inside a
warm, reused worker the call took 151-207 ms, all of it before the task's
first batch, whatever the task (a pandas UDF, ``mapInArrow``, a plain UDF
or ``rdd.map`` all run the same set-up). Short Python tasks, such as the
benchmark's per-segment extract ops, paid it in full. With
:func:`install` the call takes 0.1 ms, and the median text op fell from
0.83 s to 0.67 s (10 interleaved runs each).

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stamp taken at its last read. The stamp is kept per archive, not
per importer: the 16 importers of ``pyspark.zip`` share one directory
through ``zipimport._zip_directory_cache``, so after one read the other
15 reuse it. (A stamp per importer re-read each importer once after
installing, and left the first timed extract op as slow as before.) When
``stat`` fails, or the archive has changed, the original method runs and
behaves exactly as before, ``ZipImportError`` handling included; a
rewritten ``--py-files`` zip is therefore re-read as it always was.
Python 3.13 made the method lazy (it only drops the cached directory), so
nothing is installed there.

It is installed when the package is imported. Every Python UDF of the
package pickles by reference into one of its modules, so a worker imports
the package while it sets up its first task, and from then on that reused
worker pays one ``stat`` per archive per task. Spark's
``spark.python.daemon.module`` would also reach the workers, but the
daemon starts before ``--py-files`` are on ``sys.path``, so under
``spark-submit --py-files`` the workers could not start.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_STAMPS: dict[str, tuple[int, int]] = {}
_ORIGINAL = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _STAMPS.pop(archive, None)
        _ORIGINAL(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _STAMPS.get(archive) == stamp:
        self._files = files
        return
    # stamped before the read: a change during the read shows next time
    _ORIGINAL(self)
    if archive in zipimport._zip_directory_cache:
        _STAMPS[archive] = stamp
    else:
        _STAMPS.pop(archive, None)


def install() -> None:
    """Install :func:`_invalidate_caches` where the original re-reads
    eagerly (Python 3.10-3.12). Idempotent."""
    if sys.version_info < (3, 13) and _ORIGINAL is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
