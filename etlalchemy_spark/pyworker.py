"""Spark's Python daemon for the engine: ``pyspark.daemon`` without the
per-task re-read of every zip archive on the worker path.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts the daemon once per executor and the daemon forks every
Python worker, so every Python task of the engine runs under it: pandas
UDFs, ``mapInPandas``, ``applyInPandas`` and the streaming operators.

At the start of every task PySpark calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, once per cached importer, and Spark puts
``pyspark.zip``, the py4j zip and the Spark core jar at the front of each
worker's ``sys.path``. A warm worker holds 16 such importers; on a 4-CPU
VM (CPython 3.11.7, Spark 4.1.2) they cost 74-78 ms of CPU in every task,
before the task read any data.

Before the daemon forks its first worker, :func:`install` replaces that
method with one that re-reads an archive only when its ``os.stat`` stamp
(mtime, size, inode) differs from the one recorded when it was last read.
A changed or new archive, such as one from ``SparkContext.addPyFile``, is
still read. CPython 3.12 stopped re-reading in ``invalidate_caches`` itself
(gh-103200: the read moves to the archive's next lookup), so there the
method is left alone. The daemon loop is ``pyspark.daemon.manager``,
unchanged.

The worker's Python must be able to import ``etlalchemy_spark``, which
it already needs to unpickle the engine's UDFs.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since it was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer may have re-read it since
        return
    # stamped before the read: a write racing the read shows up as a
    # changed stamp next time, never as a stale directory
    _stdlib_invalidate_caches(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> None:
    """Stamp the archives already read and make ``invalidate_caches``
    re-read only changed ones (CPython < 3.12)."""
    if sys.version_info >= (3, 12):
        return
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
