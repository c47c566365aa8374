"""Python worker daemon whose zip directory cache survives
``importlib.invalidate_caches``.

Spark starts this module as its Python daemon
(``spark.python.daemon.module``, set by ``session.get_spark``) and
forks every Python worker from it, so each ``applyInPandas``,
``mapInPandas``, ``pandas_udf`` and ``applyInPandasWithState`` task
runs with the change below.

Every task begins with ``pyspark.worker_util.setup_spark_files``,
which puts the task's files on ``sys.path`` and then calls
``importlib.invalidate_caches()`` so that they become importable. On
CPython 3.11 that call makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its whole archive directory.
Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(1328 entries), which leaves one importer per package directory
inside it: 12 on that archive, plus 2 on the spark-core jar (5359
entries) and 2 on py4j's zip. Each task re-parsed those directories
16 times, about 215 ms of CPU per task and half the Python-worker
CPU of a backtest pass.

Importing this module replaces ``zipimporter.invalidate_caches`` with
one that re-reads an archive only when its ``os.stat`` (mtime, ctime,
size, inode) differs from the stat taken just before the archive was
last read; otherwise the importer takes the already-parsed directory.
The result is the same as before:

- a file newly put on ``sys.path`` (``addPyFile``, ``--py-files``) has
  no importer yet, so it gets a fresh one that reads it;
- an archive rewritten or replaced changes its stat, so it is re-read;
- an archive that can no longer be opened is dropped, as before.

What it does not see is a rewrite that keeps the size, both
timestamps and the inode, the limit of any stat-based cache check.

Run as the daemon, it also imports numpy, pandas, pyarrow and
pyspark's Arrow serializers before it forks, so every worker inherits
them instead of importing them itself, and then moves everything it
holds into the permanent GC generation (``gc.freeze()``). A reused
worker runs ``gc.collect()`` after every task; over a heap holding
pandas and pyarrow (about 73 000 objects) that took about 24 ms a
call, and frozen objects are never traversed again.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> its stat just before its directory was last read
_read_stat: dict[str, tuple[int, int, int, int]] = {}


def _stat(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since its last read."""
    key = _stat(self.archive)
    files = None
    if key is not None and _read_stat.get(self.archive) == key:
        files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None:
        self._files = files
        return
    _reread(self)
    if key is None:
        _read_stat.pop(self.archive, None)
    else:
        _read_stat[self.archive] = key


zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import numpy  # noqa: F401 — imported once here, inherited by every fork
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark.daemon import manager

    # read each archive imported from so far once, so that every one
    # has a stat to compare with before the first forked task runs
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()
    gc.collect()
    gc.freeze()
    manager()
