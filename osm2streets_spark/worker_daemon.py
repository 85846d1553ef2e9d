"""Python worker daemon: `pyspark.daemon` with a stat-guarded zipimport.

`session.get_spark` names this module in `spark.python.daemon.module`,
so Spark starts it (`python -m osm2streets_spark.worker_daemon`) in place
of `pyspark.daemon` and every forked Python worker inherits the guard.

PySpark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()` at the start of every task, and on
Python 3.11/3.12 that makes every `zipimporter` in
`sys.path_importer_cache` re-read its archive's central directory. The
worker path holds ~16 of them over pyspark.zip (1,328 files), the py4j
zip and the spark-core jar (5,359 files): measured at ~150-190 ms of
CPU per task on a 4-core x86 box, more than most of our kernels spend
on a batch. Python 3.13 drops the directory instead and re-reads it on
the next lookup, which any new import triggers because pyspark.zip
precedes site-packages on the worker path, so the guard is installed on
every version.

The guard re-reads an archive only when its (st_mtime_ns, st_size)
changed since that importer last read it. Semantics are unchanged:
files added with `addPyFile` are new paths with new importers, and a
rewritten archive is still re-read.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches` that skips the re-read while the
    archive's stamp is the one this importer last read. The stamp is
    taken before the read, so a change during the read is caught by the
    next call; an archive that cannot be stat'ed always takes the stock
    path."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _stock_invalidate_caches(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
