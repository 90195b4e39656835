"""PySpark worker daemon with the engine's heavy modules pre-imported.

Measured problem (r14 optimization round, guide §4.5 — heavyweight init
once): a forked Python worker pays ~0.7 s importing numpy + pandas +
pyarrow + the engine kernel modules the first time a UDF lands on it.
Worker demand is bursty — a query with two chained ArrowEvalPython
frontiers needs 2 workers per core at once, growing the pool past the
warm set — so mid-bench queries keep landing on cold workers: measured
same-session A/B, st_buffer_round 1.9-2.4 s warm vs 3.2-6.9 s right
after the pool grew (and the r13 driver-bench "bimodality" of exactly
that query). Pre-importing in the DAEMON (before the fork loop) gives
every forked worker the full stack through copy-on-write pages: the
fork itself stays ~1 ms and no worker ever pays the import again.

Per-task cost. A reused worker ran ~0.2 s of Python CPU per task
outside the UDF (identity pandas_udf, 4 cores), from two causes:
- PySpark calls `importlib.invalidate_caches()` at the start of every
  task (`pyspark.worker_util.setup_spark_files`). On CPython 3.10-3.12,
  `zipimporter.invalidate_caches` re-reads the archive's central
  directory at once, and a worker holds one zipimporter per package
  directory it imported from `pyspark.zip`: 16 reads of the 1328-entry
  archive per task. Before the fork, the daemon replaces that method
  with one that re-reads an archive only when its (mtime, size) stamp
  changed, and stamps the importers that exist after the imports below
  (a stat each, no read). CPython 3.13 re-reads lazily by itself, so the
  method is replaced only before 3.13.
- After every task the worker runs `gc.collect()` (`pyspark.daemon`),
  which walked the whole pre-imported heap: ~40 ms. `gc.freeze()` right
  before the fork loop moves that heap out of the collector's reach; it
  is never garbage, as the daemon holds it for its life.
Measured per task with `scripts/worker_task_cpu.py`: ~220 ms, 42 ms with
the stamped importers, 3.5 ms with the freeze as well.

Wired via `spark.python.daemon.module` (session.get_spark). Imports are
best-effort: any failure falls back to a plain pyspark.daemon — the
daemon must never die at import time, workers import lazily as before.
"""

import gc
import os
import sys
import zipimport

try:  # engine + numeric stack: best-effort, COW-shared after fork
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401  (worker hot path)

    from .functions import geomb, lanes, lanes_ops, spatial  # noqa: F401
    from .functions import chainrw, grid, spatial_ext, text  # noqa: F401
    from .kernel import geom, geomtypes, packed, transform  # noqa: F401
except Exception:  # pragma: no cover - missing optional dep on a worker host
    pass

from pyspark.daemon import manager

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def invalidate_caches_if_changed(self):
    """zipimporter.invalidate_caches that re-reads only a changed archive."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None  # gone or unreadable: let the original method decide
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


def reread_changed_zips_only():
    """Install invalidate_caches_if_changed and stamp the existing
    zipimporters; a no-op from CPython 3.13, which re-reads lazily."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._archive_stamp = _stamp(finder.archive)
            except OSError:
                pass


if __name__ == "__main__":
    reread_changed_zips_only()
    gc.freeze()
    manager()
