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

Per-session cost. `spark.stop()` ends the daemon, so every session
starts a new one, and Spark puts `$SPARK_HOME/python/lib/pyspark.zip`
and the py4j source zip first on its `sys.path`. The zips hold no
bytecode and zipimport never caches any, so each daemon start compiled
the ~94 pyspark modules it imports: `import pyspark.daemon` took ~1 s
from the zip against ~0.15 s from the interpreter's installed,
bytecode-cached copy. Before the imports below, `prefer_installed_copy`
moves each package's zips behind the other `sys.path` entries, but only
when the installed copy is the same release: its `<pkg>/version.py` is
byte-identical to every zip's. With no installed copy, another release,
or a zip without `version.py`, `sys.path` stays as Spark built it, and
the stamped importers above keep the zip's per-task cost low. Once the
installed directory is `pyspark.__path__`, what only the zip holds is
out of the daemon's reach: for Spark 4.1.2 that is pyspark's 819 test
modules and `pyspark/sql/streaming/benchmark`, which no worker imports;
the 347 modules both copies hold, and py4j's 9, are byte-identical.
Measured with `scripts/daemon_start.py` (4 cores): the engine daemon is
ready in ~0.9 s instead of ~1.7 s. The stop itself now takes ~20 ms,
almost all of it the JVM's: it took ~0.9 s until `session.get_spark`
made it wake PySpark's accumulator-update server instead of waiting out
that server's 1 s poll. So a session turnover is mostly this daemon's
start and the workers' first round trip (`scripts/session_cycle.py`).

Wired via `spark.python.daemon.module` (session.get_spark). Imports are
best-effort: any failure falls back to a plain pyspark.daemon — the
daemon must never die at import time, workers import lazily as before.
"""

import gc
import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _zip_member(entry, name):
    """Bytes of `name` inside the `sys.path` entry, or None when the entry
    is not a zip archive or lacks it."""
    try:
        return zipimport.zipimporter(entry).get_data(name)
    except (zipimport.ZipImportError, OSError):
        return None


def prefer_installed_copy():
    """Move the pyspark and py4j zips to the end of `sys.path` when the
    interpreter's installed copy is the same release; else change nothing."""
    for pkg in ("pyspark", "py4j"):
        if pkg in sys.modules:
            continue
        zipped = {p: data for p in sys.path
                  if (data := _zip_member(p, pkg + "/version.py")) is not None}
        if not zipped:
            continue
        rest = [p for p in sys.path if p not in zipped]
        spec = PathFinder.find_spec(pkg, rest)
        if spec is None or spec.origin is None:
            continue
        try:
            with open(os.path.join(os.path.dirname(spec.origin),
                                   "version.py"), "rb") as f:
                installed = f.read()
        except OSError:
            continue
        if all(data == installed for data in zipped.values()):
            sys.path[:] = rest + list(zipped)


prefer_installed_copy()

try:  # engine + numeric stack: best-effort, COW-shared after fork
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401  (worker hot path)

    from .functions import geomb, lanes, lanes_ops, spatial  # noqa: F401
    from .functions import chainrw, grid, spatial_ext, table, text  # noqa: F401
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
