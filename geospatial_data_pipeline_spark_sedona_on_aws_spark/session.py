"""SparkSession factory.

Mirrors the reference's session setup (reference spark_job/process_geodata.py:13-24
builds a SparkSession + SedonaContext; our engine needs no JVM extension — the
spatial functions are registered as Arrow pandas UDFs, see functions/spatial.py).

Scale posture: AQE on (runtime coalesce + skew-join splitting), Arrow enabled for
the pandas-UDF spatial kernel, shuffle partitions sized to local cores but meant
to be overridden (spark.sql.shuffle.partitions) on a real cluster.
"""

from __future__ import annotations

import contextlib
import os
import socket

from pyspark import SparkContext, accumulators
from pyspark.sql import SparkSession

#: Spark's cache of compiled whole-stage-codegen classes
#: (`spark.sql.codegen.cache.maxEntries`, default 100; a static conf, so it
#: takes effect only in the session that launches the JVM). A class that
#: misses it is compiled again by Janino and then by the JIT. Sized from
#: `scripts/codegen_census.py` at sf0.01, not from a host: one pass
#: compiles 119 classes for the 10 spatial_mix queries, 670 for bench.py's
#: 50 headline queries and 2031 for the whole registry. At 100, a session
#: cycling through spatial_mix recompiled 83-89 of its 119 classes on
#: every pass. 2048 is about twice the largest set a driver cycles
#: through (the headline pass, which bench.py repeats four times); the
#: registry runs once per check. Cost: the kept classes' Metaspace and
#: code heap (SCALING.md, "Generated-code cache").
CODEGEN_CACHE_ENTRIES = 2048

def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

def get_spark(app_name: str = "geospatial-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Deterministic-comparison settings: session timezone pinned to UTC so
    timestamp semantics match the DuckDB oracle.
    """
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces by shuffle BYTES, but several engine stages are
        # CPU-bound per row on small data (pair explode, window shingling),
        # where 64 MB targets collapse them to 1-4 tasks. 4 MB keeps those
        # stages wide on local[32]; on a real cluster override upward
        # (SPARK_GRAFT_ADVISORY_PARTITION) — at 100 TB the default 64m is
        # right because stage inputs are no longer overhead-dominated.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4m"))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores event timestamps as TIMESTAMP(NANOS);
        # read as long + convert (streaming/events.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # r14: 10k rows per Arrow batch (was 50k). The per-batch Python
        # round-trip is sub-ms, so 10k still amortizes it fully; what the
        # smaller batch buys is a 5x smaller per-batch allocation burst in
        # the worker, whose pages the allocator then REUSES across the
        # task's batches. Measured (guide §4.2/§5): the geometry kernels'
        # fault storm on freshly-forked workers — ~80 us/page-fault on
        # this virtualized host, 70-85 s of system CPU per 32-task stage —
        # shrinks with the burst: st_buffer_round after a pool-growth
        # event 5.0/4.9 s at 50k vs 2.2/1.8 s at 10k (fresh-process A/B,
        # with the malloc-retention envs below).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"))
        # broadcast dims up to 64 MB — the reference broadcasts its region
        # dimension explicitly (spark_job/process_geodata.py:101)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers codegen stages in the order it creates query stages,
        # and that order follows whichever concurrent stage finishes first;
        # with the number in the class name, the same stage got a new source
        # text, and so a cache miss, on runs where two stages finished the
        # other way round (lm_bigram_score, ann_recall_at_k, event_funnel,
        # bm25_term_scores, hll_distinct). The id stays in a comment, which
        # is not part of the cache key.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # r14 (guide §4.5): fork workers from a daemon that has already
        # imported numpy/pandas/pyarrow + the engine kernels — a cold
        # fork otherwise pays ~0.7 s of imports the first time a UDF
        # lands on it, and worker demand is bursty (chained
        # ArrowEvalPython frontiers need several workers per core), so
        # mid-bench queries kept landing on cold workers (measured:
        # st_buffer_round 1.9 s warm vs 3.2-6.9 s right after the pool
        # grew). Copy-on-write makes every forked worker warm for free.
        # The daemon also cuts a reused worker's per-task cost from
        # ~220 ms to ~3.5 ms of Python CPU: on CPython < 3.13 each task's
        # importlib.invalidate_caches() made every zipimporter re-read
        # pyspark.zip, and each task's gc.collect() walked the
        # pre-imported heap. Every session starts a new daemon, which
        # imports pyspark and py4j from the interpreter's installed,
        # bytecode-cached copy when it is the release in Spark's zips:
        # compiling them from pyspark.zip took ~0.8 s of each start
        # (details in daemon_preload).
        .config("spark.python.daemon.module",
                "geospatial_data_pipeline_spark_sedona_on_aws_spark"
                ".daemon_preload")
        # make the engine package resolvable by the daemon and workers
        # regardless of the driver's CWD (python -m needs it on the
        # worker interpreter's path; previously this worked only because
        # the driver happened to run from the repo root)
        .config("spark.executorEnv.PYTHONPATH",
                os.pathsep.join(
                    [p for p in (os.environ.get("PYTHONPATH"),) if p]
                    + [os.path.dirname(os.path.dirname(
                        os.path.abspath(__file__)))]))
    )
    # r14 (guide §5): keep worker heap pages mapped for the worker's
    # lifetime. glibc returns large buffers to the OS at free
    # (munmap / trim), so every batch re-faults its working set; on a
    # virtualized host a first-touch fault costs ~80 us (measured:
    # 70-85 s of system CPU vs ~10 s of user CPU in one 32-task
    # geometry stage). Retention bounds RSS at the worker's peak
    # working set — the number spark.executor.pyspark.memory must
    # budget for anyway. Respect operator overrides from the outer env.
    for k, v in (("MALLOC_TRIM_THRESHOLD_", "-1"),
                 ("MALLOC_MMAP_THRESHOLD_", "1073741824"),
                 ("MALLOC_ARENA_MAX", "2")):
        builder = builder.config(f"spark.executorEnv.{k}",
                                 os.environ.get(k, v))
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if SparkSession.getActiveSession() is None:
        builder = builder.master(master)
    fresh = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    if fresh:
        # PySpark's accumulator-update server notices a shutdown only on a
        # poll tick (1 s in the handler of the JVM's connection, 0.5 s in
        # the serve loop), so `spark.stop()` slept ~0.9 s after the JVM had
        # stopped. Wrapped only here, before any job, so a context whose
        # connection PySpark's handler already serves keeps its behaviour.
        _wake_update_server_on_stop(spark.sparkContext)
    return spark


class _WakeableUpdateHandler(accumulators.UpdateRequestHandler):
    """PySpark's handler that records its connection, so that the
    server's `shutdown` can wake its poll, and ends quietly when that wake
    ends the stream."""

    def handle(self) -> None:
        self.server.update_connection = self.connection
        try:
            super().handle()
        except (EOFError, OSError):
            if not self.server.server_shutdown:
                raise


def _wake_update_server_on_stop(sc) -> None:
    """Make `sc.stop()` end the accumulator-update server at once.

    The server's `shutdown` runs after `_jsc.stop()` has returned, and the
    JVM waits for the ack of every update it sends, so nothing is in flight
    when the wake ends the connection. Best-effort: a server without the
    attributes this relies on, or one already wrapped, is left as it is.
    """
    server = getattr(sc, "_accumulatorServer", None)
    if (server is None
            or getattr(server, "RequestHandlerClass", None)
            is not accumulators.UpdateRequestHandler
            or not hasattr(server, "server_shutdown")
            or "_BaseServer__shutdown_request" not in vars(server)):
        return
    server.RequestHandlerClass = _WakeableUpdateHandler
    shutdown = type(server).shutdown

    def wake_and_shutdown() -> None:
        # Both flags before either wake: a serve loop woken first would
        # go back to its 0.5 s select.
        server.server_shutdown = True
        server._BaseServer__shutdown_request = True
        conn = getattr(server, "update_connection", None)
        with contextlib.suppress(OSError):
            if conn is not None:       # the handler's select(1)
                conn.shutdown(socket.SHUT_RD)
        with contextlib.suppress(OSError), socket.socket(
                server.address_family, server.socket_type) as s:
            s.settimeout(1)            # the serve loop's select(0.5)
            s.connect(server.server_address)
        shutdown(server)  # closes the socket, removes a Unix socket file

    server.shutdown = wake_and_shutdown
