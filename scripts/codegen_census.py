"""Census of Spark's generated code: what each registry query compiles,
and what it compiles again when it runs a second time in one session.

    python scripts/codegen_census.py <sf_dir> [query ...] [--passes N]

With no query names it runs the whole registry. Each pass runs every named
query once, in the order given, through the noop sink (as the benchmark
does); the default two passes show whether a session that cycles through
those queries keeps their compiled classes. Per query it prints the Janino
compiles of each pass (`CodegenMetrics.METRIC_COMPILATION_TIME`: one per
generated class that missed Spark's codegen cache), then per pass the
total compiles, wall time and the CPU the JVM's JIT compiler threads used
(utime+stime of its `C1`/`C2 CompilerThread`s, from /proc). It ends with
the JVM's Metaspace and CodeHeap use, read through JMX, and the codegen
cache size the session was launched with.

A second pass that still compiles means either that the cache is smaller
than the cycle's working set (every class misses) or that a query
generates different source on every build (the same query misses alone).
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def compiles(spark) -> int:
    m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(m.METRIC_COMPILATION_TIME().getCount())


class JitCpu:
    """CPU (utime+stime) of the JVM's JIT compiler threads, from /proc.
    HotSpot starts and retires compiler threads as load changes, and a
    retired thread's time leaves /proc with it, so a sampler thread keeps
    the last reading of every compiler thread it has seen (every 0.1 s)."""

    def __init__(self, pid: int):
        self.pid, self.seen = pid, {}
        self.tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                with open(f"/proc/{self.pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:  # the thread ended
                continue
            if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
                fields = stat[stat.rindex(")") + 2:].split()
                self.seen[tid] = int(fields[11]) + int(fields[12])

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self._sample()

    def snapshot(self) -> dict:
        self._sample()
        return dict(self.seen)

    def since(self, snap: dict) -> float:
        """Seconds of compiler-thread CPU since `snap`."""
        now = self.snapshot()
        return sum(t - snap.get(tid, 0) for tid, t in now.items()) / self.tick

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def memory_pools(spark) -> dict[str, float]:
    """Used MB of the Metaspace and the code heaps."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {}
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if name == "Metaspace" or name.startswith("CodeHeap"):
            out[name] = pool.getUsage().getUsed() / 2**20
    return out


def main() -> None:
    args = sys.argv[1:]
    passes = 2
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i:i + 2]
    sf_dir, names = args[0], args[1:]
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.session import get_spark
    names = names or list(QUERIES)
    spark = get_spark("codegen_census")
    spark.sparkContext.setLogLevel("ERROR")
    jit = JitCpu(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    per_query = {n: [] for n in names}
    totals = []
    for _ in range(passes):
        c0, j0, t0 = compiles(spark), jit.snapshot(), time.perf_counter()
        for n in names:
            before = compiles(spark)
            try:
                QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # report and go on: a census, not a gate
                print(f"{n}: FAILED {type(e).__name__}: {str(e)[:200]}")
            per_query[n].append(compiles(spark) - before)
        totals.append((compiles(spark) - c0, time.perf_counter() - t0,
                       jit.since(j0)))
    width = max(len(n) for n in names)
    print(f"{'query':<{width}}  " + "  ".join(f"pass{i + 1:>3}" for i in range(passes)))
    for n in names:
        print(f"{n:<{width}}  " + "  ".join(f"{c:>7}" for c in per_query[n]))
    jit.stop()
    for i, (c, wall, cpu) in enumerate(totals):
        print(f"pass {i + 1}: {c} compiles, {wall:.2f} s wall, "
              f"{cpu:.2f} s JIT compiler-thread CPU")
    repeat = sorted(n for n in names if passes > 1 and per_query[n][-1])
    print(f"queries compiling on pass {passes}: {len(repeat)} {repeat}")
    for name, mb in memory_pools(spark).items():
        print(f"{name}: {mb:.1f} MB used")
    print("spark.sql.codegen.cache.maxEntries:",
          spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    spark.stop()


if __name__ == "__main__":
    main()
