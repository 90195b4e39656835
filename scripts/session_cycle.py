"""Time one engine session turnover, layer by layer.

In one process, starts the engine session (`session.get_spark`) and runs
perfbench's worker warm-up on it (one Arrow round trip on every core), then
runs `cycles` cycles of: `spark.stop()` -> `get_spark` -> warm-up. That is
what perfbench's `setup_s` times after its first set-up. For each cycle it
splits the stop into the JVM's `_jsc.stop()` and the shutdown of PySpark's
accumulator-update server, which `SparkContext.stop` runs after it. Prints
the median and range of each part, in ms.

Runs with the web UI and the console progress bar off, as perfbench does,
unless PYSPARK_SUBMIT_ARGS is already set.

Usage: python scripts/session_cycle.py [cycles]
"""
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

PARTS = ("spark.stop()", "  _jsc.stop()", "  update-server shutdown",
         "get_spark", "warm-up")


def timed(obj, name, out, key):
    """Replace obj.name with a wrapper that adds its wall time to out[key]."""
    inner = getattr(obj, name)

    def wrapper(*a, **kw):
        t0 = time.perf_counter()
        try:
            return inner(*a, **kw)
        finally:
            out[key] = time.perf_counter() - t0

    setattr(obj, name, wrapper)


def start():
    from run import warm_workers

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.session import (
        get_spark,
    )

    out = {}
    t0 = time.perf_counter()
    spark = get_spark("session_cycle")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_workers(spark)
    out["get_spark"] = t1 - t0
    out["warm-up"] = time.perf_counter() - t1
    return spark, out


def stop(spark):
    sc, out = spark.sparkContext, {}
    timed(sc._jsc, "stop", out, PARTS[1])
    timed(sc._accumulatorServer, "shutdown", out, PARTS[2])
    t0 = time.perf_counter()
    spark.stop()
    out[PARTS[0]] = time.perf_counter() - t0
    return out


def main():
    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                          "--conf spark.ui.enabled=false "
                          "--conf spark.ui.showConsoleProgress=false "
                          "pyspark-shell")
    spark, _ = start()
    ms = {p: [] for p in PARTS}
    for _ in range(cycles):
        out = stop(spark)
        spark, started = start()
        out.update(started)
        for p in PARTS:
            ms[p].append(out[p] * 1e3)
    spark.stop()
    for p, t in ms.items():
        print(f"{p:<26} {statistics.median(t):7.0f} ms median "
              f"({min(t):.0f}-{max(t):.0f}, {cycles} cycles)")


if __name__ == "__main__":
    main()
