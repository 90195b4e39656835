"""Time from launching a PySpark worker daemon to it reporting its port.

Launches `python -m <module>` as Spark's PythonWorkerFactory does: the
worker's PYTHONPATH starts with `$SPARK_HOME/python/lib`'s pyspark and py4j
zips, then this checkout. The daemon is ready when it has written its
listening port (4 bytes) to stdout; closing its stdin then ends it.
Alternates `pyspark.daemon` and the engine daemon (`daemon_preload`) and
prints the median and range of each one's time to ready, in ms.

Usage: python scripts/daemon_start.py [runs]
"""
import glob
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = ("pyspark.daemon",
           "geospatial_data_pipeline_spark_sedona_on_aws_spark.daemon_preload")


def time_to_ready(module, pythonpath):
    env = dict(os.environ, PYTHONPATH=pythonpath)
    start = time.perf_counter()
    proc = subprocess.Popen([sys.executable, "-m", module], env=env,
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        port = proc.stdout.read(4)
        ready = time.perf_counter() - start
        if len(port) != 4:
            raise RuntimeError(f"{module} exited before reporting its port")
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        proc.stdout.close()
    return ready * 1e3


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    lib = os.path.join(os.environ["SPARK_HOME"], "python", "lib")
    zips = sorted(glob.glob(os.path.join(lib, "*.zip")),
                  key=lambda p: not os.path.basename(p).startswith("pyspark"))
    pythonpath = os.pathsep.join(zips + [REPO])
    ms = {m: [] for m in MODULES}
    for i in range(runs):
        for m in MODULES[::-1] if i % 2 else MODULES:
            ms[m].append(time_to_ready(m, pythonpath))
    for m, t in ms.items():
        print(f"{m}: ready in {statistics.median(t):.0f} ms median "
              f"({min(t):.0f}-{max(t):.0f}, {runs} runs)")


if __name__ == "__main__":
    main()
