"""Python CPU one task costs a reused worker, for an identity pandas_udf.

Runs `jobs` jobs of one task per core on the engine session (get_spark).
Each task reports its worker's pid and process CPU time (user + system)
when its first batch arrives. Workers are reused, so on one pid the CPU
between two consecutive tasks is one whole task: protocol set-up, Arrow
in and out and the (identity) UDF. Prints the median and the maximum in
milliseconds.

Usage: python scripts/worker_task_cpu.py [jobs]
"""
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.session import (
        get_spark,
    )

    jobs = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("worker_task_cpu")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    @pandas_udf("struct<pid:long,cpu:double>")
    def probe(ids: pd.Series) -> pd.DataFrame:
        import time

        return pd.DataFrame({"pid": os.getpid(), "cpu": time.process_time()},
                            index=ids.index)

    seen = {}
    for _ in range(jobs):
        rows = spark.range(0, cores, 1, cores).select(
            probe("id").alias("p")).select("p.*").collect()
        for pid, cpu in rows:
            seen.setdefault(pid, []).append(cpu)
    per_task = [(b - a) * 1e3 for cpus in seen.values()
                for a, b in zip(cpus, cpus[1:])]
    print(f"{len(per_task)} tasks on {len(seen)} workers: per-task Python "
          f"CPU median {statistics.median(per_task):.1f} ms, "
          f"max {max(per_task):.1f} ms")
    spark.stop()


if __name__ == "__main__":
    main()
