"""Per-stage wall/CPU attribution for a registry query via the Spark
event log (the statusStore API can't do this from PySpark; the skill
notes prescribe eventLog + SparkListenerStageCompleted). Runs the query
warm then once measured through the noop sink, then prints each stage's
submission->completion wall, summed executor run time, shuffle bytes,
and the first line of its details (the call site).

Usage: python scripts/stage_attr.py <sf_dir> <query> [query ...]
"""
import json
import os
import shlex
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    log_dir = tempfile.mkdtemp(prefix="sparkevt_")
    # the engine's own session (get_spark: worker daemon, malloc env,
    # Arrow batch size) plus the event log, set before the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir={log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "pyspark-shell"])
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.session import (
        default_parallelism,
        get_spark,
    )
    cores = default_parallelism()
    spark = get_spark("stage_attr")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(32_000).repartition(cores) \
        .mapInPandas(lambda it: it, "id long").selectExpr("sum(id)").collect()
    for name in names:
        # warm pass (compiles the same plans the measured pass runs)
        QUERIES[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        spark.sparkContext.setJobDescription(f"MEASURED::{name}")
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: {wall:.3f}s wall ===")
    app_id = spark.sparkContext.applicationId
    spark.stop()
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        parts = sorted(p for p in os.listdir(v2) if p.startswith("events"))
        paths = [os.path.join(v2, p) for p in parts]
    else:
        paths = [path]
    measured_jobs = {}   # job id -> query name
    stage_to_job = {}
    rows = []
    task_sums: dict = {}
    import itertools
    with open(paths[0]) as _f0:
        lines = list(_f0)
    for p in paths[1:]:
        with open(p) as _f:
            lines.extend(_f)
    if True:
        for line in lines:
            ev = json.loads(line)
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", "")
                if desc.startswith("MEASURED::"):
                    measured_jobs[ev["Job ID"]] = desc[10:]
                    for sid in ev.get("Stage IDs", []):
                        stage_to_job[sid] = ev["Job ID"]
            elif k == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if sid not in stage_to_job:
                    continue
                tm = ev.get("Task Metrics") or {}
                agg = task_sums.setdefault(sid, {
                    "run": 0, "cpu": 0, "deser": 0, "gc": 0,
                    "ser": 0, "fetch": 0, "n": 0, "max_run": 0})
                run = tm.get("Executor Run Time", 0)
                agg["run"] += run
                agg["max_run"] = max(agg["max_run"], run)
                agg["cpu"] += tm.get("Executor CPU Time", 0) // 1_000_000
                agg["deser"] += tm.get("Executor Deserialize Time", 0)
                agg["gc"] += tm.get("JVM GC Time", 0)
                agg["ser"] += tm.get("Result Serialization Time", 0)
                agg["fetch"] += (tm.get("Shuffle Read Metrics", {})
                                 or {}).get("Fetch Wait Time", 0)
                agg["n"] += 1
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                if sid not in stage_to_job:
                    continue
                jid = stage_to_job[sid]
                if jid not in measured_jobs:
                    continue
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                scopes = []
                for ri in si.get("RDD Info", []):
                    sc = ri.get("Scope")
                    if sc:
                        try:
                            import json as _j
                            scopes.append(_j.loads(sc).get("name", ""))
                        except Exception:
                            pass
                rows.append({
                    "query": measured_jobs[jid],
                    "stage": sid,
                    "tasks": si.get("Number of Tasks"),
                    "wall_s": (com - sub) / 1000.0 if sub and com else None,
                    "name": si.get("Stage Name", "")[:70],
                    "scopes": ",".join(dict.fromkeys(scopes))[:110],
                    "detail": (si.get("Details", "") or "").split("\n")[0][:90],
                })
    cur = None
    for r in sorted(rows, key=lambda r: (r["query"], r["stage"])):
        if r["query"] != cur:
            cur = r["query"]
            print(f"\n--- {cur} ---")
        ts = task_sums.get(r["stage"], {})
        extra = ""
        if ts:
            extra = (f"  sumRun={ts['run']/1000:.2f}s cpu={ts['cpu']/1000:.2f}s"
                     f" maxRun={ts['max_run']/1000:.2f}s gc={ts['gc']/1000:.2f}s")
        print(f"stage {r['stage']:4d}  {r['wall_s']:7.3f}s  "
              f"{r['tasks']:4d} tasks  {r['name']}{extra}")
        if r.get("scopes"):
            print(f"           scopes: {r['scopes']}")


if __name__ == "__main__":
    main()
