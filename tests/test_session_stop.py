"""`spark.stop()` on an engine session returns once the JVM has stopped.

PySpark's accumulator-update server notices a shutdown only on a poll
tick: its handler of the JVM's connection selects with a 1 s timeout, and
its serve loop with 0.5 s. `session.get_spark` wraps the server of a
context it creates so that `shutdown` wakes both waits. Each probe runs in
its own interpreter and JVM, because the suite shares one session: once
with PySpark's TCP server, and once with its Unix-socket server.
"""

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: well under PySpark's 0.5 s and 1 s poll ticks, well over the ~10-60 ms
#: that `_jsc.stop()` takes
STOP_S = 0.25

PROBE = textwrap.dedent(r"""
    import json, os, time

    from geospatial_data_pipeline_spark_sedona_on_aws_spark import session

    out = {"sums": [], "stop_after_tasks": [], "stop_no_tasks": [],
           "socket_files_left": []}

    def stop(spark, key):
        server = spark.sparkContext._accumulatorServer
        path = server.server_address
        t0 = time.perf_counter()
        spark.stop()
        out[key].append(time.perf_counter() - t0)
        if isinstance(path, str):
            out["socket_files_left"].append(os.path.exists(path))

    for cycle in range(3):
        spark = session.get_spark("session-stop")
        sc = spark.sparkContext
        server = sc._accumulatorServer
        handler = server.RequestHandlerClass
        shutdown = vars(server).get("shutdown")
        # a second call on the active session leaves the wrap as it was
        assert session.get_spark("session-stop").sparkContext is sc
        out["wrapped_once"] = (
            handler is getattr(session, "_WakeableUpdateHandler", None)
            and server.RequestHandlerClass is handler
            and vars(server).get("shutdown") is shutdown)
        out["unix"] = isinstance(server.server_address, str)
        acc = sc.accumulator(0)
        sc.parallelize(range(10_000), 16).foreach(lambda x: acc.add(x))
        out["sums"].append(acc.value)
        stop(spark, "stop_after_tasks")
        # a session that runs no Python task
        stop(session.get_spark("session-stop"), "stop_no_tasks")
    print(json.dumps(out))
""")


@pytest.mark.parametrize("unix", [False, True], ids=["tcp", "unix"])
def test_stop_wakes_the_update_server(unix):
    conf = ["--conf", "spark.ui.enabled=false",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if unix:
        conf += ["--conf", "spark.python.unix.domain.socket.enabled=true"]
    env = dict(os.environ,
               PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
               SPARK_GRAFT_MASTER="local[2]", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   [REPO] + [p for p in (os.environ.get("PYTHONPATH"),) if p]))
    proc = subprocess.run([sys.executable, "-c", PROBE], capture_output=True,
                          text=True, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["unix"] is unix
    # every update reached the driver before the stop, in every cycle
    assert out["sums"] == [sum(range(10_000))] * 3, out
    assert max(out["stop_after_tasks"]) < STOP_S, out
    assert max(out["stop_no_tasks"]) < STOP_S, out
    assert out["wrapped_once"], out
    # no traceback from the update server's thread. A worker daemon's
    # BrokenPipeError at stop, which PySpark's Unix-socket mode prints
    # without the wake too, comes from pyspark/daemon.py and is not one.
    assert "Exception occurred during processing of request" not in proc.stderr
    for frame in ("accumulators.py", "socketserver.py", "session.py"):
        assert frame not in proc.stderr, proc.stderr[-3000:]
    assert out["socket_files_left"] == ([False] * 6 if unix else []), out
