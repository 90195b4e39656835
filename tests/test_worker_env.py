"""The Python worker environment the daemon (`daemon_preload`) forks.

Spark puts `$SPARK_HOME/python/lib`'s pyspark and py4j zips first on the
daemon's `sys.path`, and zipimport compiles every module it loads. When
the interpreter's installed copy of a package is the same release, the
daemon moves that package's zips to the end, so it loads bytecode.

PySpark's worker calls `importlib.invalidate_caches()` for every task
(`pyspark.worker_util.setup_spark_files`). On CPython 3.10-3.12 that makes
every `zipimporter` re-read its archive's central directory at once, so a
worker that imported pyspark from `pyspark.zip` re-read it once per
package directory per task. The daemon replaces the method with one that
re-reads only an archive whose (mtime, size) stamp changed. It also
freezes its heap, which the worker's per-task `gc.collect()` then skips.
"""

import glob
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from geospatial_data_pipeline_spark_sedona_on_aws_spark import daemon_preload

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PATCHED = sys.version_info < (3, 13)

PROBE = textwrap.dedent(r"""
    import importlib, json, os, sys, zipfile, zipimport

    zpath = os.path.join(sys.argv[1], "pkgs.zip")

    def write(extra):
        with zipfile.ZipFile(zpath, "w") as z:
            for name in ("zpkg/__init__.py", "zpkg/a/__init__.py",
                         "zpkg/b/__init__.py"):
                z.writestr(name, "")
            z.writestr("zpkg/a/m.py", "A = 1\n")
            z.writestr("zpkg/b/m.py", "B = 2\n")
            if extra:
                z.writestr("zpkg/b/extra.py", "VALUE = 42\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    def rereads():  # of this archive: the interpreter may hold other zips
        del reads[:]
        importlib.invalidate_caches()
        return reads.count(zpath)

    write(extra=False)
    sys.path.insert(0, zpath)
    import zpkg.a.m, zpkg.b.m  # one zipimporter per package directory

    zipimport._read_directory = counting
    out = {"importers": sum(isinstance(f, zipimport.zipimporter)
                            and f.archive == zpath
                            for f in sys.path_importer_cache.values()),
           "unpatched": rereads()}
    from geospatial_data_pipeline_spark_sedona_on_aws_spark import (
        daemon_preload,
    )
    daemon_preload.reread_changed_zips_only()
    out["patched"] = rereads()
    out["patched_again"] = rereads()
    size = os.path.getsize(zpath)
    write(extra=True)
    assert os.path.getsize(zpath) != size
    out["changed"] = rereads()
    import zpkg.b.extra
    out["extra"] = zpkg.b.extra.VALUE
    print(json.dumps(out))
""")


def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [REPO] + [p for p in (os.environ.get("PYTHONPATH"),) if p]))
    proc = subprocess.run([sys.executable, "-c", PROBE, str(tmp_path)],
                          capture_output=True, text=True, env=env,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # zip root, zpkg/, zpkg/a/ and zpkg/b/
    assert out["importers"] >= 4, out
    if PATCHED:
        # the interpreter's own method re-reads every importer's archive
        assert out["unpatched"] == out["importers"], out
        # ... and the stamped importers re-read only once it changed
        assert out["changed"] >= 1, out
    assert out["patched"] == 0, out
    assert out["patched_again"] == 0, out
    # the rewritten archive (new size) is seen: its new module imports
    assert out["extra"] == 42, out


def test_workers_inherit_the_patch_and_the_frozen_heap(spark):
    """The daemon patches and freezes its heap before it forks, so every
    worker runs the patched method, and the per-task gc.collect() of
    pyspark.daemon skips the pre-imported modules. Workers also run the
    installed pyspark, not the copy in Spark's zip."""

    @pandas_udf("string")
    def worker_state(ids: pd.Series) -> pd.Series:
        import gc
        import zipimport

        import pyspark

        name = zipimport.zipimporter.invalidate_caches.__name__
        state = f"{name} {gc.get_freeze_count() > 0} {pyspark.__file__}"
        return pd.Series([state] * len(ids))

    rows = spark.range(0, 400, 1, 4).select(
        worker_state("id").alias("s")).collect()
    want = ("invalidate_caches_if_changed" if PATCHED
            else "invalidate_caches")
    assert len(rows) == 400
    states = {tuple(r.s.split(" ", 2)) for r in rows}
    assert {s[:2] for s in states} == {(want, "True")}
    assert not any(".zip" + os.sep in s[2] for s in states), states


def _spark_zips():
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    zips = sorted(glob.glob(os.path.join(lib, "*.zip")),
                  key=lambda p: not os.path.basename(p).startswith("pyspark"))
    if not zips:
        pytest.skip("no $SPARK_HOME/python/lib zips")
    return zips


def _installed_version_py(pkg):
    mod = sys.modules[pkg]
    with open(os.path.join(os.path.dirname(mod.__file__), "version.py"),
              "rb") as f:
        return f.read()


def test_daemon_loads_pyspark_from_the_installed_copy():
    """With Spark's zips first on the path, as the JVM orders them, the
    daemon loads no pyspark or py4j module from a zip when the installed
    copy is the same release."""
    zips = _spark_zips()
    for z in zips:
        pkg = "pyspark" if os.path.basename(z).startswith("pyspark") else "py4j"
        with zipfile.ZipFile(z) as zf:
            if zf.read(f"{pkg}/version.py") != _installed_version_py(pkg):
                pytest.skip(f"installed {pkg} is not the release in {z}")
    probe = textwrap.dedent("""
        import json, sys
        from geospatial_data_pipeline_spark_sedona_on_aws_spark import (
            daemon_preload,
        )
        print(json.dumps({m: getattr(mod, "__file__", None) or ""
                          for m, mod in sys.modules.items()
                          if m.split(".")[0] in ("pyspark", "py4j")}))
    """)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(zips + [REPO]))
    proc = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                          text=True, env=env, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    files = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "pyspark.daemon" in files and "py4j.java_gateway" in files
    zipped = {m: f for m, f in files.items()
              if any(f.startswith(z + os.sep) for z in zips)}
    assert not zipped, zipped


@pytest.mark.parametrize("release, moved", [
    ("installed", True), ("other", False), ("none", False)])
def test_zip_moves_only_for_the_installed_release(
        tmp_path, monkeypatch, release, moved):
    """A pyspark zip first on the path moves to the end only when its
    pyspark/version.py is the installed one's; with another release's, or
    none, the path stays exactly as it was."""
    zpath = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if release == "installed":
            z.writestr("pyspark/version.py", _installed_version_py("pyspark"))
        elif release == "other":
            z.writestr("pyspark/version.py", '__version__: str = "0.0.1"\n')
    before = [zpath] + sys.path
    monkeypatch.setattr(sys, "path", list(before))
    # as in a fresh daemon, where nothing has imported them yet
    monkeypatch.delitem(sys.modules, "pyspark")
    monkeypatch.delitem(sys.modules, "py4j")
    daemon_preload.prefer_installed_copy()
    if moved:
        assert sys.path == before[1:] + [zpath]
    else:
        assert sys.path == before
