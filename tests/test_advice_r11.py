"""Pins for the r10 ADVICE items fixed in r11 (the lane/LOF items are
pinned in test_lanes_ops.py / test_outlier.py; the AQE-restore and
MPOLY5 items live inside the tests they fixed)."""

from __future__ import annotations

import os

import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import dbscan as DB
from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import similarity as SIM
from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import spatial_join as SJ
from geospatial_data_pipeline_spark_sedona_on_aws_spark.sources import io

from tests.conftest import SF_SMOKE


def test_events_count_cache_keyed_on_file_identity(spark, tmp_path):
    """ADVICE r10 item 1: the memoized row count must invalidate when the
    file is regenerated in the same driver session (the key holds the
    file's mtime and size, not just its path)."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "events.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", path)
    n1 = io.row_count(spark, path)
    assert n1 > 0 and DB.events_count(spark, str(sf)) == n1
    # regenerate the fixture with a different row count
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(n1 // 2) \
        .write.mode("overwrite").parquet(str(sf / "tmp_half"))
    # single-file replace (the driver testdata is single-file parquet)
    part = next(p for p in os.listdir(sf / "tmp_half")
                if p.endswith(".parquet"))
    os.replace(sf / "tmp_half" / part, path)
    n2 = io.row_count(spark, path)
    assert n2 == n1 // 2, (n1, n2)
    assert DB.events_count(spark, str(sf)) == n2


@pytest.mark.parametrize("count, table", [
    (DB.events_count, "events"), (SIM.emb_count, "embeddings")])
def test_row_count_memos_skip_unstatable_paths(spark, tmp_path, count, table):
    """A `file://` URI is stat-ed as its local path, so a dataset
    rewritten under the same URI has a new identity and is counted
    again rather than keeping the first answer for the life of the
    process."""
    sf_dir = tmp_path.as_uri()
    path = f"{sf_dir}/{table}.parquet"
    spark.range(7).write.mode("overwrite").parquet(path)
    assert io.row_count(spark, path) == count(spark, sf_dir) == 7
    spark.range(3).write.mode("overwrite").parquet(path)
    assert io.row_count(spark, path) == count(spark, sf_dir) == 3


def test_memo_builds_inputs_without_identity_every_time(spark, tmp_path):
    """An empty path list or a path that cannot be stat-ed has no file
    identity: the memo calls build() every time and keeps nothing."""
    calls = []
    for paths in ([], [str(tmp_path / "missing.parquet")]):
        before = len(io._MEMO)
        for _ in range(2):
            io.memo(spark, "count", paths, lambda: calls.append(1))
        assert len(io._MEMO) == before
    assert len(calls) == 4


def test_memo_shared_by_threads(tmp_path, monkeypatch):
    """Two clients may share one session: threads hitting and evicting
    concurrently always get their own path's value, and the memo never
    exceeds its bound."""
    import sys
    import threading
    from collections import OrderedDict
    from types import SimpleNamespace

    monkeypatch.setattr(io, "_MEMO", OrderedDict())
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    paths = []
    for i in range(io.MEMO_ENTRIES * 2):
        paths.append(str(tmp_path / f"f{i}"))
        open(paths[-1], "w").close()
    errors = []

    def client(seed):
        try:
            for j in range(2000):
                p = paths[(seed * 7919 + j * 31) % len(paths)]
                assert io.memo(fake, "t", [p], lambda p=p: p) == p
                assert len(io._MEMO) <= io.MEMO_ENTRIES
        except Exception as e:  # surfaced in the main thread below
            errors.append(e)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def _write_single_file(spark, df, path):
    """Write `df` as ONE parquet file at `path`, replacing it in place."""
    tmp = path + ".w"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), path)


def test_split_count_fresh_after_in_place_rewrite(spark, tmp_path):
    """A single-file parquet rewritten in place with more splits gets a
    fresh split count, and spread_scan then leaves its scan untouched
    (a count keyed on the file name alone stayed at 1 and added an
    exchange)."""
    path = str(tmp_path / "t.parquet")
    # 8 KB splits, so a ~400 KB file splits past any core count
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "8k")
        _write_single_file(spark, spark.range(10), path)
        small = spark.read.parquet(path)
        assert io._scan_partitions(small) == 1
        _write_single_file(spark, spark.range(100_000), path)
        big = spark.read.parquet(path)
        n = big.rdd.getNumPartitions()
        assert n * 2 >= spark.sparkContext.defaultParallelism, n
        assert io._scan_partitions(big) == n
        assert io.spread_scan(big) is big
    finally:
        spark.conf.set(conf, saved)


def test_split_count_not_shared_between_fileless_sources(spark):
    """DataFrames with no input files have no file identity, so their
    split counts are never shared through one memo entry."""
    assert io._scan_partitions(spark.range(0, 100, 1, 1)) == 1
    assert io._scan_partitions(spark.range(0, 100, 1, 8)) == 8


def test_memo_stays_bounded_across_restamp_cycles(spark, tmp_path):
    """A refresh service re-reads a re-stamped data drop every cycle.
    Each cycle's identities are new keys; the memo drops the least
    recently used ones instead of growing, and a file that did not
    change keeps its entry (the same DataFrame object) throughout."""
    import shutil

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    snap = str(tmp_path / "snap")
    shutil.copytree(SF_SMOKE, snap)
    fixed = f"{SF_SMOKE}/region.parquet"
    held = io.read_parquet_cached(spark, fixed)
    first_keys = None
    for k in range(50):
        stamp = (1_700_000_000 + k) * 10**9
        for f in os.listdir(snap):
            os.utime(f"{snap}/{f}", ns=(stamp, stamp))
        QUERIES["crop_analytics_full"](spark, snap)
        assert len(io._MEMO) <= io.MEMO_ENTRIES
        assert io.read_parquet_cached(spark, fixed) is held
        if first_keys is None:
            first_keys = [key for key in io._MEMO if snap in repr(key)]
    # the first cycle's entries were evicted, not kept
    assert first_keys and not any(key in io._MEMO for key in first_keys)


def test_cell_join_seam_not_retained_by_default(spark):
    """ADVICE r10 item 3: a plain production query through
    _cell_block_join must NOT pin the pre-checkpoint frame (lineage +
    session) in the module global; only a test that opts in via
    _KEEP_LAST_CELL_JOIN sees it."""
    SJ._LAST_CELL_JOIN = None
    SJ.spatial_range_join(spark, SF_SMOKE, broadcast_dim=False).count()
    assert SJ._LAST_CELL_JOIN is None
