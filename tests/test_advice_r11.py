"""Pins for the r10 ADVICE items fixed in r11 (the lane/LOF items are
pinned in test_lanes_ops.py / test_outlier.py; the AQE-restore and
MPOLY5 items live inside the tests they fixed)."""

from __future__ import annotations

import os

import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import dbscan as DB
from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import similarity as SIM
from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import spatial_join as SJ

from tests.conftest import SF_SMOKE


def test_events_count_cache_keyed_on_file_identity(spark, tmp_path):
    """ADVICE r10 item 1: the memoized events row count must invalidate
    when the fixture file is regenerated in the same driver session
    (key = (sf_dir, mtime_ns, size), not just the path)."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", sf / "events.parquet")
    n1 = DB.events_count(spark, str(sf))
    assert n1 > 0
    # regenerate the fixture with a different row count
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(n1 // 2) \
        .write.mode("overwrite").parquet(str(sf / "tmp_half"))
    # single-file replace (the driver testdata is single-file parquet)
    part = next(p for p in os.listdir(sf / "tmp_half")
                if p.endswith(".parquet"))
    os.replace(sf / "tmp_half" / part, sf / "events.parquet")
    n2 = DB.events_count(spark, str(sf))
    assert n2 == n1 // 2, (n1, n2)


@pytest.mark.parametrize("count, table", [
    (DB.events_count, "events"), (SIM.emb_count, "embeddings")])
def test_row_count_memos_skip_unstatable_paths(spark, tmp_path, count, table):
    """A `file://` URI is read by Spark but cannot be stat-ed, so its file
    identity is unknown: the row-count memos must count it again rather
    than keep the first answer for the life of the process."""
    sf_dir = tmp_path.as_uri()
    path = f"{sf_dir}/{table}.parquet"
    spark.range(7).write.mode("overwrite").parquet(path)
    assert count(spark, sf_dir) == 7
    spark.range(3).write.mode("overwrite").parquet(path)
    assert count(spark, sf_dir) == 3


def test_cell_join_seam_not_retained_by_default(spark):
    """ADVICE r10 item 3: a plain production query through
    _cell_block_join must NOT pin the pre-checkpoint frame (lineage +
    session) in the module global; only a test that opts in via
    _KEEP_LAST_CELL_JOIN sees it."""
    SJ._LAST_CELL_JOIN = None
    SJ.spatial_range_join(spark, SF_SMOKE, broadcast_dim=False).count()
    assert SJ._LAST_CELL_JOIN is None
