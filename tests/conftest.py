from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

@pytest.fixture(scope="session")
def spark():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.session import get_spark

    s = get_spark("engine-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s

@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
