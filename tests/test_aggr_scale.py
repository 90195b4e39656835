"""Scale-safety of the Sedona-parity grouped-geometry UDAFs (r7 verdict
item 3): a hot key must not materialize an unbounded parsed-geometry list
on one task, and the salted two-phase decomposition must union to the
same geometry as the direct UDAF (associativity)."""

from __future__ import annotations

import pandas as pd
import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S


def _hot_key_rects(n: int) -> list:
    # n unit cells along a line, every other one overlapping its
    # neighbour's half — union area has the closed form 1 + (n-1)/2
    return [f"POLYGON (({i/2} 0, {i/2 + 1} 0, {i/2 + 1} 1, {i/2} 1))"
            for i in range(n)]


def test_union_aggr_hot_key_bounded_hold():
    """10k-row hot key through the UDAF path itself: the fold never holds
    more than one block of parsed geometries beyond the accumulator."""
    S._AGGR_HELD_HIGH_WATER = 0
    rects = _hot_key_rects(10_000)
    out = S.udf_table()["ST_Union_Aggr"].func(pd.Series(rects))
    assert S._AGGR_HELD_HIGH_WATER <= S._AGGR_BLOCK + 1, \
        S._AGGR_HELD_HIGH_WATER
    got = S._area(out)
    assert abs(got - (1 + (10_000 - 1) / 2)) < 1e-6, got


def test_intersection_aggr_streaming_hold():
    S._AGGR_HELD_HIGH_WATER = 0
    # 5k nested rects shrinking toward the unit square
    rects = [f"POLYGON ((0 0, {1 + 1000/(i+1)} 0, {1 + 1000/(i+1)} "
             f"{1 + 1000/(i+1)}, 0 {1 + 1000/(i+1)}))"
             for i in range(5_000)]
    out = S.udf_table()["ST_Intersection_Aggr"].func(pd.Series(rects))
    assert S._AGGR_HELD_HIGH_WATER <= S._AGGR_BLOCK + 1
    got = S._area(out)
    exp = (1 + 1000 / 5000) ** 2  # the smallest rect
    assert abs(got - exp) < 1e-6, (got, exp)


def test_union_aggr_block_fold_equals_single_union():
    """Fold-shape independence: the chunked incremental union covers the
    same region as one whole-set union (areas equal; both are valid
    unions of the same geometry set)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import boolean as B
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geom as G

    rects = _hot_key_rects(300)
    chunked = S.udf_table()["ST_Union_Aggr"].func(pd.Series(rects))
    whole = G.to_wkt(B.union_geom([G.normalize(G.parse_wkt(w))
                                   for w in rects]))
    assert abs(S._area(chunked) - S._area(whole)) < 1e-9


@pytest.mark.usefixtures("spark")
def test_salted_union_aggr_matches_direct(spark):
    from pyspark.sql import functions as F

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
        salted_union_aggr,
    )

    register_spatial_functions(spark)
    # skewed: key 0 holds 2000 rows, keys 1..4 hold 50 each
    rows = [(0, w) for w in _hot_key_rects(2_000)]
    for k in range(1, 5):
        rows += [(k, f"POLYGON (({k*100 + i} 0, {k*100 + i + 2} 0,"
                     f" {k*100 + i + 2} 2, {k*100 + i} 2))")
                 for i in range(50)]
    df = spark.createDataFrame(rows, "key int, g string")
    direct = {r["key"]: r["a"] for r in df.groupBy("key").agg(
        F.expr("ST_Area(ST_Union_Aggr(g))").alias("a")).collect()}
    salted = salted_union_aggr(df, ["key"], "g", buckets=8)
    got = {r["key"]: r["a"] for r in salted.selectExpr(
        "key", "ST_Area(union_geom) AS a").collect()}
    assert set(got) == set(direct)
    for k in direct:
        assert abs(got[k] - direct[k]) < 1e-6, (k, got[k], direct[k])
    # phase-1 parallelism: the salted plan has two pandas aggregations
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Aggregate") >= 2
