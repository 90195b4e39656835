"""A query the session has already run reuses its compiled classes.

Spark compiles each whole-stage-codegen stage with Janino and keeps the
class in a JVM-wide cache keyed by the generated source. A second run of a
query compiles nothing only if (a) the cache holds the working set of the
queries cycled through in between (`session.CODEGEN_CACHE_ENTRIES`) and
(b) the query generates the same source on every build. The counter is
Spark's own: one `CodegenMetrics.METRIC_COMPILATION_TIME` update per
compile, that is per cache miss (local mode: driver and executors share
one JVM and one cache)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

#: perfbench's spatial_mix operations, in its order (SpatialMix.QUERIES):
#: its clients cycle through these on one session
SPATIAL_MIX = ["spatial_range_join", "spatial_knn_join", "st_predicates",
               "st_buffer_round", "st_transform_utm", "st_point_line_ops",
               "hex_density_rollup", "st_geohash_agg", "sessionize_events",
               "nation_revenue"]

#: queries whose generated source changed from one build to the next while
#: the codegen stage id was part of the class name (AQE numbers stages in
#: the order concurrent stages finish)
STAGE_ORDER_RACE = ["lm_bigram_score", "ann_recall_at_k", "event_funnel",
                    "bm25_term_scores", "hll_distinct"]


def _compiles(spark) -> int:
    m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(m.METRIC_COMPILATION_TIME().getCount())


def _run(spark, name: str) -> int:
    """Janino compiles one build-and-run of a registry query costs (noop
    sink: full evaluation, as the benchmark runs it)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    before = _compiles(spark)
    QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_spatial_mix_second_pass_compiles_nothing(spark):
    """Cycling through the ten spatial_mix queries, a second pass finds
    every class in the cache (Spark's default of 100 entries is smaller
    than one pass: it recompiled ~90 classes per pass)."""
    first = {q: _run(spark, q) for q in SPATIAL_MIX}
    assert sum(first.values()) > 0  # the counter counts
    second = {q: _run(spark, q) for q in SPATIAL_MIX}
    assert not any(second.values()), second


def test_generated_source_is_stable_across_builds(spark):
    """Each of these queries, built and run twice in a row, compiles
    nothing the second time: its generated source does not depend on the
    order in which AQE created its stages."""
    again = {}
    for q in STAGE_ORDER_RACE:
        _run(spark, q)
        again[q] = _run(spark, q)
    assert not any(again.values()), again
