"""No registry query that registers ST_ functions evaluates a Python UDF
once per output column.

scripts/plan_audit.py flags `udf-recompute` on any ArrowEvalPython node
in which one nested UDF call occurs inside two or more outputs
(EvalPythonExec runs one chain per output). tests/test_chainrw.py pins
this for the `select_st` queries; this test plans every registry query
at sf0.001 and audits each one whose builder registers the ST_ functions
(seen by recording `spark.udf.register` calls). It plans the queries
and collects none. Builders that start a streaming query or run Spark
jobs while they build (beyond reading a parquet footer) would run
instead of plan, so they are skipped, each with its reason; the test
fails if a builder it audits starts a job. (A skipped builder can leave
a memoized row count to the next one, which then counts; those register
no ST_ function.)
"""

from __future__ import annotations

import os
import sys

from .conftest import SF_SMOKE
from .test_chainrw import SELECT_ST_QUERIES

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

SKIP = {
    "starts a streaming query and waits for it": (
        "stream_static_enrich", "sessionize_events_stateful",
        "streaming_cdc_apply", "streaming_hll_distinct",
        "streaming_hex_density", "user_type_totals_tws",
        "streaming_dedup_watermarked", "pyds_sensor_stream_totals",
        "streaming_snapshot_publish", "streaming_contamination",
        "streaming_geofence", "events_windowed_streaming",
        "streaming_dedup", "stream_stream_join"),
    "collects a driver-side artifact (query batch, codebook, centroids,"
    " bloom words, BPE merges, k-NN radius, catalog listing)": (
        "ann_recall_at_k", "embedding_pq_ann", "embedding_pq_rerank",
        "embedding_topk_cosine", "embedding_ivf_ann",
        "embedding_quantized_topk", "kmeans_quantized",
        "bloom_pruned_orders", "bpe_merge_train", "bpe_tokenize_apply",
        "spatial_knn_join", "spatial_knn_join_grid", "spatial_dbscan",
        "snapshot_diff"),
    "localCheckpoints an intermediate result": (
        "embedding_cluster_dedup", "dedup_clusters", "dedup_apply",
        "corpus_report", "st_collect_dump", "getis_ord_hotspots",
        "local_outlier_factor", "pagerank_links", "triangle_count",
        "spatial_range_join_fallback"),
    "counts or aggregates eagerly (row counts, statistics)": (
        "observed_load_metrics", "geo_range_join",
        "embedding_near_dup_topm"),
    "writes files and reads them back": (
        "crop_analytics_csv_roundtrip", "crop_analytics_jsonl_roundtrip",
        "crop_analytics_orc_roundtrip", "pyds_jsonl_commit_roundtrip"),
}


def test_no_registry_query_recomputes_a_udf(spark, monkeypatch):
    import plan_audit as PA
    from pyspark.sql.udf import UDFRegistration

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
        udf_table,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    register_spatial_functions(spark)
    names, seen = set(udf_table()), []
    real = UDFRegistration.register

    def register(self, name, f, returnType=None):
        if name in names:          # already registered: record it only
            seen.append(name)
            return f
        return real(self, name, f, returnType)

    monkeypatch.setattr(UDFRegistration, "register", register)
    skipped = {n for ns in SKIP.values() for n in ns}
    assert skipped <= set(QUERIES), skipped - set(QUERIES)
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    audited, flagged, ran = [], [], {}
    try:
        for name, build in QUERIES.items():
            if name in skipped:
                continue
            seen.clear()
            del spark._spark_graft_st_registered
            sc.setJobGroup(f"udf-recompute:{name}", name)
            plan = build(spark, SF_SMOKE)._jdf.queryExecution() \
                .executedPlan().toString()
            spark._spark_graft_st_registered = True
            stages = {tracker.getStageInfo(s).name
                      for j in tracker.getJobIdsForGroup(
                          f"udf-recompute:{name}")
                      for s in tracker.getJobInfo(j).stageIds}
            if seen:
                audited.append(name)
                if "udf-recompute" in PA.audit(plan)["flags"]:
                    flagged.append(name)
                if any(not s.startswith("parquet at") for s in stages):
                    ran[name] = stages
    finally:
        spark._spark_graft_st_registered = True
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not ran, ran
    assert not flagged, flagged
    assert set(SELECT_ST_QUERIES) <= set(audited), audited
