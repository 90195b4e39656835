"""Synthetic spatial fixtures (FIXTURES.md §3) derived deterministically from
the driver's TPC-H-ish testdata.

The reference consumes two Postgres tables (core.land_use_areas fact +
core.geographic_regions dimension; reference spark_job/process_geodata.py:167,
173). We derive look-alike tables from `lineitem` and `supplier` with
axis-aligned-rectangle geometries whose answers have closed forms in plain
ANSI SQL — that is what makes the DuckDB oracle possible without a spatial
extension.

Every derivation here exists twice — as a Spark DataFrame builder and as a
DuckDB SQL CTE string — using *integer arithmetic only* so the two engines
agree bit-for-bit. tests/test_fixtures.py asserts the equivalence directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.io import read_parquet_cached as _rpc
from pyspark.sql import functions as F

N_REGIONS = 50
REGION_GRID_STEP = 12
REGION_SIZE = 15

def rect_wkt_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    """SQL text building 'POLYGON ((x1 y1, x2 y1, x2 y2, x1 y2, x1 y1))'
    from integer coordinate expressions — identical text in Spark and
    DuckDB. NULL when any coordinate is NULL: concat_ws skips NULL
    arguments, so without the guard a NULL x1 built 'POLYGON ((, 0 ...'.
    One string = one py4j parse (plan-BUILD cost; see
    dissolve.wkt_nums_sql)."""
    c = lambda v: f"cast({v} as string)"  # noqa: E731
    any_null = " OR ".join(f"({v}) IS NULL" for v in (x1, y1, x2, y2))
    return (f"CASE WHEN {any_null} THEN NULL ELSE concat_ws('', 'POLYGON ((', "
            f"{c(x1)}, ' ', {c(y1)}, ', ', "
            f"{c(x2)}, ' ', {c(y1)}, ', ', "
            f"{c(x2)}, ' ', {c(y2)}, ', ', "
            f"{c(x1)}, ' ', {c(y2)}, ', ', "
            f"{c(x1)}, ' ', {c(y1)}, '))') END")

def rect_wkt(x1, y1, x2, y2):
    """Column form of rect_wkt_sql; string args take the one-parse SQL
    path, Columns keep the operator-built tree."""
    if all(isinstance(v, str) for v in (x1, y1, x2, y2)):
        return F.expr(rect_wkt_sql(x1, y1, x2, y2))
    # concat (not concat_ws) is NULL when any argument is: the SQL form's
    # NULL guard
    return F.concat(
        F.lit("POLYGON (("),
        x1.cast("string"), F.lit(" "), y1.cast("string"), F.lit(", "),
        x2.cast("string"), F.lit(" "), y1.cast("string"), F.lit(", "),
        x2.cast("string"), F.lit(" "), y2.cast("string"), F.lit(", "),
        x1.cast("string"), F.lit(" "), y2.cast("string"), F.lit(", "),
        x1.cast("string"), F.lit(" "), y1.cast("string"),
        F.lit("))"),
    )

def land_use_areas(spark: SparkSession, sf_dir: str, wkt: bool = True, *,
                   spread: bool = True) -> DataFrame:
    """Fact table analog of core.land_use_areas: one rectangle per lineitem.

    Columns mirror the reference scan at spark_job/process_geodata.py:167:
    (region_id, season_id, land_type_id, property_id, land_geometry WKT)
    plus the raw integer rect coords (x1, y1, x2, y2) kept for closed-form
    oracle checks.

    spread: fan an under-split scan out across cores (sources.io
    .spread_scan). Callers that run per-row Python work before any
    exchange need it; a caller whose first step is a keyed exchange passes
    False, because that exchange already spreads the rows and a round-robin
    spread before it is a sorted shuffle that buys nothing.
    """
    # The driver testdata is a single-row-group parquet file, so the scan
    # yields ONE real split regardless of maxPartitionBytes; the downstream
    # geometry parse is CPU-bound, so fan out to all cores first (narrow
    # integer columns — the WKT strings are built *after* the exchange).
    # On a real multi-file table the scan splits natively and this exchange
    # is skipped.
    li = _rpc(spark, f"{sf_dir}/lineitem.parquet")
    df = li.selectExpr(
        f"cast(l_suppkey % {N_REGIONS} as bigint) AS region_id",
        "cast(CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2"
        " WHEN 'R' THEN 3 ELSE 0 END as bigint) AS season_id",
        "cast(CASE l_linestatus WHEN 'F' THEN 1 WHEN 'O' THEN 2"
        " ELSE 0 END as bigint) AS land_type_id",
        "cast(l_orderkey * 10 + l_linenumber as bigint) AS property_id",
        "cast(l_partkey % 100 as bigint) AS x1",
        "cast(l_suppkey % 100 as bigint) AS y1",
        "1 + cast(floor(l_quantity) as bigint) % 10 AS w",
        "1 + cast(floor(l_extendedprice / 1000) as bigint) % 10 AS h",
    ).selectExpr(
        "region_id", "season_id", "land_type_id", "property_id",
        "x1", "y1", "x1 + w AS x2", "y1 + h AS y2",
    )
    if spread:
        from ..sources.io import spread_scan

        df = spread_scan(df)
    if not wkt:
        # wkt=False: caller adds land_geometry AFTER its join. Catalyst can't
        # defer a projection across a join, so building the WKT here would
        # materialize ~90-char strings for every fact row even when a
        # bbox-covering fast path never reads them; built post-join, the
        # concat_ws collapses into the consumer's conditional and only the
        # slow-path rows pay for it.
        return df
    return df.withColumn(
        "land_geometry", rect_wkt("x1", "y1", "x2", "y2"),
    )

def geographic_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension analog of core.geographic_regions: a 10×5 grid of
    overlapping 15×15 cells spaced 12 apart (id 0..49 from supplier keys).
    Mirrors the reference scan at spark_job/process_geodata.py:173."""
    sup = _rpc(spark, f"{sf_dir}/supplier.parquet")
    out = sup.selectExpr(
        f"cast(s_suppkey % {N_REGIONS} as bigint) AS id"
    ).distinct().selectExpr(
        "id",
        f"id % 10 * {REGION_GRID_STEP} AS gx1",
        f"cast(floor(id / 10) as bigint) * {REGION_GRID_STEP} AS gy1",
    ).selectExpr(
        "id", "gx1", "gy1",
        f"gx1 + {REGION_SIZE} AS gx2",
        f"gy1 + {REGION_SIZE} AS gy2",
        rect_wkt_sql("gx1", "gy1", f"gx1 + {REGION_SIZE}",
                     f"gy1 + {REGION_SIZE}") + " AS region_geometry",
    )
    # 50-row dimension: persist it. Spark's CacheManager matches by
    # canonicalized plan, so every query building this same dimension
    # (crop, spatial joins, ST_* batches) reuses one in-memory copy instead
    # of re-running the supplier scan + distinct + its AQE waves (~0.4s
    # per query). This is ordinary dimension caching, not fixture-specific:
    # a production deployment would CACHE TABLE its region dim the same way.
    return out.persist()

def land_use_areas_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed variant of land_use_areas: every even orderkey
    lands in region 0, so one region holds ~50% of all parcels — the
    hot-key shape that breaks single-task grouped aggregation at scale.
    Used by the dissolve skew proof (test + bench): the combiner-based
    dissolve must survive this where a naive grouped-map serializes."""
    li = _rpc(spark, f"{sf_dir}/lineitem.parquet")
    df = li.selectExpr(
        "cast(CASE WHEN l_orderkey % 2 = 0 THEN 0"
        f" ELSE l_suppkey % {N_REGIONS} END as bigint) AS region_id",
        "cast(CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2"
        " WHEN 'R' THEN 3 ELSE 0 END as bigint) AS season_id",
        "cast(CASE l_linestatus WHEN 'F' THEN 1 WHEN 'O' THEN 2"
        " ELSE 0 END as bigint) AS land_type_id",
        "cast(l_orderkey * 10 + l_linenumber as bigint) AS property_id",
        "cast(l_partkey % 100 as bigint) AS x1",
        "cast(l_suppkey % 100 as bigint) AS y1",
        "1 + cast(floor(l_quantity) as bigint) % 10 AS w",
        "1 + cast(floor(l_extendedprice / 1000) as bigint) % 10 AS h",
    ).selectExpr(
        "region_id", "season_id", "land_type_id", "property_id",
        "x1", "y1", "x1 + w AS x2", "y1 + h AS y2",
    )
    from ..sources.io import spread_scan

    return spread_scan(df)

# --------------------------------------------------- DuckDB oracle CTE text

LAND_USE_CTE = """
land_use AS (
    SELECT
        l_suppkey % 50                                        AS region_id,
        CAST(CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2
                          WHEN 'R' THEN 3 ELSE 0 END AS BIGINT) AS season_id,
        CAST(CASE l_linestatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
                          ELSE 0 END AS BIGINT)               AS land_type_id,
        l_orderkey * 10 + l_linenumber                        AS property_id,
        l_partkey % 100                                       AS x1,
        l_suppkey % 100                                       AS y1,
        l_partkey % 100 + 1 + CAST(floor(l_quantity) AS BIGINT) % 10   AS x2,
        l_suppkey % 100 + 1 + CAST(floor(l_extendedprice / 1000) AS BIGINT) % 10 AS y2
    FROM lineitem
)
"""

LAND_USE_SKEWED_CTE = """
land_use AS (
    SELECT
        CASE WHEN l_orderkey % 2 = 0 THEN 0
             ELSE l_suppkey % 50 END                          AS region_id,
        CAST(CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2
                          WHEN 'R' THEN 3 ELSE 0 END AS BIGINT) AS season_id,
        CAST(CASE l_linestatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
                          ELSE 0 END AS BIGINT)               AS land_type_id,
        l_orderkey * 10 + l_linenumber                        AS property_id,
        l_partkey % 100                                       AS x1,
        l_suppkey % 100                                       AS y1,
        l_partkey % 100 + 1 + CAST(floor(l_quantity) AS BIGINT) % 10   AS x2,
        l_suppkey % 100 + 1 + CAST(floor(l_extendedprice / 1000) AS BIGINT) % 10 AS y2
    FROM lineitem
)
"""

REGIONS_CTE = """
regions AS (
    SELECT id, gx1, gy1, gx1 + 15 AS gx2, gy1 + 15 AS gy2
    FROM (
        SELECT DISTINCT s_suppkey % 50 AS id,
               (s_suppkey % 50) % 10 * 12                        AS gx1,
               CAST(floor((s_suppkey % 50) / 10) AS BIGINT) * 12 AS gy1
        FROM supplier
    )
)
"""
