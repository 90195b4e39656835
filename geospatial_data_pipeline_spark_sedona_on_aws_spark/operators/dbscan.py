"""Distributed DBSCAN — density-based spatial clustering over a point set.

Sedona 1.7 ships DBSCAN as its flagship spatial-statistics operator
(`sedona.stats.clustering.dbscan` — DataFrame in, per-point cluster
labels out). The reference pipeline itself never clusters
(spark_job/process_geodata.py is scan→overlay→aggregate), so this is
north-star parity with the Sedona surface a reference user has available,
re-expressed Spark-first.

Algorithm (classic DBSCAN, Ester et al. 1996), decomposed into shapes
that scale on a cluster:

1. **eps-neighbor pairs via grid bucketing** — never all-pairs: each
   point lands in ONE cell of an eps-sized grid and probes the 3×3
   neighborhood via an explode → EQUI-join on cell id (the same shape as
   knn_join_grid / geo_range_join). A candidate pair appears in exactly
   one (owner-cell, probe-cell) combination, so no dedup pass is needed.
   Hash-partitioned on cell id; a pathologically hot cell can reuse
   `spatial_join._cell_block_join`'s block spine (the r9 hot-cell
   decomposition) — the fixture's cells are bounded by construction.
2. **core points** — one count aggregate per point over its neighbor
   list: |N_eps(p)| >= MIN_PTS, counting p itself (the sklearn
   convention; PostGIS ST_ClusterDBSCAN counts the same way).
3. **core-core edges → connected components** — min-label propagation
   with pointer jumping (operators/graph.connected_components, the same
   O(log diameter) loop dedup_clusters uses). Cluster id = min core
   point id of the component (canonical, engine-independent).
4. **border assignment** — a non-core point within eps of >= 1 core
   point joins min(cluster of those cores). The textbook algorithm
   assigns borders to whichever core reaches them first (order-
   dependent); the min rule is the deterministic refinement, applied
   identically in the SQL oracle.
5. everything else is NOISE (cluster = -1).

Exactness: coordinates are integers and the eps test is an integer
squared-distance comparison (dist² <= EPS²) — no float fold anywhere,
so Spark and DuckDB agree bit-for-bit.

Fixture: the testdata has no point table, so points derive from
`events` arithmetically (the pagerank_links pattern): K = max(n/25, 1)
blob centers on a 40-unit grid (blobs cannot touch: jitter spans 13
units and EPS = 3 < 40 - 13), point i joins blob i mod K with a
deterministic jitter law, and every 4th point re-routes into the first
K/10 blobs so ~10% of blobs run ~4× denser (real density contrast for
DBSCAN and for getis_ord_hotspots' Gi* threshold, which shares this
law). Light blobs hold ~19 points per 13×13 box — the expected
eps-neighborhood (~19·π·EPS²/169 ≈ 3) straddles MIN_PTS, heavy blobs
(~80 points) are solid core — so every SF produces a real
core/border/noise mix (sf0.01: 6148/2082/1770 of 10000) with bounded
per-component size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.io import read_parquet_cached as _rpc, row_count
from pyspark.sql import functions as F

from .graph import connected_components

#: eps (integer units) and the minimum neighborhood size (incl. self).
EPS = 3
MIN_PTS = 5
#: points per blob — fixes per-component size at every SF.
BLOB = 25

def events_count(spark: SparkSession, sf_dir: str) -> int:
    """Memoized row count of events.parquet (footer metadata, exact)."""
    return row_count(spark, f"{sf_dir}/events.parquet")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic clustered point set from `events`: blob centers on a
    40-grid, ±10 jitter (shifted +10 so coordinates are non-negative —
    Spark's `div` truncates toward zero while DuckDB's `//` floors, so
    the cell law is only cross-engine exact on non-negative ints).

    r10: k derives from a driver-side memoized parquet row count (footer
    metadata, exact — the same count(*) the oracle computes) instead of
    a count-aggregate crossJoin, removing one job + broadcast exchange
    from every stats-trio call."""
    ev = _rpc(spark, f"{sf_dir}/events.parquet").select("event_id")
    n = events_count(spark, sf_dir)
    return (
        ev.selectExpr(
            "event_id AS id",
            f"greatest({n}L div {BLOB}, 1L) AS k",
        )
        .selectExpr(
            "id",
            # every 4th point piles into the first k/10 blobs: ~10% of
            # blobs run ~4x denser, so density-sensitive consumers (the
            # DBSCAN core test, the Gi* hot threshold) see real contrast
            "CASE WHEN id % 4 = 0"
            "     THEN (id % k) % greatest(k div 10, 1L)"
            "     ELSE id % k END AS blob",
            "id div k AS j",
        )
        .selectExpr(
            "id",
            "(blob % 1000) * 40 + ((j * 5 + id % 7) % 13) AS x",
            "(blob div 1000) * 40 + ((j * 7 + id % 11) % 13) AS y",
        )
    )

#: point count above which _neighbor_pairs switches to HALF-neighborhood
#: probing. Measured by same-process alternating A/B at sf1.0 (1M points:
#: 14.7 -> 11.6 s, the candidate build dominates) and sf0.1 (100k points:
#: 5.6 -> 6.2 s, the extra checkpoint write + union-swap overhead
#: dominates) — the crossover sits between, and the two spellings emit
#: the identical ordered pair set either way.
DBSCAN_HALF_MIN_N = 500_000

#: size gate for the per-point broadcast joins in spatial_dbscan (r13
#: optimization round); defaults to outlier.BROADCAST_MAX_ROWS (2M slim
#: rows ≈ 50 MB built) — the LOF gate this mirrors.
DBSCAN_BROADCAST_CONF = "spark.geoengine.dbscan.broadcastMaxN"


def _neighbor_pairs(pts: DataFrame,
                    _tasks_probe: list | None = None,
                    n_points: int = 0) -> DataFrame:
    """r13 (optimization round) adds a THIRD spelling ahead of the two
    spine spellings below: when the point count is known and fits the
    broadcast gate (`spark.geoengine.dbscan.broadcastMaxN`, default 2M
    slim rows), the cell equi-join runs as a BROADCAST hash join of the
    un-exploded point side into the 9×-exploded probe side — no
    collect_list, no per-cell arrays, no checkpoint, and the probe side
    never shuffles at all (guide §2.4: a broadcast join replaces the
    shuffle of the large side; §2.5: key skew cannot exist because
    nothing is hash-partitioned by cell). Candidate pairs stream through
    the codegen'd distance filter. The emitted ordered pair set is
    identical to both spine spellings (parity-pinned in
    tests/test_dbscan.py); above the gate the skew-proof block spine
    below is unchanged — that is the 100 TB shape.

    Spine spellings (pre-r13): (a, b) ordered pairs with
    0 < dist² <= EPS², via eps-grid cells,
    met through `spatial_join._cell_block_join`'s block spine (r10,
    closing the r9 hot-cell exposure): a pathologically dense eps-cell
    fans out into CELL_BLOCK-slice block-pair tasks instead of landing
    its whole |A|×|B| candidate cross product on the ONE task a plain
    hash equi-join would give that cell's key.

    r12 (sf1.0 attribution): above DBSCAN_HALF_MIN_N points, side B
    explodes to its own cell plus only the four DIRECTED offsets
    E/NE/N/NW, so every unordered cell pair with Chebyshev distance <= 1
    meets exactly once (the four offsets cover one of each antipodal
    neighbor pair; same-cell pairs keep one direction via a < b), and
    the ordered pair set is restored by a union-swap of the already-
    FILTERED pairs. That runs the candidate build, the collect_list
    shuffle, and the distance filter on 5/9 of the 3×3 spelling's volume
    — the measured dominant stages at sf1.0 — while the emitted ordered
    pair SET is identical, so the SQL oracle (which spells the plain 3×3
    probe join) is untouched. Below the threshold the swap's extra
    checkpoint write outweighs the saved candidates (measured) and the
    3×3 spelling stays."""
    from .spatial_join import _cell_block_join

    cells = pts.selectExpr(
        "id", "x", "y", f"x div {EPS} AS cx", f"y div {EPS} AS cy")
    a = cells.select(
        F.col("id").alias("a"), F.col("x").alias("ax"),
        F.col("y").alias("ay"), F.col("cx").alias("__cx"),
        F.col("cy").alias("__cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    from .outlier import BROADCAST_MAX_ROWS

    bc_limit = int(pts.sparkSession.conf.get(
        DBSCAN_BROADCAST_CONF, str(BROADCAST_MAX_ROWS)))
    if 0 < n_points <= bc_limit:
        # the broadcast join is narrow end-to-end, so without a shuffle
        # the 9×-exploded probe + distance filter would inherit the
        # parquet scan's split count (3 tasks at 1M points — measured
        # 16.1 s vs the spine's 14.8 s at sf1.0). One round-robin
        # exchange of the SLIM un-exploded rows (guide §2.3: shuffle
        # before the explode, 9× fewer bytes) restores full parallelism;
        # defaultParallelism keeps it core-count-adaptive rather than a
        # local[32] constant.
        par = pts.sparkSession.sparkContext.defaultParallelism
        b = (
            cells.repartition(par).select(
                F.col("id").alias("b"), F.col("x").alias("bx"),
                F.col("y").alias("by"),
                F.explode(F.expr("sequence(cx - 1, cx + 1)"))
                .alias("__cx"), "cy")
            .select("b", "bx", "by", "__cx",
                    F.explode(F.expr("sequence(cy - 1, cy + 1)"))
                    .alias("__cy"))
        )
        return (
            b.join(F.broadcast(a), ["__cx", "__cy"])
            .where((F.col("a") != F.col("b")) & (d2 <= EPS * EPS))
            .select("a", "b")
        )
    if n_points < DBSCAN_HALF_MIN_N:
        b = (
            cells.select(
                F.col("id").alias("b"), F.col("x").alias("bx"),
                F.col("y").alias("by"),
                F.explode(F.expr("sequence(cx - 1, cx + 1)"))
                .alias("__cx"), "cy")
            .select("b", "bx", "by", "__cx",
                    F.explode(F.expr("sequence(cy - 1, cy + 1)"))
                    .alias("__cy"))
        )
        return (
            _cell_block_join(a, ["a", "ax", "ay"], b, ["b", "bx", "by"],
                             _tasks_probe=_tasks_probe)
            .where((F.col("a") != F.col("b")) & (d2 <= EPS * EPS))
            .select("a", "b")
        )
    b = (
        cells.select(
            F.col("id").alias("b"), F.col("x").alias("bx"),
            F.col("y").alias("by"), "cx", "cy",
            F.explode(F.expr(
                "array(struct(0 AS dx, 0 AS dy),"
                " struct(1 AS dx, 0 AS dy), struct(1 AS dx, 1 AS dy),"
                " struct(0 AS dx, 1 AS dy), struct(-1 AS dx, 1 AS dy))"))
            .alias("__o"))
        .select("b", "bx", "by",
                F.expr("cx + __o.dx").alias("__cx"),
                F.expr("cy + __o.dy").alias("__cy"),
                ((F.col("__o.dx") == 0)
                 & (F.col("__o.dy") == 0)).alias("__own"))
    )
    half = (
        _cell_block_join(a, ["a", "ax", "ay"], b,
                         ["b", "bx", "by", "__own"],
                         _tasks_probe=_tasks_probe)
        .where((~F.col("__own") | (F.col("a") < F.col("b")))
               & (F.col("a") != F.col("b")) & (d2 <= EPS * EPS))
        .select("a", "b")
        # both union branches read this subtree: truncate once so the
        # candidate build + filter never evaluates twice
        .localCheckpoint(eager=False)
    )
    return half.unionByName(
        half.select(F.col("b").alias("a"), F.col("a").alias("b")))

def spatial_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point DBSCAN labeling: (id, x, y, n_neighbors, is_core,
    cluster) with cluster = min core id of the density-connected
    component, or -1 for noise. See the module docstring for the
    decomposition and the determinism contract."""
    # pts feeds the grid join and the final labeling join; nbr feeds the
    # degree count, the core-core edge filter, AND the border join —
    # truncate lineage once instead of replaying the count aggregate /
    # grid join per consumer (the triangle_count multi-consumer pattern)
    n_points = events_count(spark, sf_dir)
    # r13 (optimization round): every per-point frame below (deg, core,
    # labels, border) has ≤ n_points slim rows, but they sit behind
    # checkpointed RDDs with no stats, so Spark was joining them as
    # SortMergeJoins — shuffling the (much larger) nbr pair frame and
    # the point table per join. Under the LOF-style size gate they
    # broadcast instead (guide §3.1); beyond it the shuffle joins stay
    # (the 100 TB shape). Same gate family as
    # spark.geoengine.lof.broadcastMaxRows.
    from .outlier import BROADCAST_MAX_ROWS

    limit = int(spark.conf.get(DBSCAN_BROADCAST_CONF,
                               str(BROADCAST_MAX_ROWS)))
    hint = F.broadcast if n_points <= limit else (lambda df: df)
    pts = _points(spark, sf_dir).localCheckpoint(eager=False)
    # nbr is EAGER (r13 optimization round): its consumers (deg, the CC
    # edge filter, border, the final labeling) reach it through
    # broadcast-exchange jobs that Spark launches CONCURRENTLY — with a
    # lazy checkpoint they race before it materializes and each replays
    # the whole candidate build (stage attribution: four ~0.4 s stages
    # each carrying the full pair-build CPU). Eager materializes the
    # pair set exactly once, before any consumer job starts.
    nbr = _neighbor_pairs(
        pts, n_points=n_points
    ).localCheckpoint(eager=True)
    # deg is also eager: its consumers (core's semi-join broadcasts, the
    # final labeling broadcast) launch as concurrent broadcast jobs that
    # would otherwise race a lazy checkpoint and replay the nbr-scan +
    # count aggregate each (same rationale as nbr above)
    deg = nbr.groupBy("a").agg(F.count("*").alias("nn")) \
             .localCheckpoint(eager=True)  # core filter + final readback
    core = deg.where(F.col("nn") >= MIN_PTS - 1) \
              .select(F.col("a").alias("id")).localCheckpoint(eager=False)
    core_a = core.select(F.col("id").alias("a"))
    core_b = core.select(F.col("id").alias("b"))
    core_edges = (
        nbr.join(hint(core_a), "a", "left_semi")
        .join(hint(core_b), "b", "left_semi")
    )
    # grid pairs are unique by construction (each candidate pair appears
    # in exactly one owner/probe cell combination) and BOTH directions of
    # every pair are present (the probe is symmetric) — so CC can skip
    # both the symmetrize union and the distinct (r13: symmetric=True
    # replaces the old `a < b` one-direction filter + re-union, saving a
    # second scan of nbr); the vertex count is bounded by the point
    # count, which gates CC's internal label broadcasts without a count
    # job
    comp = connected_components(core_edges, "a", "b", unique_edges=True,
                                symmetric=True, n_nodes_bound=n_points)
    # isolated cores (no core neighbor) are their own cluster
    labels = (
        core.join(hint(comp), core["id"] == comp["node"], "left")
        .select("id", F.coalesce("comp", "id").alias("comp"))
        .localCheckpoint(eager=False)  # consumed by core AND border joins
    )
    border = (
        nbr.join(hint(labels.withColumnRenamed("id", "b")), "b")
        .join(hint(core_a), "a", "left_anti")
        .groupBy("a").agg(F.min("comp").alias("bcomp"))
    )
    return (
        pts.join(hint(deg.select(F.col("a").alias("id"),
                                 F.col("nn").alias("n_neighbors"))),
                 "id", "left")
        .join(hint(labels.withColumnRenamed("comp", "ccomp")), "id", "left")
        .join(hint(border.withColumnRenamed("a", "id")), "id", "left")
        .select(
            "id", "x", "y",
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            F.col("ccomp").isNotNull().alias("is_core"),
            F.coalesce("ccomp", "bcomp", F.lit(-1)).alias("cluster"),
        )
    )

SPATIAL_DBSCAN_ORACLE = f"""
WITH RECURSIVE params AS (
    SELECT greatest(count(*) // {BLOB}, 1) AS k FROM events
),
pts AS (
    SELECT event_id AS id,
           (blob % 1000) * 40
               + ((event_id // k * 5 + event_id % 7) % 13) AS x,
           (blob // 1000) * 40
               + ((event_id // k * 7 + event_id % 11) % 13) AS y
    FROM (
        SELECT event_id, k,
               CASE WHEN event_id % 4 = 0
                    THEN (event_id % k) % greatest(k // 10, 1)
                    ELSE event_id % k END AS blob
        FROM events CROSS JOIN params
    )
),
cells AS (
    SELECT id, x, y, x // {EPS} AS cx, y // {EPS} AS cy FROM pts
),
probe AS (
    SELECT c.id, c.x, c.y, c.cx + tx.dx AS px, c.cy + ty.dy AS py
    FROM cells c, unnest([-1, 0, 1]) AS tx(dx), unnest([-1, 0, 1]) AS ty(dy)
),
nbr AS (
    SELECT a.id AS a, b.id AS b
    FROM cells a JOIN probe b ON a.cx = b.px AND a.cy = b.py
    WHERE a.id <> b.id
      AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {EPS * EPS}
),
deg AS (SELECT a AS id, count(*) AS nn FROM nbr GROUP BY a),
core AS (SELECT id FROM deg WHERE nn >= {MIN_PTS - 1}),
core_edges AS (
    SELECT n.a, n.b FROM nbr n
    JOIN core ca ON ca.id = n.a
    JOIN core cb ON cb.id = n.b
    WHERE n.a < n.b
),
edges AS (
    SELECT a, b FROM core_edges UNION SELECT b AS a, a AS b FROM core_edges
),
reach AS (
    SELECT id AS node, id AS comp FROM core
    UNION
    SELECT e.a AS node, r.comp FROM reach r JOIN edges e ON e.b = r.node
),
labels AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
border AS (
    SELECT n.a AS id, min(l.comp) AS bcomp
    FROM nbr n JOIN labels l ON l.node = n.b
    WHERE n.a NOT IN (SELECT id FROM core)
    GROUP BY n.a
)
SELECT p.id, p.x, p.y,
       CAST(coalesce(d.nn, 0) AS BIGINT) AS n_neighbors,
       l.comp IS NOT NULL AS is_core,
       coalesce(l.comp, bo.bcomp, -1) AS cluster
FROM pts p
LEFT JOIN deg d ON d.id = p.id
LEFT JOIN labels l ON l.node = p.id
LEFT JOIN border bo ON bo.id = p.id
"""
