"""Local Outlier Factor — k-NN density-based outlier scoring.

Sedona 1.7 ships this as `sedona.stats.outlier_detection.
local_outlier_factor` (Breunig et al. 2000). The reference has no
statistics surface; this completes the engine's parity with Sedona's
stats trio (DBSCAN — operators/dbscan.py, Gi* — operators/hotspot.py,
LOF — here), each as an oracle-checked DataFrame query.

Algorithm, re-expressed in shapes that scale:

1. **3×3 neighborhood groups** on the 40-unit blob grid: each point
   explodes into the 9 cells whose neighborhood it belongs to, and the
   whole computation runs as per-cell-group int64 numpy matrices
   (mapInPandas over cell-sorted partitions) — the candidate PAIR SET
   never materializes. The
   point law bounds every point's k-distance ball inside the 3×3
   neighborhood (worst-case 5-NN radius < 30 < cell edge 40 — see the
   law note), so the group provably contains every true neighbor:
   exact k-NN without an all-pairs stage.
2. **k-distance** (k = {K}) per point: the {K}-th smallest d² of the
   group's distance row (np.partition; duplicates counted — the value
   the oracle's (dist², neighbor id) ranking produces at rank {K}).
3. **reachability / lrd / LOF** with the INTEGER-QUANTIZED arithmetic
   the engine uses wherever a float fold would cross a shuffle
   (pagerank_links, bm25): the metric is squared euclidean distance
   (integer), reach²(p,o) = max(kdist²(o), d²(p,o), 1) — the max(…,1)
   regularizes coincident points, which the jitter law does produce —
   lrd_q(p) = |N(p)|·SCALE div Σreach², and
   LOF_q(p) = Σ_o lrd_q(o) · Σreach²(p) div |N(p)|², i.e. LOF × SCALE
   in pure BIGINT ops. Deterministic at any parallelism, bit-equal in
   DuckDB. (Squared-distance LOF ranks identically to classic LOF on
   uniform-density neighborhoods and is the price of exactness; the
   quantization error is ≤ |N| / SCALE, invisible at SCALE = 1e9.)

Fixture: the dbscan/hotspot point law plus a +15 x-shift for every
97th point — those land in the empty corridor between blobs (blob span
13, spacing 40), the textbook LOF outlier. N_k uses ALL points within
the k-distance (ties included), per the original paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dbscan import _points

K = 5
SCALE = 10 ** 9
#: blob-grid edge (the point-law spacing): one blob per cell
GRID = 40
#: the point-law bound behind the 3x3-probe exactness claim: worst
#: 5-NN radius < 30 (every point has >= K blob-mates within
#: d2 <= 27^2 + 12^2 = 873, the corridor-outlier worst case), i.e.
#: kdist2 < 900 < GRID^2 always. Asserted directly on the unpruned
#: candidate set at the driver-gate sf (tests/test_outlier.py::
#: test_prune_bound_law_at_gate_sf) and implied by the all-pairs
#: brute-force parity test.
PRUNE_D2 = 900
#: neighborhood-matrix tile edge (r10): every distance-matrix pass runs
#: over TILE x TILE int64 tiles with additive accumulators, so a dense
#: real-world cell costs O(TILE^2) peak per task (~8 MB) instead of
#: O(|cell|^2) — the group's narrow rows are still held once (the same
#: bounded-hold contract as dedup._bucket_pairs / _cell_block_join).
#: At the fixture's cell sizes a group is a single tile, so the tiled
#: and whole-matrix arithmetic are literally the same numpy calls.
TILE = 1024
#: above this many points the two per-point frames (kdist, lrd) stop
#: being broadcast and join as shuffle joins on id — the docstring's
#: "swap the broadcasts at scale" remedy made real (r10). Override with
#: the conf key for tests / tuning; 2M slim rows ~= 50 MB serialized,
#: safely under a 1000-executor broadcast budget.
BROADCAST_MAX_ROWS = 2_000_000
BROADCAST_CONF = "spark.geoengine.lof.broadcastMaxRows"
#: shared with dbscan._points: one memoized footer count per events file
#: across the whole stats trio.
from .dbscan import events_count  # noqa: E402

def _lof_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats point law with every 97th point pushed +15 in x: off
    the blob (span 0..12) into the inter-blob corridor, still within
    one grid cell of its neighbors (27 + jitter < 40)."""
    return _points(spark, sf_dir).selectExpr(
        "id",
        "x + CASE WHEN id % 97 = 0 THEN 15 ELSE 0 END AS x",
        "y",
    )

def local_outlier_factor(spark: SparkSession, sf_dir: str,
                         _stage: str | None = None) -> DataFrame:
    """(id, n_k, kdist2, lof_q, is_outlier): integer-quantized LOF with
    k = 5 over the blob point law; lof_q ≈ LOF × 1e9, outliers flagged
    at LOF > 1.5.

    Execution shape (r9 s2 rewrite): the candidate PAIR SET never
    materializes. Each point explodes into the 9 cells whose 3×3
    neighborhood it belongs to (900k narrow rows at sf0.1, one shuffle)
    and each cell group computes its OWN points' values against the
    whole neighborhood as one int64 numpy distance matrix — TWO
    Python matrix passes (kdist → lrd), each consuming the same re-used
    exploded frame plus the previous pass's 100k-row output as a
    BROADCAST join. r13 (optimization round): the passes stream whole
    SORTED partitions through mapInPandas and loop the contiguous cell
    groups inside Python — the old applyInPandas protocol shipped one
    Arrow batch per ~225-row cell group (40k round trips at sf1.0;
    measured ~95% of the stage task time blocked on them), while the
    per-cell numpy math is byte-identical. Measured: sf0.1 4.9 → 3.05 s,
    sf1.0 24.7 → 12.4 s. The lrd pass also emits each point's N_k member-id
    list (~K+ties longs), so the final LOF stage is a plain explode +
    equi-join + int64 sum — NO third distance-matrix pass (r11: the old
    third pass re-shuffled the 9× frame and recomputed every tile just
    to sum neighbors' lrd values; measured 17.9 s of the 36 s sf1.0
    total). Integer sums are order-free-exact, so the aggregation
    commutes with any partitioning. The r9 join-based plan before that
    materialized the 8.2M-pair candidate frame and shuffled it three
    times (~5 s of its 9.8 s at sf0.1). All arithmetic is int64
    (squared distances, SCALE-quantized divisions) — bit-equal to the
    pairwise SQL oracle by construction; pinned by the all-pairs
    brute-force test.

    100 TB (r10 hardening): the per-point frames (kdist, lrd) broadcast
    only while the point count stays under BROADCAST_MAX_ROWS (conf
    `spark.geoengine.lof.broadcastMaxRows`); beyond it they join as
    plain shuffle joins on id — same plan shape, no OOM cliff. The
    neighborhood matrices run as TILE×TILE tiles with additive
    accumulators, so a dense real-world cell (city-center points) costs
    O(TILE²) peak per task, not O(|cell|²); a neighborhood with ≤ K
    total points (a fixture-law drift) raises a descriptive error
    instead of silently folding the self-distance sentinel into N_k."""
    import numpy as np
    import pandas as pd

    pts = _lof_points(spark, sf_dir)
    # size gate for the two per-point joins below: parquet row count is
    # footer metadata (no scan), one cheap driver action, memoized
    n_points = events_count(spark, sf_dir)
    limit = int(spark.conf.get(BROADCAST_CONF, str(BROADCAST_MAX_ROWS)))
    hint = F.broadcast if n_points <= limit else (lambda df: df)
    # r13 (optimization round): the events scan is a single split, so the
    # whole point-law + 9× explode chain ahead of the cell exchange ran
    # on ONE task (narrow chains inherit the scan's split count) and the
    # exchange's map side serialized 9× rows serially. One round-robin
    # exchange of the SLIM un-exploded rows first (guide §2.3: shuffle
    # before the explode, 9× fewer bytes) parallelizes both; it sits
    # inside the checkpointed subtree, so the live-plan single-exchange
    # contract is unchanged. Measured sf0.1: ex stage 2.62 → ~1 s.
    par = spark.sparkContext.defaultParallelism
    ex = (
        pts.repartition(par)
        .selectExpr("id", "x", "y",
                    f"x div {GRID} AS cx", f"y div {GRID} AS cy")
        .selectExpr("id", "x", "y", "cx", "cy",
                    "explode(sequence(cx - 1, cx + 1)) AS px")
        .selectExpr("id", "x", "y", "cx", "cy", "px",
                    "explode(sequence(cy - 1, cy + 1)) AS py")
        .selectExpr("id", "x", "y", "px", "py",
                    "px = cx AND py = cy AS own")
        # hash-partition by cell ONCE: localCheckpoint preserves
        # outputPartitioning, the broadcast kd join preserves the
        # streamed side's, so BOTH matrix passes consume this single
        # exchange instead of re-shuffling the 9x frame each
        # (r11; plan-asserted by test_lof_single_cell_exchange).
        # r13 (optimization round): rows are additionally SORTED by cell
        # within each partition so the matrix passes can run as
        # mapInPandas over whole partitions (cell groups are contiguous,
        # at most one group straddles an Arrow batch boundary) — the old
        # applyInPandas protocol shipped ONE Arrow batch per ~225-row
        # cell group (4k groups at sf0.1, 40k at sf1.0; measured: the
        # two Python stages spent ~95% of task time blocked on the
        # per-group round trips, 46-55 s sumRun vs ~3 s CPU).
        .repartition(F.col("px"), F.col("py"))
        .sortWithinPartitions("px", "py")
        .localCheckpoint(eager=False)  # reused by both matrix passes
    )

    def _per_cell(batches, cell_fn):
        """Stream whole-partition Arrow batches, apply cell_fn to each
        contiguous (px, py) group — identical math, amortized crossings.
        Only the (possibly batch-straddling) tail group is carried."""
        import pandas as pd

        tail = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
                tail = None
            if not len(pdf):
                continue
            lp, lq = pdf["px"].iat[-1], pdf["py"].iat[-1]
            is_tail = (pdf["px"] == lp) & (pdf["py"] == lq)
            tail = pdf.loc[is_tail]
            body = pdf.loc[~is_tail]
            outs = [out for _, g in body.groupby(["px", "py"], sort=False)
                    for out in (cell_fn(None, g),) if len(out)]
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if tail is not None and len(tail):
            out = cell_fn(None, tail)
            if len(out):
                yield out

    SENT = np.iinfo(np.int64).max

    def _group(pdf):
        """One 3×3 cell group unpacked to numpy: (own ids/coords, all
        ids/coords). Raises when the whole neighborhood holds ≤ K
        points — then no point in it has K real neighbors and the
        self-distance sentinel would silently leak into kdist2/N_k
        (the fixture point law guarantees > K; a drift fails loudly)."""
        own = pdf[pdf["own"]]
        ids = pdf["id"].to_numpy(np.int64)
        X = pdf[["x", "y"]].to_numpy(np.int64)
        if len(ids) <= K:
            raise ValueError(
                f"LOF neighborhood with {len(ids)} point(s) <= K={K}: "
                "the 3x3-probe point law is violated (every point must "
                "have >= K neighbors inside its 3x3 cell neighborhood)")
        oid = own["id"].to_numpy(np.int64)
        O = own[["x", "y"]].to_numpy(np.int64)
        return oid, O, ids, X

    def _d2_tile(Or, oidr, Xc, idsc):
        """Squared-distance tile of own-rows × neighborhood-cols;
        self-distances masked to the int64 max sentinel (excluded from
        every <= comparison and every k-smallest selection)."""
        d2 = ((Or[:, 0, None] - Xc[None, :, 0]) ** 2
              + (Or[:, 1, None] - Xc[None, :, 1]) ** 2)
        d2[oidr[:, None] == idsc[None, :]] = SENT
        return d2

    def kd_fn(_key, pdf):
        if pdf[pdf["own"]].empty:
            return pd.DataFrame({"id": [], "kdist2": []})
        oid, O, ids, X = _group(pdf)
        if len(oid) <= TILE and len(ids) <= TILE:
            # single-tile group (every fixture group): partition the
            # matrix directly — same values, no merge-buffer copy
            d2 = _d2_tile(O, oid, X, ids)
            return pd.DataFrame(
                {"id": oid,
                 "kdist2": np.partition(d2, K - 1, axis=1)[:, K - 1]})
        kdist2 = np.empty(len(oid), np.int64)
        for r0 in range(0, len(oid), TILE):
            Or, oidr = O[r0:r0 + TILE], oid[r0:r0 + TILE]
            # running K smallest d2 per own row, merged tile by tile;
            # K-th smallest counts duplicates — identical to the K-th
            # row of the (d2, id)-ordered ranking (tie order never
            # changes the K-th VALUE)
            best = np.full((len(oidr), K), SENT, np.int64)
            for c0 in range(0, len(ids), TILE):
                d2 = _d2_tile(Or, oidr, X[c0:c0 + TILE], ids[c0:c0 + TILE])
                cat = np.concatenate([best, d2], axis=1)
                best = np.partition(cat, K - 1, axis=1)[:, :K]
            kdist2[r0:r0 + len(oidr)] = best[:, K - 1]
        return pd.DataFrame({"id": oid, "kdist2": kdist2})

    kd = (
        ex.mapInPandas(
            lambda it: _per_cell(it, kd_fn),
            "id long, kdist2 long")
        .localCheckpoint(eager=False)
    )

    ex_kd = ex.join(hint(kd), "id")
    if n_points > limit:
        # r14 (ADVICE r13, high): on the non-broadcast path the kd join
        # plans as a shuffle join keyed on id, which re-partitions and
        # re-sorts the 9x frame by id — destroying the cell-contiguity
        # contract the lrd _per_cell pass requires (a fragmented cell
        # with > K rows per fragment would yield silently wrong
        # n_k/lrd/LOF; <= K raises the point-law error). Restore the
        # contract with one extra exchange + in-partition sort — only on
        # the 10^10-point path, where one more slim-row shuffle is noise
        # next to the matrix passes.
        ex_kd = (ex_kd.repartition(F.col("px"), F.col("py"))
                 .sortWithinPartitions("px", "py"))

    def lrd_fn(_key, pdf):
        """lrd pass, r11-fused: besides (n_k, sum_reach2, lrd_q) it emits
        each own point's N_k MEMBER LIST (neighbor ids, ties included) —
        ~(K + ties) longs per point — so the LOF stage needs no third
        distance-matrix pass: Σ_o lrd_q(o) is an explode + equi-join +
        integer sum, which is order-free-exact in int64 (no overflow:
        lrd_q <= SCALE, |N_k| is neighborhood-bounded)."""
        own = pdf[pdf["own"]]
        if own.empty:
            return pd.DataFrame({"id": [], "n_k": [], "kdist2": [],
                                 "sum_reach2": [], "lrd_q": [],
                                 "nbrs": pd.Series([], dtype=object)})
        oid, O, ids, X = _group(pdf)
        okd = own["kdist2"].to_numpy(np.int64)
        nkd = pdf["kdist2"].to_numpy(np.int64)
        n_k = np.zeros(len(oid), np.int64)
        sum_reach2 = np.zeros(len(oid), np.int64)
        nbrs: list = [[] for _ in range(len(oid))]
        for r0 in range(0, len(oid), TILE):
            r1 = min(r0 + TILE, len(oid))
            for c0 in range(0, len(ids), TILE):
                idsc = ids[c0:c0 + TILE]
                d2 = _d2_tile(O[r0:r1], oid[r0:r1],
                              X[c0:c0 + TILE], idsc)
                in_nk = d2 <= okd[r0:r1, None]   # N_k(p): ties included
                reach2 = np.maximum(
                    np.maximum(nkd[c0:c0 + TILE][None, :], d2), 1)
                n_k[r0:r1] += in_nk.sum(axis=1)
                sum_reach2[r0:r1] += np.where(in_nk, reach2, 0).sum(
                    axis=1, dtype=np.int64)
                # r13 (optimization round): one vectorized nonzero +
                # split per tile instead of a per-row Python loop with
                # tolist() (guide §4.2 — whole-batch numpy, no
                # row-at-a-time work). np.nonzero is row-major, so the
                # per-row member order (idsc ascending within a tile,
                # tiles in c0 order) is unchanged.
                rr, cc = np.nonzero(in_nk)
                if len(rr):
                    counts = np.bincount(rr, minlength=r1 - r0)
                    for r, arr in enumerate(np.split(
                            idsc[cc], np.cumsum(counts)[:-1])):
                        if len(arr):
                            nbrs[r0 + r].append(arr)
        lrd_q = n_k * SCALE // sum_reach2
        nbrs_col = [np.concatenate(ch) if ch else
                    np.empty(0, np.int64) for ch in nbrs]
        return pd.DataFrame({"id": oid, "n_k": n_k, "kdist2": okd,
                             "sum_reach2": sum_reach2, "lrd_q": lrd_q,
                             "nbrs": nbrs_col})

    lrd = (
        ex_kd.mapInPandas(
            lambda it: _per_cell(it, lrd_fn),
            "id long, n_k long, kdist2 long, sum_reach2 long,"
            " lrd_q long, nbrs array<long>")
        .localCheckpoint(eager=False)
    )

    if _stage == "ex":
        return ex
    if _stage == "kd":
        return kd
    if _stage == "lrd":
        return lrd
    # LOF: Σ_o∈N_k(p) lrd_q(o) via explode + join + sum — all int64, so
    # any aggregation order is bit-exact; the lrd frame broadcasts under
    # the same size gate as the kd join (shuffle join beyond it)
    pairs = lrd.select("id", "n_k", "kdist2", "sum_reach2",
                       F.explode("nbrs").alias("o"))
    lrd_o = lrd.select(F.col("id").alias("o"),
                       F.col("lrd_q").alias("lrd_q_o"))
    return (
        pairs.join(hint(lrd_o), "o")
        .groupBy("id", "n_k", "kdist2", "sum_reach2")
        .agg(F.sum("lrd_q_o").alias("sum_lrd_o"))
        .selectExpr(
            "id", "n_k", "kdist2",
            "sum_lrd_o * sum_reach2 div (n_k * n_k) AS lof_q")
        .selectExpr("id", "n_k", "kdist2", "lof_q",
                    f"lof_q > {SCALE}L * 3L div 2L AS is_outlier")
    )

LOCAL_OUTLIER_FACTOR_ORACLE = f"""
WITH params AS (
    SELECT greatest(count(*) // 25, 1) AS k FROM events
),
base AS (
    SELECT event_id, k,
           CASE WHEN event_id % 4 = 0
                THEN (event_id % k) % greatest(k // 10, 1)
                ELSE event_id % k END AS blob
    FROM events CROSS JOIN params
),
pts AS (
    SELECT event_id AS id,
           (blob % 1000) * 40
               + ((event_id // k * 5 + event_id % 7) % 13)
               + CASE WHEN event_id % 97 = 0 THEN 15 ELSE 0 END AS x,
           (blob // 1000) * 40
               + ((event_id // k * 7 + event_id % 11) % 13) AS y
    FROM base
),
cells AS (
    SELECT id, x, y, x // {GRID} AS cx, y // {GRID} AS cy FROM pts
),
probe AS (
    SELECT c.id, c.x, c.y, c.cx + tx.dx AS px, c.cy + ty.dy AS py
    FROM cells c, unnest([-1, 0, 1]) AS tx(dx), unnest([-1, 0, 1]) AS ty(dy)
),
cand AS (
    SELECT a.id AS a, b.id AS b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
    FROM cells a JOIN probe b ON a.cx = b.px AND a.cy = b.py
    WHERE a.id <> b.id
),
ranked AS (
    SELECT a, b, d2,
           row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rn
    FROM cand
),
kd AS (
    SELECT a, max(d2) AS kdist2 FROM ranked WHERE rn <= {K} GROUP BY a
),
nk AS (
    SELECT c.a, c.b,
           greatest(greatest(kb.kdist2, c.d2), 1) AS reach2
    FROM cand c
    JOIN kd ka ON ka.a = c.a AND c.d2 <= ka.kdist2
    JOIN kd kb ON kb.a = c.b
),
lrd AS (
    SELECT a, count(*) AS n_k, sum(reach2) AS sum_reach2,
           (count(*) * {SCALE}) // sum(reach2) AS lrd_q
    FROM nk GROUP BY a
)
SELECT n.a AS id,
       CAST(l.n_k AS BIGINT) AS n_k,
       CAST(k.kdist2 AS BIGINT) AS kdist2,
       CAST((sum(lo.lrd_q) * l.sum_reach2) // (l.n_k * l.n_k) AS BIGINT)
           AS lof_q,
       (sum(lo.lrd_q) * l.sum_reach2) // (l.n_k * l.n_k)
           > CAST({SCALE} AS BIGINT) * 3 // 2 AS is_outlier
FROM nk n
JOIN lrd lo ON lo.a = n.b
JOIN lrd l ON l.a = n.a
JOIN kd k ON k.a = n.a
GROUP BY n.a, l.n_k, l.sum_reach2, k.kdist2
"""
