"""Similarity search over the `embeddings` table (array<float> column):
brute-force cosine top-k baseline + an LSH-bucketed ANN variant for the scale
path (north-star extension, BASELINE.json).

Determinism contract with the DuckDB oracle: dot products are computed as a
*sequential left fold* over the vector in both engines (Spark
F.aggregate(F.zip_with(...)), DuckDB list_reduce) — identical IEEE-754
operation order → bitwise-identical doubles, no tolerance needed.

Scale design: the brute-force path broadcasts the (small) query side and
keeps the candidate side partitioned — at 100 TB you'd cap the query batch
and let candidates stream. The LSH path buckets both sides first so the join
never goes all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..sources.io import read_parquet_cached as _rpc, row_count
from pyspark.sql import functions as F

TOPK = 10
N_QUERY_VECS = 100  # brute-force path: the N lowest vec_ids are the queries
LSH_TOPK = 5

#: Adaptive plane count (r12, VERDICT r11 item 2): at a FIXED plane count
#: the bucket self-join is quadratic — expected pairs ∝ probes·n²/2^P, and
#: the r11 sweep measured embedding_lsh_ann at 30×/decade (0.89 s sf0.1 →
#: 26.7 s sf1.0). The remedy documented in SCALING.md: grow P with log n so
#: expected bucket occupancy n/2^P stays ≤ LSH_TARGET_OCC — then pairs per
#: probe ∝ n·occ is LINEAR in n and only the probe count (3P+1 ∝ log n)
#: grows. The law is an INTEGER threshold ladder (smallest P in
#: [MIN, MAX] with TARGET_OCC·2^P >= n), not float log2, so the Python
#: engine and the SQL oracle can never disagree at a boundary.
#: TARGET_OCC = 8 keeps P = 8 at sf0.1 (n = 2000) — the measured
#: recall/latency point of r11 is unchanged there.
LSH_MIN_PLANES = 4
LSH_MAX_PLANES = 16
LSH_TARGET_OCC = 8
#: corpus-arm scorer switch: above this n the Arrow cogroup scorer wins
#: (r12 measurement at n=20k: 6.4 s vs 11.8 s HOF); below it the JVM HOF
#: fold wins (Python worker round-trip dominates small pair counts)
LSH_ARROW_MIN_N = 4000


def lsh_planes_for(n: int) -> int:
    """Smallest plane count P in [LSH_MIN_PLANES, LSH_MAX_PLANES] with
    LSH_TARGET_OCC · 2^P >= n (expected occupancy stays ≤ TARGET_OCC)."""
    p = LSH_MIN_PLANES
    while p < LSH_MAX_PLANES and (LSH_TARGET_OCC << p) < n:
        p += 1
    return p


#: the same ladder as literal SQL (generated from the same loop bounds, so
#: the two spellings are one law)
LSH_PLANES_SQL = ("CASE " + " ".join(
    f"WHEN n <= {LSH_TARGET_OCC << p} THEN {p}"
    for p in range(LSH_MIN_PLANES, LSH_MAX_PLANES)
) + f" ELSE {LSH_MAX_PLANES} END")

def emb_count(spark: SparkSession, sf_dir: str) -> int:
    """Memoized row count of embeddings.parquet (footer metadata, exact)."""
    return row_count(spark, f"{sf_dir}/embeddings.parquet")


#: spread floor: at least this many embedding rows per task. A tiny
#: corpus fanned to every core puts ~60 rows in each Python round trip —
#: all fixed overhead (guide §4.2: keep batches big enough to amortize
#: the crossing; §2.2: fewer, larger partitions). At n/256 ≥ cores the
#: spread still reaches full parallelism, so the 100 TB shape is
#: unchanged; only overhead-dominated small inputs get fewer, meatier
#: tasks. r13 optimization round.
EMB_ROWS_PER_TASK = 256


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan, re-spread across cores ONLY if the source
    under-splits (the testdata is a single row group → one split, which
    would put every pairwise-dot stage on one core; a real table arrives
    in many splits and spread_scan leaves it untouched). The spread
    width is row-aware: full parallelism once every task holds at least
    EMB_ROWS_PER_TASK rows, fewer tasks below that."""
    from ..sources.io import spread_scan

    n = emb_count(spark, sf_dir)
    cores = spark.sparkContext.defaultParallelism
    width = max(1, min(cores, -(-n // EMB_ROWS_PER_TASK)))
    df = _rpc(spark, f"{sf_dir}/embeddings.parquet")
    if width >= cores:
        return spread_scan(df)
    from ..sources.io import _scan_partitions

    return df if _scan_partitions(df) >= width else df.repartition(width)

EMBED_DIM = 64

#: plane → 1-based embedding dim. Planes 0-7 keep the historical stride-8
#: law (dims 1, 9, ... 57) so every P <= 8 bucket is bit-identical to the
#: fixed-plane engine; planes 8-15 interleave the odd stride-8 offsets
#: (dims 5, 13, ... 61).
LSH_PLANE_DIMS = tuple(
    p * 8 + 1 if p < 8 else (p - 8) * 8 + 5 for p in range(LSH_MAX_PLANES)
)

def _prefix_rows(spark: SparkSession, sf_dir: str, n: int, rows=None):
    """The (vec_id < n) query/codebook prefix as collected rows. When a
    caller already holds a WIDER prefix from this same invocation (r14:
    ann_recall_at_k's four arms each collected an overlapping prefix of
    the same scan — four driver jobs for one 100-row batch), slice it
    client-side instead of re-collecting: same rows, same order (the
    slice preserves the shared collect's scan order, which is the order
    the narrower collect would produce from the identical plan). This
    shares work WITHIN one invocation only — every query invocation
    still collects from the parquet scan; nothing persists across runs."""
    if rows is not None:
        return [r for r in rows if r.vec_id < n]
    return (
        _emb(spark, sf_dir).where(F.col("vec_id") < n)
        .select("vec_id", "embedding").collect()
    )


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (HOF aggregate over zip_with) —
    the exact IEEE-754 left-to-right order the DuckDB oracles replicate
    with list_reduce. (An unrolled straight-line variant existed through
    r4 but no live path used it — removed r5 rather than carry an
    untested performance claim.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

def _fold_dots(C, Q):
    """(n, d) × (m, d) cosine numerators/denominators with *left-fold*
    accumulation order per dimension — each `acc = acc + term_i` is one
    IEEE-754 double add in the same sequence as the SQL fold, so results are
    bitwise-identical to the DuckDB oracle while running as d vectorized
    numpy ops instead of n·m·d interpreted expression evals."""
    import numpy as np

    n, d = C.shape
    m = Q.shape[0]
    dots = np.zeros((n, m))
    cn = np.zeros(n)
    qn = np.zeros(m)
    for i in range(d):
        dots = dots + np.multiply.outer(C[:, i], Q[:, i])
        cn = cn + C[:, i] * C[:, i]
        qn = qn + Q[:, i] * Q[:, i]
    return dots, np.sqrt(cn), np.sqrt(qn)

def topk_cosine(spark: SparkSession, sf_dir: str, _rows=None) -> DataFrame:
    """Exact top-10 cosine neighbors for each of the 100 lowest vec_ids,
    searched against the full table.

    Execution shape: the bounded query batch (N_QUERY_VECS vectors) is
    collected and closure-broadcast; candidates stream through an
    Arrow-batched mapInPandas that computes all query sims per batch as d
    vectorized numpy ops (the Column-expression form lands in a
    BroadcastNestedLoopJoin projection that is NOT whole-stage-codegen'd —
    interpreted per-element, ~10× slower). Each partition pre-reduces to its
    local top-k per query, so the final window sees ≤ partitions × k rows
    per query instead of the full candidate count."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    qrows = _prefix_rows(spark, sf_dir, N_QUERY_VECS, _rows)
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)

    def compute(batches):
        parts = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            dots, cn, qn = _fold_dots(C, Q)
            sims = dots / (cn[:, None] * qn[None, :])
            n, m = sims.shape
            mask = ids[:, None] != q_ids[None, :]
            bdf = pd.DataFrame({
                "query_id": np.tile(q_ids, n)[mask.ravel()],
                "neighbor_id": np.repeat(ids, m)[mask.ravel()],
                "cos_sim": sims.ravel()[mask.ravel()],
            })
            # a zero-norm embedding makes cos_sim NaN (0/0); pandas sorts
            # NaN last (pruned) while the Spark window ranks NaN greatest
            # (top-ranked) — drop NaN rows explicitly so the pandas prune
            # and the final window agree on ordering by construction
            bdf = bdf.loc[bdf["cos_sim"].notna()]
            # batch-local top-k BEFORE accumulating: the partition buffer
            # holds ≤ batches × queries × k rows, never every candidate
            # pair (a 1M-row partition would otherwise buffer 100M rows)
            bdf = bdf.sort_values(
                ["query_id", "cos_sim", "neighbor_id"],
                ascending=[True, False, True],
            ).groupby("query_id", sort=False).head(TOPK)
            parts.append(bdf)
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True)
        # partition-local top-k per query (global top-k ⊆ union of locals)
        allp = allp.sort_values(
            ["query_id", "cos_sim", "neighbor_id"],
            ascending=[True, False, True],
        )
        yield allp.groupby("query_id", sort=False).head(TOPK)

    pairs = emb.select("vec_id", "embedding").mapInPandas(
        compute, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )

_DOT_SQL = """list_reduce(
    list_prepend(0.0, list_transform(range(1, len({a}) + 1),
        i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)),
    (acc, x) -> acc + x)"""

def _cos_sql(a: str, b: str) -> str:
    return (f"({_DOT_SQL.format(a=a, b=b)} / "
            f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)})))")

TOPK_COSINE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv
    FROM embeddings WHERE vec_id < {N_QUERY_VECS}
),
pairs AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM q JOIN embeddings c ON c.vec_id != q.query_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= {TOPK}
"""

QUANT_SCALE = 127


def _quant(X) -> "np.ndarray":
    """THE engine's int8 quantization law — floor(x·127 + 0.5) clamped to
    ±QUANT_SCALE — as one shared function (it was defined four times with
    drifting variants through r4; the arrow-path copy had drifted to
    float32, where boundary values like -0.9488189 floor to -120 instead
    of the oracle's CAST(x AS DOUBLE) -121). Forces float64 FIRST so the
    arithmetic matches the DOUBLE-based SQL oracles bit for bit."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    return np.maximum(
        -QUANT_SCALE,
        np.minimum(QUANT_SCALE, np.floor(X * 127.0 + 0.5)),
    ).astype(np.int64)

def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization + exact integer top-k: each float dimension
    maps to round(x·127) clamped to [-127, 127], and neighbors rank by the
    integer dot product of the quantized vectors.

    This is the memory/IO scale path for ANN: 4× smaller vectors (64 bytes
    vs 256 per embedding), integer SIMD dot products, and — unlike float
    scoring — the ranking is *perfectly* deterministic across engines and
    partition orders because integer addition is associative (max |dot| =
    64·127² ≈ 1.03e6, nowhere near overflow). Same execution shape as
    topk_cosine: closure-broadcast query batch, Arrow-batched candidate
    stream, partition-local top-k before the final window."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    qrows = (
        emb.where(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", "embedding").collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = _quant(np.array([r.embedding for r in qrows], dtype=np.float64))

    def compute(batches):
        parts = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = _quant(np.array(pdf["embedding"].tolist(), dtype=np.float64))
            dots = C @ Q.T  # exact int64
            n, m = dots.shape
            mask = ids[:, None] != q_ids[None, :]
            bdf = pd.DataFrame({
                "query_id": np.tile(q_ids, n)[mask.ravel()],
                "neighbor_id": np.repeat(ids, m)[mask.ravel()],
                "qdot": dots.ravel()[mask.ravel()],
            })
            # batch-local top-k before accumulating (see topk_cosine)
            bdf = bdf.sort_values(
                ["query_id", "qdot", "neighbor_id"],
                ascending=[True, False, True],
            ).groupby("query_id", sort=False).head(TOPK)
            parts.append(bdf)
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True)
        allp = allp.sort_values(
            ["query_id", "qdot", "neighbor_id"], ascending=[True, False, True]
        )
        yield allp.groupby("query_id", sort=False).head(TOPK)

    pairs = emb.select("vec_id", "embedding").mapInPandas(
        compute, schema="query_id long, neighbor_id long, qdot long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "qdot")
    )

_QUANT_SQL = (
    "list_transform(embedding, x -> CAST(greatest(-127, least(127, "
    "floor(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS BIGINT))"
)

QUANTIZED_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, {_QUANT_SQL} AS qv
    FROM embeddings WHERE vec_id < {N_QUERY_VECS}
),
c AS (
    SELECT vec_id, {_QUANT_SQL} AS cv FROM embeddings
),
pairs AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, {EMBED_DIM} + 1),
                i -> q.qv[i] * c.cv[i])) AS BIGINT) AS qdot
    FROM q JOIN c ON c.vec_id != q.query_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY qdot DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, qdot
FROM ranked WHERE rank <= {TOPK}
"""

PQ_M = 8        # subvectors per embedding (64 dims → 8 × 8)
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_CODES = 16   # codebook entries per subvector (the 16 lowest vec_ids)
PQ_TOPK = 5

def pq_ann(spark: SparkSession, sf_dir: str, topk: int = PQ_TOPK,
           _rows=None) -> DataFrame:
    """Product quantization + asymmetric distance (PQ/ADC) — the canonical
    ANN memory-compression path at 100 TB: every candidate vector stores
    only PQ_M 4-bit codes (here 8 codes ≤ 16 → 4 bytes per vector, 64×
    smaller than the float embedding), and query scoring is PQ_M lookup-
    table adds instead of a 64-dim dot product.

    Deterministic, integer-exact variant so the DuckDB oracle hashes
    bit-for-bit: vectors int8-quantize first (same law as quantized_topk);
    the codebook for subvector s is the s-th subvector of the PQ_CODES
    lowest vec_ids (init-only codebook — no iterative training, so the
    oracle needs no unrolled Lloyd CTEs; kmeans_quantized already covers
    trained centroids); encoding picks the integer-L2-nearest entry with
    ties to the smallest code; ADC(q, x) = Σ_s ‖q_s − cb[s][code_s(x)]‖²
    in exact int64.

    Execution shape (the part that survives scale): codebook (16 rows) and
    query batch (100 rows) are bounded collects broadcast in the closure;
    candidates stream through Arrow batches, each partition computes its
    per-query LUT ONCE (PQ_M × PQ_CODES ints) and reduces to a partition-
    local top-k, so the final window sees ≤ partitions × queries × k rows.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    # r14: the codebook prefix (vec_id < PQ_CODES) is a subset of the
    # query prefix (PQ_CODES <= N_QUERY_VECS) — one collect serves both
    # instead of two driver jobs over the same scan
    qrows = _prefix_rows(spark, sf_dir, N_QUERY_VECS, _rows)
    cb_rows = sorted((r for r in qrows if r.vec_id < PQ_CODES),
                     key=lambda r: r.vec_id)
    # cb[s][c] = subvector s of codebook vector c — (M, CODES, SUBDIM)
    CB = _quant(np.array([r.embedding for r in cb_rows], dtype=np.float64))
    CB = CB.reshape(PQ_CODES, PQ_M, PQ_SUBDIM).transpose(1, 0, 2)
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = _quant(np.array([r.embedding for r in qrows], dtype=np.float64))
    Qs = Q.reshape(len(q_ids), PQ_M, PQ_SUBDIM)
    # ADC lookup table: lut[q, s, c] = ||Q[q,s] - CB[s,c]||^2 (exact int)
    diff = Qs[:, :, None, :] - CB[None, :, :, :]
    LUT = (diff * diff).sum(axis=3)

    def compute(batches):
        parts = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = _quant(np.array(pdf["embedding"].tolist(), dtype=np.float64))
            Cs = C.reshape(len(ids), PQ_M, PQ_SUBDIM)
            # encode: nearest codebook entry per subvector (ties → lowest
            # code; np.argmin returns the first minimum and codes ascend)
            d = Cs[:, :, None, :] - CB[None, :, :, :]
            codes = (d * d).sum(axis=3).argmin(axis=2)          # (n, M)
            # ADC via the LUT: adc[n, q] = Σ_s LUT[q, s, codes[n, s]] —
            # one (queries × candidates) gather-add per subvector
            adc_qn = np.zeros((len(q_ids), len(ids)), dtype=np.int64)
            for s in range(PQ_M):
                adc_qn += LUT[:, s, codes[:, s]]
            adc = adc_qn.T
            n, m = len(ids), len(q_ids)
            mask = ids[:, None] != q_ids[None, :]
            bdf = pd.DataFrame({
                "query_id": np.tile(q_ids, n)[mask.ravel()],
                "neighbor_id": np.repeat(ids, m)[mask.ravel()],
                "adc": adc.ravel()[mask.ravel()],
            })
            # batch-local top-k before accumulating (see topk_cosine)
            bdf = bdf.sort_values(
                ["query_id", "adc", "neighbor_id"],
                ascending=[True, True, True],
            ).groupby("query_id", sort=False).head(topk)
            parts.append(bdf)
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True)
        allp = allp.sort_values(
            ["query_id", "adc", "neighbor_id"], ascending=[True, True, True]
        )
        yield allp.groupby("query_id", sort=False).head(topk)

    pairs = emb.select("vec_id", "embedding").mapInPandas(
        compute, schema="query_id long, neighbor_id long, adc long"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("int").alias("rank"), "adc")
    )

PQ_ANN_ORACLE = f"""
WITH v AS (
    SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings
),
sub AS (SELECT unnest(range(0, {PQ_M})) AS s),
cb AS (
    SELECT s.s, v.vec_id AS code,
           list_slice(v.qv, s.s * {PQ_SUBDIM} + 1, s.s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS cvec
    FROM v CROSS JOIN sub s WHERE v.vec_id < {PQ_CODES}
),
enc_d AS (
    SELECT v.vec_id, c.s, c.code,
           CAST(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> (v.qv[c.s * {PQ_SUBDIM} + i] - c.cvec[i])
                  * (v.qv[c.s * {PQ_SUBDIM} + i] - c.cvec[i]))) AS BIGINT) AS d2
    FROM v CROSS JOIN cb c
),
enc AS (
    SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
        FROM enc_d
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, qv FROM v WHERE vec_id < {N_QUERY_VECS}),
adc AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           CAST(sum(CAST(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> (q.qv[e.s * {PQ_SUBDIM} + i] - c.cvec[i])
                  * (q.qv[e.s * {PQ_SUBDIM} + i] - c.cvec[i]))) AS BIGINT))
               AS BIGINT) AS adc
    FROM q
    JOIN enc e ON e.vec_id != q.query_id
    JOIN cb c ON c.s = e.s AND c.code = e.code
    GROUP BY q.query_id, e.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc
FROM ranked WHERE rank <= {PQ_TOPK}
"""

#: fixed probe BUDGET (Lv et al.: probe count is a budget T independent of
#: table size): at most 24 masks (+ the own bucket = 25 probes, the exact
#: r11 budget). For P <= 8 the three families yield <= 24 distinct masks,
#: so every gated scale factor is bit-unchanged; at larger P the cap keeps
#: the probe fan-out CONSTANT while the plane count grows with log n —
#: without it, pairs grow an extra (3P+1)/25 factor per decade.
LSH_PROBE_BUDGET = 24


def lsh_probe_masks(planes: int) -> tuple:
    """Multi-probe masks (r11, VERDICT r10 item 4): every Hamming-1 flip
    plus a Hamming-2 ring (adjacent pairs {p, p+1 mod P} and skip pairs
    {p, p+2 mod P}), order-stable-deduped, capped at LSH_PROBE_BUDGET.
    On the near-orthogonal fixture each probe contributes recall roughly
    independently (the r4 directed-probing measurement) — still an
    equi-join on the probe bucket, never all-pairs, and a pair still
    matches at most once (candidate bucket unique, probe list distinct —
    the order-stable dedupe matters at small P where the adjacent and
    skip rings overlap, e.g. P = 4). The H1 flips rank first: they carry
    the most recall per probe, so the cap sheds the least valuable tail."""
    masks = (
        [1 << p for p in range(planes)]
        + [(1 << p) | (1 << ((p + 1) % planes)) for p in range(planes)]
        + [(1 << p) | (1 << ((p + 2) % planes)) for p in range(planes)]
    )
    return tuple(dict.fromkeys(masks))[:LSH_PROBE_BUDGET]


def _bucket(name: str, planes: int) -> Column:
    """Axis-projection LSH bucket over `planes` planes of the embedding
    column named `name`: bit p = (col[LSH_PLANE_DIMS[p]] >= 0). Built as
    ONE parsed SQL string (r13 optimization round): the operator-built
    Column form cost ~6 py4j round trips per plane of pure driver time;
    CASE WHEN parses to the same expressions in the same left-assoc sum
    order. r14 (ADVICE r13): takes the column NAME — the old Column
    parameter was dead (the body hardcoded 'embedding')."""
    expr = " + ".join(
        f"(CASE WHEN element_at({name}, {LSH_PLANE_DIMS[p]}) >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(planes))
    return F.expr(f"CAST({expr} AS BIGINT)")

def lsh_ann(spark: SparkSession, sf_dir: str,
            max_query_id: int | None = None) -> DataFrame:
    """Approximate top-5 neighbors via MULTI-PROBE LSH: the query side
    probes its own bucket plus every Hamming-distance-1 bucket and a
    fixed Hamming-2 ring (the buckets a near-neighbor most likely lands
    in), the candidate side keeps its single bucket, exact cosine within
    matches.

    Single-probe at 2^planes buckets collapses for recall once buckets are
    sparse (measured 3% recall@5 on the fixture); multi-probe lifts recall
    by an order of magnitude for a bounded fan-out on the QUERY side only
    — the standard trade (Lv et al., multi-probe LSH). r11 widened the
    probe set from Hamming-1 (9 probes, recall@5 0.098 — one bad
    hyperplane draw above the old 0.08 floor) to own + H1 + a H2 ring:
    measured recall@5 0.228 at sf0.1, floor raised to 0.15 (VERDICT r10
    item 4). r12 made the PLANE COUNT adaptive (VERDICT r11 item 2,
    SCALING.md remedy): P = lsh_planes_for(n) grows with log n so expected
    bucket occupancy n/2^P stays ≤ LSH_TARGET_OCC — the r11 sweep measured
    the fixed-P spelling at 30×/decade (26.7 s sf1.0) because pairs grew
    ∝ probes·n²/2^P; with occupancy clamped, pairs per probe are linear in
    n and only the probe count (3P+1) grows logarithmically. n comes from
    a memoized parquet-footer count (emb_count, a bounded driver-side
    action), and the oracle computes the
    SAME integer threshold ladder from count(*) in SQL.
    Scale shape is otherwise unchanged: equi-join on the probe bucket,
    never all-pairs; a pair can match at most once because the candidate's
    bucket is unique and the probe list is distinct.

    Bucket self-join + interpreted fold: at this pair count the HOF fold
    beats both the 64-term unrolled expression (codegen compile dominates)
    and an applyInPandas variant (Python worker round-trip dominates) —
    measured, not guessed. (Re-measured r4 at the multi-probe pair count:
    HOF 1.09 s vs unrolled 2.52 s at sf0.1 — the r2 conclusion still
    holds with 9× the pairs.)

    On the r2→r3 bench regression (0.81 s → 1.05 s, +29%): that is the
    price of the multi-probe fan-out itself, and it buys a measured 4×
    recall@5 (0.03 single-probe → 0.12 multi-probe on the uniform-random
    fixture — the recall gate in tests/test_sketches.py pins it). Two
    cheaper variants were measured and rejected (r4):
      - query-DIRECTED probing (flip only the T bits with the smallest
        |hyperplane projection|, Lv et al.): on near-orthogonal fixture
        vectors recall is simply ∝ probe count (T=4 → 0.072, T=8 →
        0.118), so cutting T cuts recall one-for-one — no free lunch
        without cluster structure;
      - slimming the exploded side to (vec_id, probe) and re-joining
        embeddings per pair: ~7% faster at fixture scale but shuffles
        per-PAIR embedding arrays at 100 TB, strictly worse than the
        current shape where cosine is computed inside the one equi-join
        projection and only slim (id, id, cos) rows reach the window.
    The plan stands as the measured recall/latency frontier."""
    from pyspark.sql import Window

    planes = lsh_planes_for(emb_count(spark, sf_dir))
    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding",
        _bucket("embedding", planes).alias("bucket"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    # one parsed SQL string (r13 optimization round): the Column form cost
    # ~3 py4j round trips per probe mask; `^` parses to the same bitwiseXOR
    probes = F.expr("array(bucket, " + ", ".join(
        f"bucket ^ {m}" for m in lsh_probe_masks(planes)) + ")")
    # max_query_id restricts the PROBE side before the explode and the
    # self-join (ann_recall_at_k's arm): the predicate reaches the scan
    # (plan-audited), instead of ranking every vector's neighbors and
    # discarding all but the query batch after the window
    q_side = emb if max_query_id is None else \
        emb.where(F.col("vec_id") < max_query_id)
    a = q_side.withColumn("probe", F.explode(probes)).alias("a")
    if max_query_id is not None:
        # the bounded query batch is the build side on every build. Left
        # to AQE, the side whose shuffle stage finished first was
        # broadcast, so the generated code (and its compiles) changed
        # from one run of the same query to the next
        a = F.broadcast(a)
    b = emb.alias("b")
    if max_query_id is None and emb_count(spark, sf_dir) > LSH_ARROW_MIN_N:
        # full-corpus arm at scale: millions of candidate pairs make the
        # interpreted HOF fold the bottleneck (r12 measurement at n=20k:
        # 3.6M pairs → 11.8 s HOF; a per-PAIR Arrow scorer was WORSE at
        # 13.9 s because it ships both embeddings once per pair). Score
        # per BUCKET instead: cogroup the exploded probe side with the
        # candidate side on the bucket key and compute each group's
        # cosine matrix vectorized — embeddings cross Arrow once per
        # (row, probe), ~occupancy× less than per-pair, and the per-dim
        # accumulation keeps the SAME left-fold order as _dot/_fold_dots
        # (bitwise-identical doubles, oracle stays exact). Below the
        # threshold the JVM fold wins (Python worker round-trip dominates
        # at small pair counts — the r4 measurement).
        import numpy as np
        import pandas as pd

        # probe-side rows are scored in fixed-size blocks so one hot
        # bucket (the probe side carries ~25x replication; a clustered
        # corpus can concentrate it) cannot grow the dense score matrix
        # beyond CHUNK x len(cp) — peak memory is bounded regardless of
        # bucket skew (ADVICE r12). The per-dim left-fold order of each
        # (query, candidate) pair is independent of row blocking, so
        # cosines stay bitwise-identical to _dot / the DuckDB oracle.
        CHUNK = 4096

        def score(key, qp, cp):
            if not len(qp) or not len(cp):
                return pd.DataFrame(
                    {"query_id": [], "neighbor_id": [], "cos_sim": []})
            C = np.array(cp["embedding"].tolist(), dtype=np.float64)
            c_nrm = cp["nrm"].to_numpy()
            c_ids = cp["vec_id"].to_numpy()
            parts = []
            for lo in range(0, len(qp), CHUNK):
                qb = qp.iloc[lo:lo + CHUNK]
                Q = np.array(qb["embedding"].tolist(), dtype=np.float64)
                dots = np.zeros((len(qb), len(cp)))
                for i in range(Q.shape[1]):
                    dots = dots + np.multiply.outer(Q[:, i], C[:, i])
                cos = dots / np.multiply.outer(qb["nrm"].to_numpy(),
                                               c_nrm)
                qi, ci = np.indices(cos.shape)
                qid = qb["vec_id"].to_numpy()[qi.ravel()]
                nid = c_ids[ci.ravel()]
                keep = qid != nid
                parts.append(pd.DataFrame(
                    {"query_id": qid[keep], "neighbor_id": nid[keep],
                     "cos_sim": cos.ravel()[keep]}))
            return pd.concat(parts, ignore_index=True)

        # r14 (optimization round 2, the LOF _per_cell pattern): the
        # cogroup protocol shipped one Arrow batch PER BUCKET KEY on
        # each side (~2^P keys — 16k round trips at sf1.0, the same
        # protocol class LOF/IVF had); both sides now union with a side
        # tag, hash-partition and sort by bucket once, and mapInPandas
        # streams the contiguous groups, splitting each into its
        # query/candidate halves for the identical score() body. Only
        # the batch-straddling tail group is carried.
        qa = a.select(F.col("probe").alias("k"), F.lit(0).alias("side"),
                      "vec_id", "embedding", "nrm")
        cb = b.select(F.col("bucket").alias("k"), F.lit(1).alias("side"),
                      "vec_id", "embedding", "nrm")
        rep = (qa.unionByName(cb).repartition(F.col("k"))
               .sortWithinPartitions("k", "side"))

        def _stream(batches):
            tail = None
            for pdf in batches:
                if tail is not None:
                    pdf = pd.concat([tail, pdf], ignore_index=True)
                    tail = None
                if not len(pdf):
                    continue
                lk = pdf["k"].iat[-1]
                is_tail = pdf["k"] == lk
                tail = pdf.loc[is_tail]
                body = pdf.loc[~is_tail]
                outs = [out for _, g in body.groupby("k", sort=False)
                        for out in (score(None, g.loc[g["side"] == 0],
                                          g.loc[g["side"] == 1]),)
                        if len(out)]
                if outs:
                    yield pd.concat(outs, ignore_index=True)
            if tail is not None and len(tail):
                out = score(None, tail.loc[tail["side"] == 0],
                            tail.loc[tail["side"] == 1])
                if len(out):
                    yield out

        pairs = rep.mapInPandas(
            _stream, "query_id long, neighbor_id long, cos_sim double")
    else:
        pairs = (
            a.join(b, F.col("a.probe") == F.col("b.bucket"))
            .where(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("query_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                (_dot(F.col("a.embedding"), F.col("b.embedding"))
                 / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos_sim"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= LSH_TOPK)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )

#: the adaptive plane count in SQL: one params CTE computing n and the same
#: integer ladder as lsh_planes_for, consumed by the bucket and mask CTEs
_PARAMS_CTE = f"""params AS (
    SELECT count(*) AS n, {LSH_PLANES_SQL} AS planes FROM embeddings
)"""

#: per-plane bit, gated on p < planes (planes comes from the params CTE)
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {p} < p.planes AND embedding[{LSH_PLANE_DIMS[p]}] >= 0"
    f" THEN {1 << p} ELSE 0 END)"
    for p in range(LSH_MAX_PLANES)
)

#: mask list built from planes at query time — the same three families as
#: lsh_probe_masks (H1 flips + adjacent/skip H2 rings), ORDER-STABLE
#: deduped (list_distinct does not guarantee order, and the budget cap
#: selects by position), capped at LSH_PROBE_BUDGET, with 0 prepended for
#: the own bucket; validated element-for-element against lsh_probe_masks
#: for every P in [MIN, MAX] (tests/test_sketches.py)
_FAM_SQL = """list_concat(list_concat(
    list_transform(range(0, p.planes), q -> CAST(1 << q AS BIGINT)),
    list_transform(range(0, p.planes),
        q -> CAST((1 << q) | (1 << ((q + 1) % p.planes)) AS BIGINT))),
    list_transform(range(0, p.planes),
        q -> CAST((1 << q) | (1 << ((q + 2) % p.planes)) AS BIGINT)))"""
_MASKS_SQL = f"""list_prepend(CAST(0 AS BIGINT), list_slice(
    list_filter(fam, (x, i) -> list_position(fam, x) = i),
    1, {LSH_PROBE_BUDGET}))"""

LSH_ANN_ORACLE = f"""
WITH {_PARAMS_CTE},
bucketed AS (
    SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings CROSS JOIN params p
),
masks AS (
    SELECT {_MASKS_SQL} AS ms
    FROM (SELECT {_FAM_SQL} AS fam FROM params p)
),
probed AS (
    SELECT vec_id, embedding, xor(bucket, m) AS probe
    FROM (SELECT vec_id, embedding, bucket, unnest(ms) AS m
          FROM bucketed CROSS JOIN masks)
),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM probed a JOIN bucketed b
      ON a.probe = b.bucket AND a.vec_id != b.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= {LSH_TOPK}
"""

# ------------------------------------------------------- cosine near-dup

NEAR_DUP_THRESHOLD = 0.35  # testdata embeddings are near-orthogonal random
                           # vectors (max pairwise cos ≈ 0.51); real corpora
                           # would use ~0.9+

def cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: unordered doc pairs sharing an
    LSH bucket with cosine >= NEAR_DUP_THRESHOLD — the dedup-flavored variant
    of lsh_ann (threshold filter instead of top-k). Same scale shape: the
    bucket equi-join never goes all-pairs, and the r12 adaptive plane count
    (lsh_planes_for) clamps expected occupancy so the self-join stays linear
    in n rather than quadratic at fixed 2^P buckets."""
    planes = lsh_planes_for(emb_count(spark, sf_dir))
    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding",
        _bucket("embedding", planes).alias("bucket"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, "bucket")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            (_dot(F.col("a.embedding"), F.col("b.embedding"))
             / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
    )

COSINE_NEAR_DUP_ORACLE = f"""
WITH {_PARAMS_CTE},
bucketed AS (
    SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings CROSS JOIN params p
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEAR_DUP_THRESHOLD}
"""

# ------------------------------------------- bounded near-dup (r13)

NEAR_DUP_TOPM = 8   # per-doc neighbor cap: output <= n * m by contract

def near_dup_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED near-duplicate contract (r12 verdict item 1): per document,
    its top-m same-bucket neighbors with cosine >= NEAR_DUP_THRESHOLD,
    ranked by (cosine desc, neighbor_id asc). Output is <= n·m rows BY
    CONTRACT — unlike cosine_near_dup's emit-all-pairs semantics, whose
    output is Θ(cluster²) on clustered corpora (the r12 sweep's one
    superlinear row): a 1M-doc near-dup cluster at 100 TB implies ~5·10¹¹
    unbounded pair rows, but caps at 8M here. The unbounded spelling
    stays registered for parity; downstream consumers
    (embedding_cluster_dedup's connected components) read THIS stream.

    Scale shape: same adaptive-plane bucket equi-join as cosine_near_dup
    (never all-pairs; JVM-side fold cosine), then a rank window that
    Spark's InferWindowGroupLimit turns into a per-partition group-limit
    BEFORE the exchange — window state and shuffle volume are both capped
    at m rows per doc, so no stage materializes the quadratic pair set.
    Above LSH_ARROW_MIN_N the whole operator runs as ONE per-bucket
    Arrow kernel instead (r13): a doc's candidate universe IS its bucket
    (no probes here), so per-bucket vectorized top-m is exact and final
    — the in-bucket cosines compute as the same per-dim left fold as the
    JVM path (bitwise-identical, big==small pinned) in row chunks, and
    only ≤ m rows per doc ever leave Python. Measured: the interpreted
    per-pair HOF fold was 8.3 s / 21×-last-decade at sf1.0 on the
    clustered fixture; the kernel drops the constant ~6× (the Θ(Σ b²)
    cosine count is inherent to the per-doc-neighbor contract on
    clustered data — rep_near_dup is the fully linear spelling)."""
    from pyspark.sql import Window

    planes = lsh_planes_for(emb_count(spark, sf_dir))
    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding",
        _bucket("embedding", planes).alias("bucket"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    if emb_count(spark, sf_dir) > LSH_ARROW_MIN_N:
        import numpy as np
        import pandas as pd

        CHUNK = 1024

        def topm(pdf):
            if len(pdf) < 2:
                return pd.DataFrame({"doc_id": [], "neighbor_id": [],
                                     "rank": pd.Series([], dtype="int32"),
                                     "cos_sim": []})
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            nrm = pdf["nrm"].to_numpy()
            out_q, out_n, out_r, out_c = [], [], [], []
            for lo in range(0, len(pdf), CHUNK):
                Q = E[lo:lo + CHUNK]
                dots = np.zeros((len(Q), len(E)))
                for i in range(E.shape[1]):
                    dots = dots + np.multiply.outer(Q[:, i], E[:, i])
                cos = dots / np.multiply.outer(nrm[lo:lo + CHUNK], nrm)
                for r in range(len(Q)):
                    row = cos[r]
                    keep = np.nonzero(
                        (row >= NEAR_DUP_THRESHOLD)
                        & (ids != ids[lo + r]))[0]
                    if not len(keep):
                        continue
                    order = keep[np.lexsort((ids[keep], -row[keep]))]
                    order = order[:NEAR_DUP_TOPM]
                    out_q.extend([ids[lo + r]] * len(order))
                    out_n.extend(ids[order])
                    out_r.extend(range(1, len(order) + 1))
                    out_c.extend(row[order])
            return pd.DataFrame({
                "doc_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "rank": np.array(out_r, dtype=np.int32),
                "cos_sim": np.array(out_c, dtype=np.float64)})

        # r14 (the LOF _per_cell pattern): stream bucket groups through
        # mapInPandas over bucket-sorted partitions instead of one Arrow
        # batch per bucket key; identical topm body per group.
        rep = (emb.repartition(F.col("bucket"))
               .sortWithinPartitions("bucket"))

        def _stream_topm(batches):
            tail = None
            for pdf in batches:
                if tail is not None:
                    pdf = pd.concat([tail, pdf], ignore_index=True)
                    tail = None
                if not len(pdf):
                    continue
                lk = pdf["bucket"].iat[-1]
                is_tail = pdf["bucket"] == lk
                tail = pdf.loc[is_tail]
                body = pdf.loc[~is_tail]
                outs = [out
                        for _, g in body.groupby("bucket", sort=False)
                        for out in (topm(g.reset_index(drop=True)),)
                        if len(out)]
                if outs:
                    yield pd.concat(outs, ignore_index=True)
            if tail is not None and len(tail):
                out = topm(tail.reset_index(drop=True))
                if len(out):
                    yield out

        return rep.mapInPandas(
            _stream_topm,
            "doc_id long, neighbor_id long, rank int, cos_sim double")
    a, b = emb.alias("a"), emb.alias("b")
    directed = (
        a.join(b, "bucket")
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("doc_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (_dot(F.col("a.embedding"), F.col("b.embedding"))
             / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= NEAR_DUP_TOPM)
        .select("doc_id", "neighbor_id", "rank", "cos_sim")
    )

NEAR_DUP_TOPM_ORACLE = f"""
WITH {_PARAMS_CTE},
bucketed AS (
    SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings CROSS JOIN params p
),
directed AS (
    SELECT a.vec_id AS doc_id, b.vec_id AS neighbor_id,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id != b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEAR_DUP_THRESHOLD}
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM directed
)
SELECT doc_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= {NEAR_DUP_TOPM}
"""


def rep_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-COMPUTE near-duplicate edges (r12 verdict item 1, the
    SemDeDup-style spelling): each LSH bucket elects a representative
    (its min vec_id) and emits one edge (rep, member, cos) per member
    whose cosine against the representative clears NEAR_DUP_THRESHOLD.

    Why this exists alongside near_dup_topm: the top-m cap bounds the
    OUTPUT at n·m rows, but still evaluates every in-bucket pair — on a
    clustered corpus hot buckets make that Θ(Σ bucket²) cosines (measured
    r13: 0.55 s sf0.1 → 6.5 s sf1.0, ~12×/decade on the deliberately
    clustered fixture). This spelling evaluates exactly ONE cosine per
    member — O(n) compute and O(n) output no matter how dense the
    clusters — so it is the designated 100 TB near-dup path, and the
    edge stream embedding_cluster_dedup contracts into components. The
    trade (documented): two members similar to each other but neither
    similar to their bucket's representative do not get an edge.

    Plan: one groupBy(bucket) min-agg (partial map-side), one join to
    fetch the representative's embedding, one bucket equi-join to pair
    members with their representative — three linear shuffles, cosine
    JVM-side in the join projection, no window, no all-pairs stage."""
    planes = lsh_planes_for(emb_count(spark, sf_dir))
    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding",
        _bucket("embedding", planes).alias("bucket"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    reps = (
        emb.groupBy("bucket").agg(F.min("vec_id").alias("rep_id"))
        .join(emb.select(F.col("vec_id").alias("rep_id"),
                         F.col("embedding").alias("rep_emb"),
                         F.col("nrm").alias("rep_nrm")), "rep_id")
    )
    return (
        emb.join(reps, "bucket")
        .where(F.col("vec_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("vec_id").alias("doc_b"),
            (_dot(F.col("rep_emb"), F.col("embedding"))
             / (F.col("rep_nrm") * F.col("nrm"))).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
    )

REP_NEAR_DUP_ORACLE = f"""
WITH {_PARAMS_CTE},
bucketed AS (
    SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings CROSS JOIN params p
),
reps AS (
    SELECT bucket, min(vec_id) AS rep_id FROM bucketed GROUP BY bucket
)
SELECT r.rep_id AS doc_a, m.vec_id AS doc_b,
       {_cos_sql('rv.embedding', 'm.embedding')} AS cos_sim
FROM bucketed m
JOIN reps r ON m.bucket = r.bucket
JOIN bucketed rv ON rv.vec_id = r.rep_id
WHERE m.vec_id != r.rep_id
  AND {_cos_sql('rv.embedding', 'm.embedding')} >= {NEAR_DUP_THRESHOLD}
"""

# ------------------------------------------------------------------ IVF ANN

IVF_NLIST = 16   # coarse centroids = embeddings of the 16 lowest vec_ids
                 # (deterministic stand-in for a trained k-means codebook)
IVF_TOPK = 5

def ivf_ann(spark: SparkSession, sf_dir: str, _rows=None) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse centroid
    (inverted lists), then search queries only against their own list.

    Scale shape: the codebook is tiny and broadcast (driver-collected here);
    assignment is one vectorized numpy pass per Arrow batch; the only
    shuffle groups by list id; in-list pair scoring is a per-group matrix
    op. At 100 TB the lists shard naturally — nothing is ever all-pairs.
    Numerics use the same per-dim fold order as the DuckDB oracle
    (bitwise-equal cosines, deterministic argmax with id tie-break)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    crows = _prefix_rows(spark, sf_dir, IVF_NLIST, _rows)
    c_ids = np.array([r.vec_id for r in crows], dtype=np.int64)
    CENT = np.array([r.embedding for r in crows], dtype=np.float64)
    order = np.argsort(c_ids)
    c_ids, CENT = c_ids[order], CENT[order]

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            dots, vn, cn = _fold_dots(V, CENT)
            sims = dots / (vn[:, None] * cn[None, :])
            # nearest centroid, ties to the lowest centroid id (c_ids is
            # sorted ascending, argmax takes the first maximum)
            best = sims.argmax(axis=1)
            out = pdf[["vec_id", "embedding"]].copy()
            out["list_id"] = c_ids[best]
            yield out

    assigned = emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, embedding array<float>, list_id long"
    )

    def list_sims(key, pdf: pd.DataFrame):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        qmask = ids < N_QUERY_VECS
        if not qmask.any() or len(ids) < 2:
            return pd.DataFrame({
                "query_id": np.empty(0, np.int64),
                "neighbor_id": np.empty(0, np.int64),
                "cos_sim": np.empty(0, np.float64),
            })
        V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        Q = V[qmask]
        qids = ids[qmask]
        dots, vn, qn = _fold_dots(V, Q)
        sims = dots / (vn[:, None] * qn[None, :])
        n, m = sims.shape
        mask = ids[:, None] != qids[None, :]
        return pd.DataFrame({
            "query_id": np.tile(qids, n)[mask.ravel()],
            "neighbor_id": np.repeat(ids, m)[mask.ravel()],
            "cos_sim": sims.ravel()[mask.ravel()],
        })

    def _per_list(batches):
        """Stream whole-partition batches, applying list_sims to each
        contiguous list_id group (r14, VERDICT r13 item 4 — the LOF
        _per_cell pattern): the old groupBy().applyInPandas shipped one
        Arrow batch per inverted list through the per-group protocol and
        planned a FlatMapGroupsInPandas (GrpPandas) stage; rows arrive
        here hash-partitioned and sorted by list_id, so groups are
        contiguous and only a batch-straddling tail group is carried.
        Per-group math is byte-identical (list_sims builds its matrices
        from the group's rows; cosines are per-pair folds, order-free)."""
        tail = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
                tail = None
            if not len(pdf):
                continue
            last = pdf["list_id"].iat[-1]
            is_tail = pdf["list_id"] == last
            body = pdf.loc[~is_tail]
            tail = pdf.loc[is_tail]
            outs = [out for _, g in body.groupby("list_id", sort=False)
                    for out in (list_sims(None, g),) if len(out)]
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if tail is not None and len(tail):
            out = list_sims(None, tail)
            if len(out):
                yield out

    pairs = (
        assigned.repartition(F.col("list_id"))
        .sortWithinPartitions("list_id")
        .mapInPandas(
            _per_list,
            schema="query_id long, neighbor_id long, cos_sim double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_TOPK)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )

IVF_ANN_ORACLE = f"""
WITH cent AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings WHERE vec_id < {IVF_NLIST}
),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
),
assigned AS (
    SELECT vec_id, embedding, cid AS list_id FROM scored WHERE rn = 1
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_cos_sql('c.embedding', 'q.embedding')} AS cos_sim
    FROM assigned q JOIN assigned c
      ON q.list_id = c.list_id AND c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERY_VECS}
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= {IVF_TOPK}
"""

# ----------------------------------------------------- quantized k-means

KMEANS_K = 4
KMEANS_ITERS = 3

def kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over int8-quantized embeddings — the iterative
    clustering step of a semantic-dedup / data-mixing pipeline, built so
    every iteration is EXACT integer arithmetic and therefore has a full
    DuckDB oracle (float k-means cannot hash-match across engines: the
    centroid means fold in engine-dependent order).

    Determinism contract: vectors quantize with the same floor(x·127+0.5)
    clamp as quantized_topk; distances are integer sums over a fixed dim
    order; ties in argmin break to the lowest center id; centroid update is
    floor(sum/count) with the division done in IEEE double (both engines
    produce the identical double for exact-integer operands). Init =
    quantized vectors of vec_id 0..k-1. Empty clusters drop (both sides).

    Scale shape per iteration: one mapInPandas assignment pass (centers
    ride the closure — k·64 ints), one posexplode + hash aggregate to
    (cluster, dim) partial sums (≤ k·64 rows cross the shuffle regardless
    of input size), and a 256-row collect to rebuild centers. The iteration
    count is the only driver-side loop — the classic mergeable-state
    decomposition, same as MLlib's own k-means.
    """
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)

    init_rows = (
        emb.where(F.col("vec_id") < KMEANS_K)
        .select("vec_id", "embedding").collect()
    )
    centers = np.zeros((KMEANS_K, EMBED_DIM), dtype=np.int64)
    for r in init_rows:
        centers[r.vec_id] = _quant(np.array(r.embedding, dtype=np.float64))
    center_ids = np.arange(KMEANS_K, dtype=np.int64)

    def assign_fn(C: "np.ndarray", cids: "np.ndarray", with_dims: bool):
        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _quant(np.array(list(pdf["embedding"]), dtype=np.float64))
                # (n, k) integer squared distances; argmin ties -> first
                # (= lowest center id, cids kept sorted)
                d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                best = d.argmin(axis=1)
                out = pd.DataFrame({
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": cids[best],
                    "dist": d[np.arange(len(X)), best],
                })
                if with_dims:
                    out["q"] = list(X)
                yield out
        return run

    # ITERS-1 update rounds; the final assignment (below) is iteration ITERS
    for _ in range(KMEANS_ITERS - 1):
        assigned = emb.mapInPandas(
            assign_fn(centers, center_ids, True),
            schema="vec_id long, cluster long, dist long, q array<long>",
        )
        sums = (
            assigned.select("cluster", F.posexplode("q").alias("d", "v"))
            .groupBy("cluster", "d")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_c: dict = {}
        for r in sums:
            by_c.setdefault(r["cluster"], [0] * (EMBED_DIM + 1))
            by_c[r["cluster"]][r["d"]] = (r["s"], r["n"])
        center_ids = np.array(sorted(by_c), dtype=np.int64)
        centers = np.array([
            [int(np.floor(by_c[c][d][0] / by_c[c][d][1])) for d in range(EMBED_DIM)]
            for c in center_ids
        ], dtype=np.int64)

    return emb.mapInPandas(
        assign_fn(centers, center_ids, False),
        schema="vec_id long, cluster long, dist long",
    )

def _kmeans_oracle() -> str:
    q = ("list_transform(embedding, x -> GREATEST(-127, LEAST(127, "
         "CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))))")
    # outer CAST: list_aggregate 'sum' yields HUGEINT, which lands in pandas
    # as float64 and diverges from Spark's BIGINT in the driver's value hash
    dist = ("CAST(list_aggregate(list_transform(range(1, 65), "
            "i -> (e.q[i] - c.q[i]) * (e.q[i] - c.q[i])), 'sum') AS BIGINT)")
    parts = [f"qe AS (SELECT vec_id, {q} AS q FROM embeddings)",
             f"c0 AS (SELECT vec_id AS cid, q FROM qe WHERE vec_id < {KMEANS_K})"]
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(f"""d{it} AS (
    SELECT e.vec_id, c.cid, {dist} AS dist
    FROM qe e CROSS JOIN {prev} c
)""")
        parts.append(f"""a{it} AS (
    SELECT vec_id, cid AS cluster, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{it}
    ) WHERE rn = 1
)""")
        if it < KMEANS_ITERS:
            parts.append(f"""u{it} AS (
    SELECT a.cluster AS cid, dd.d,
           sum(e.q[dd.d]) AS s, count(*) AS n
    FROM a{it} a JOIN qe e ON e.vec_id = a.vec_id
    CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
    GROUP BY 1, 2
)""")
            parts.append(f"""c{it} AS (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY d) AS q
    FROM u{it} GROUP BY cid
)""")
            prev = f"c{it}"
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT vec_id, cluster, dist FROM a{KMEANS_ITERS}")

KMEANS_QUANTIZED_ORACLE = _kmeans_oracle()


# ------------------------------------------------------ PQ + exact re-rank

#: candidate pool per query for the re-rank stage (C >> k: the compressed
#: ADC scan over-fetches, the exact pass restores float precision)
PQ_RERANK_CAND = 32

def pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage ANN shape: a cheap compressed-domain scan
    (PQ/ADC, 4-byte codes) over-fetches PQ_RERANK_CAND candidates per
    query, then ONLY those pairs are re-scored with the exact float
    cosine and re-ranked to the final top-k — full-precision quality at
    compressed-scan cost.

    Guaranteed property (tested): any true neighbor the candidate stage
    recalls survives re-ranking — a global top-k vector is top-k within
    every candidate subset containing it — so recall@k of the re-ranked
    result is >= recall@k of the raw PQ ranking, while the exact stage
    touches C×queries pairs instead of n×queries.

    Scale: stage 1 is pq_ann's shape (LUT scan + partition-local top-C);
    stage 2 joins the slim (query, candidate) pairs back to embeddings on
    each id — two hash joins whose probe side is queries×C rows, tiny by
    construction.
    """
    from pyspark.sql import Window

    cands = pq_ann(spark, sf_dir, topk=PQ_RERANK_CAND) \
        .select("query_id", "neighbor_id")
    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"))
    scored = (
        cands.join(q, "query_id").join(c, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            (_dot(F.col("qv"), F.col("cv"))
             / (F.sqrt(_dot(F.col("qv"), F.col("qv")))
                * F.sqrt(_dot(F.col("cv"), F.col("cv")))))
            .alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOPK)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


# stage-1 oracle = the PQ oracle with the top-k widened to the candidate
# pool (string-level rewrite of the already-rendered SQL keeps the two
# oracles structurally identical by construction)
_PQ_CAND_ORACLE = PQ_ANN_ORACLE.replace(
    f"WHERE rank <= {PQ_TOPK}", f"WHERE rank <= {PQ_RERANK_CAND}")

PQ_RERANK_ORACLE = f"""
WITH cand AS (
    {_PQ_CAND_ORACLE}
),
resc AS (
    SELECT cand.query_id, cand.neighbor_id,
           {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
    FROM cand
    JOIN embeddings q ON q.vec_id = cand.query_id
    JOIN embeddings c ON c.vec_id = cand.neighbor_id
),
rr AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM resc
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM rr WHERE rank <= {PQ_TOPK}
"""


# ------------------------------------------------------- mapInArrow stats

def arrow_quant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8-quantization statistics via mapInArrow — the one
    UDF shape the engine had not yet exercised: the function receives raw
    pyarrow RecordBatches (no pandas materialization at all) and returns
    RecordBatches, so fixed per-batch overhead is the Arrow buffer
    hand-off alone. The embedding lists flatten to ONE contiguous numpy
    view (zero-copy from the Arrow buffer) and every statistic is a
    vectorized reduction over that view.

    Stats per vector (all exact integers — the oracle replays the same
    quantization law in SQL): L1 norm of the quantized vector, positive
    count, saturation count (|q| == 127), and the quantized sum.

    Scale: embarrassingly row-local (no shuffle at all); this is the
    cheapest possible UDF lane for per-vector featurization when the
    built-in Column algebra can't express the kernel.
    """
    import numpy as np
    import pyarrow as pa

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")

    def fn(batches):
        for b in batches:
            ids = b.column("vec_id")
            col = b.column("embedding")
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            flat = col.flatten().to_numpy(zero_copy_only=False)
            n = len(b)
            if n == 0:
                continue
            dim = len(flat) // n
            # _quant forces float64: Arrow float32 embeddings would
            # otherwise quantize in f32 and flip boundary values vs the
            # DOUBLE-based oracle
            Q = _quant(flat.reshape(n, dim))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(np.abs(Q).sum(axis=1)),
                    pa.array((Q > 0).sum(axis=1).astype(np.int64)),
                    pa.array((np.abs(Q) == QUANT_SCALE).sum(axis=1)
                             .astype(np.int64)),
                    pa.array(Q.sum(axis=1)),
                ],
                names=["vec_id", "l1_q", "n_pos", "n_sat", "sum_q"],
            )

    return emb.mapInArrow(
        fn, "vec_id long, l1_q long, n_pos long, n_sat long, sum_q long")


ARROW_QUANT_STATS_ORACLE = f"""
SELECT vec_id,
       CAST(list_sum(list_transform({_QUANT_SQL}, q -> abs(q))) AS BIGINT)
           AS l1_q,
       CAST(len(list_filter({_QUANT_SQL}, q -> q > 0)) AS BIGINT) AS n_pos,
       CAST(len(list_filter({_QUANT_SQL}, q -> abs(q) = {QUANT_SCALE}))
           AS BIGINT) AS n_sat,
       CAST(list_sum({_QUANT_SQL}) AS BIGINT) AS sum_q
FROM embeddings
"""


# ------------------------------------------------- ANN retrieval quality

# Recall floors in basis points (recall@5 * 10000), pinned from the
# measured fixture values (tests/test_sketches.py::test_ann_recall_vs_
# exact_topk: LSH ~0.12 multi-probe, IVF ~0.17, PQ ~0.16 on the
# uniform-random near-orthogonal embeddings — the WORST case for locality
# bucketing; clustered real corpora recall far higher). The gate catches
# collapse back to random, not perfection.
ANN_RECALL_K = 5
ANN_RECALL_FLOORS_BP = (("ivf", 1500), ("lsh", 1500), ("pq", 1000))


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-QUALITY oracle (r8 verdict item 4): recall@5 of each ANN
    index (lsh_ann multi-probe, ivf_ann, pq_ann) against the exact
    brute-force top-5 over the shared query set, as a registry query whose
    DuckDB oracle recomputes BOTH sides in SQL and pins the recall floor —
    an index whose bucketing silently breaks (recall collapses toward
    random) flips meets_floor and reddens the driver gate, even though
    each index's own oracle would still match.

    All counting is integer-exact (hits, totals, basis-point recall via
    integer division), so the value hash is deterministic across engines.
    Scale shape: three index queries + one exact top-k, each already
    scale-shaped (see their own docstrings); the recall join moves only
    (query_id, neighbor_id) pairs — k rows per query."""
    from functools import reduce

    # r14 (driver-overhead pass 2): ONE collect of the shared
    # (vec_id < N_QUERY_VECS) prefix feeds the exact arm and the
    # ivf/pq codebooks — previously four overlapping collect jobs of
    # the same scan ran during plan construction (profiled at ~0.5 s
    # of the query's 1.2 s build). Within-invocation sharing only.
    rows = _prefix_rows(spark, sf_dir, N_QUERY_VECS)
    exact = topk_cosine(spark, sf_dir, _rows=rows).where(
        F.col("rank") <= ANN_RECALL_K).select("query_id", "neighbor_id")
    # ivf/pq restrict their query side to the batch internally; lsh ranks
    # EVERY vector by default, so the restriction goes in through its
    # max_query_id arm — the predicate reaches the scan (plan-audited)
    # instead of sitting above the self-join + window as a post-hoc
    # filter (the r9 plan audit's one unpushed-filter flag)
    idx_fns = {
        "lsh": lambda s, d: lsh_ann(s, d, max_query_id=N_QUERY_VECS),
        "ivf": lambda s, d: ivf_ann(s, d, _rows=rows),
        "pq": lambda s, d: pq_ann(s, d, _rows=rows),
    }
    tagged = reduce(DataFrame.unionByName, [
        fn(spark, sf_dir)
        .select(F.lit(name).alias("index_name"), "query_id", "neighbor_id")
        for name, fn in idx_fns.items()
    ])
    # exact holds N_QUERY_VECS x k rows: the build side on every build
    # (see lsh_ann's max_query_id arm for why the choice is not AQE's)
    hits = (tagged.join(F.broadcast(exact), ["query_id", "neighbor_id"])
            .groupBy("index_name").agg(F.count("*").alias("hits")))
    names = spark.createDataFrame(
        list(ANN_RECALL_FLOORS_BP), "index_name string, floor_bp long")
    totals = exact.agg(F.count("*").alias("total"))
    return (
        names.join(hits, "index_name", "left")
        .na.fill({"hits": 0})
        .crossJoin(totals)
        .selectExpr(
            "index_name",
            "hits",
            "total",
            "(hits * 10000) div total AS recall_bp",
            "((hits * 10000) div total) >= floor_bp AS meets_floor",
        )
    )


def _recall_arm(name: str, floor_bp: int, oracle: str,
                restrict: bool) -> str:
    where = f"WHERE query_id < {N_QUERY_VECS}" if restrict else ""
    return f"""
    SELECT '{name}' AS index_name, {floor_bp} AS floor_bp, count(*) AS hits
    FROM (SELECT query_id, neighbor_id FROM ({oracle}) {where}) r
    JOIN exact5 USING (query_id, neighbor_id)"""


ANN_RECALL_AT_K_ORACLE = f"""
WITH exact5 AS (
    SELECT query_id, neighbor_id FROM ({TOPK_COSINE_ORACLE})
    WHERE rank <= {ANN_RECALL_K}
),
tot AS (SELECT count(*) AS total FROM exact5),
arms AS (
    {_recall_arm('lsh', 1500, LSH_ANN_ORACLE, True)}
    UNION ALL
    {_recall_arm('ivf', 1500, IVF_ANN_ORACLE, False)}
    UNION ALL
    {_recall_arm('pq', 1000, PQ_ANN_ORACLE, False)}
)
SELECT index_name, hits, total,
       (hits * 10000) // total AS recall_bp,
       ((hits * 10000) // total) >= floor_bp AS meets_floor
FROM arms, tot
"""
