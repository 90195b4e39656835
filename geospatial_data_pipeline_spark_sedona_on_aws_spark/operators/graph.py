"""Connected components over candidate-pair edges — the step that turns
near-duplicate PAIRS (minhash/ngram/simhash output) into dedup CLUSTERS so a
pipeline can keep one canonical document per cluster.

The reference has no graph operators (SURVEY.md §2 — its surface ends at the
relational pipeline); this is north-star extension machinery for the LLM-data
pipeline (BASELINE.json): near-dup candidate pairs are only half of dedup —
grouping them transitively is what yields the keep/drop decision.

Scale design: min-label propagation accelerated with POINTER JUMPING (path
compression), one DataFrame iteration per round.
- Each round is: (a) hop — labels ⋈ edges (shuffle on the join key) →
  min-aggregate, and (b) jump — labels ⋈ labels on comp=node, so every
  node adopts its current label's own label (label(label(u))). The jump
  halves the label-tree height each round, so rounds needed are
  O(log diameter) rather than diameter — a path graph of 10⁶ nodes
  converges in ~20 rounds, unconditionally (r3 VERDICT item 4: the old
  hop-only loop was capped at 20 rounds = diameter 20 and a longer chain
  would silently mislabel).
- Correctness: labels only decrease and never go below the component min;
  at the detected fixpoint label(u) ≤ label(v) across every edge in both
  directions, so labels are constant per component and equal the min id.
  Any fixpoint of the hop step is therefore exact — jumping only changes
  how fast we get there, not where we stop.
- Every round ends in `localCheckpoint` — without it the loop's lineage
  doubles per round and Spark replans/re-executes the whole history each
  iteration (the classic iterative-DataFrame trap).
- Convergence is detected with a count of changed labels (one extra action
  per round on an already-checkpointed frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as DD

#: label-side broadcast budget for connected_components' contraction
#: joins (r13 optimization round): the l0 label frame has one slim
#: (node, lab) row per vertex; under this row count it broadcasts into
#: the two contraction joins and the pullback join, so the (much
#: larger) symmetrized edge frame is never shuffled by the contraction.
#: 2M rows of two longs ≈ 50 MB built — the same executor budget as
#: LOF's BROADCAST_MAX_ROWS. Beyond it the joins stay shuffle joins on
#: the edge frame (the 100 TB shape, unchanged).
CC_BROADCAST_MAX_LABEL_ROWS = 2_000_000
CC_BROADCAST_CONF = "spark.geoengine.cc.broadcastMaxLabelRows"


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_rounds: int = 64,
                         unique_edges: bool = False,
                         symmetric: bool = False,
                         n_nodes_bound: int | None = None) -> DataFrame:
    """(node, component) with component = min node id reachable — exact
    connected components via star contraction + min-label propagation
    with pointer jumping.

    edges: undirected edge list (each pair listed once, either direction).
    Output contains every node that appears in an edge; isolated nodes are
    the caller's union (they are their own component by definition).
    `unique_edges=True` promises no duplicate pairs in either direction,
    skipping a distinct shuffle over the full edge set (r10; DBSCAN's
    grid pairs and the dedup pair generators all qualify).

    Star contraction (r10): before the loop, every node adopts
    l0(u) = min(u, its neighbors) — one aggregate — and the loop runs on
    the CONTRACTED edge set {(l0(a), l0(b)) : (a,b) ∈ E, l0(a) ≠ l0(b)},
    which is a fraction of |E| for any locally-dense graph (a clique
    contracts to nothing). Correctness: u is connected to l0(u) by an
    edge (or identity), and every original edge has its image in the
    contracted set, so components pull back exactly through l0. The
    final labels are min-ids because l0 and the loop's labels are both
    min-over-reachable-subsets of original node ids.

    `max_rounds` is a safety valve, not a correctness knob: with pointer
    jumping the fixpoint arrives within ~log2(diameter) + 2 rounds, and
    diameter < 2^63 for long node ids, so the default 64 can only be hit
    by a logic bug — in which case we raise instead of returning a silently
    under-merged labeling (the failure mode the old capped loop had).

    `symmetric=True` (r13 optimization round) promises the input already
    lists BOTH directions of every edge (DBSCAN's grid pairs do, by
    construction), skipping the union-with-swap that would otherwise
    re-scan and double the edge frame. `n_nodes_bound` is an upper bound
    on the vertex count when the caller knows one (DBSCAN: the point
    count); under the broadcast budget it replaces the l0-count gate job.
    """
    if symmetric:
        both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        both = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        )
    if not unique_edges:
        both = both.distinct()
    both = both.localCheckpoint(eager=False)
    # star contraction: l0(u) = min(u, neighbors(u)); both lists every
    # node on its a-side, so one groupBy covers the whole vertex set
    l0 = (
        both.groupBy("a").agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("node"),
                F.least("a", "mb").alias("lab"))
        # EAGER (r13 optimization round): under the broadcast gate la/lb
        # are built by two CONCURRENT broadcast-exchange jobs — a lazy
        # checkpoint races and each job replays the full edge groupBy
        # (measured in the DBSCAN stage attribution); eager materializes
        # it once before either launches. Reused: two edge maps + pullback.
        .localCheckpoint(eager=True)
    )
    # r13 (optimization round): l0 is one slim row per vertex while
    # `both` is two rows per edge — on locally-dense graphs (DBSCAN's
    # core-core cliques: 2M symmetric edge rows vs 66k labels at sf0.1)
    # the two contraction joins were shuffling the EDGE frame twice as
    # SortMergeJoins (checkpointed RDDs carry no stats, so Spark can't
    # see that l0 is tiny). Counting l0 is nearly free — the count
    # materializes the lazy checkpoint, work every downstream consumer
    # needs anyway — and under the budget the label side broadcasts:
    # zero exchanges on the edge frame until the (contracted, small)
    # distinct. Guide §3.1: broadcast the side that fits, explicitly,
    # when the planner's estimates can't.
    limit = int(edges.sparkSession.conf.get(
        CC_BROADCAST_CONF, str(CC_BROADCAST_MAX_LABEL_ROWS)))
    n_labels = (n_nodes_bound if n_nodes_bound is not None
                else l0.count())
    hint = F.broadcast if n_labels <= limit else (lambda df: df)
    la = l0.select(F.col("node").alias("a"), F.col("lab").alias("la"))
    lb = l0.select(F.col("node").alias("b"), F.col("lab").alias("lb"))
    cedges = (
        both.join(hint(la), "a").join(hint(lb), "b")
        .where(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("a"), F.col("lb").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # finish small contracted graphs on the driver (r10): one count
    # action (materializing the checkpoint the loop would materialize
    # anyway) gates a collect + union-find — a bounded artifact
    # (<= LOCAL_CC_MAX_EDGES slim pairs, ~16 MB) that replaces ~6
    # shuffle stages per loop round with milliseconds of driver work.
    # Contraction shrinks any locally-dense graph by orders of
    # magnitude (1.01M DBSCAN core edges -> 16.5k at sf0.1), so this is
    # the common exit; a 100 TB graph whose contraction is still huge
    # takes the distributed loop unchanged.
    limit = int(edges.sparkSession.conf.get(LOCAL_CC_CONF,
                                            str(LOCAL_CC_MAX_EDGES)))
    # r14 (optimization round 2): ONE bounded action gates AND feeds the
    # driver finish — limit(limit+1).collect() is the same ≤16 MB
    # artifact the union-find collected anyway, so the separate count
    # job (a full second scan of the checkpointed contracted set) is
    # gone. Oversized graphs surface as limit+1 rows and take the
    # distributed loop exactly as before.
    head = cedges.limit(limit + 1).collect()
    if len(head) <= limit:
        comp = _driver_union_find(cedges, rows=head)
    else:
        comp = _min_label_loop(cedges, max_rounds)
    # pull back through l0: comp(u) = comp'(l0(u)); labels absent from
    # the loop (fully contracted stars) keep l0 itself. comp has at most
    # one row per contracted label (≤ |l0|), so the same size gate
    # applies — broadcasting it leaves l0 unshuffled.
    return (
        l0.join(hint(comp.withColumnRenamed("node", "lab")), "lab", "left")
        .select("node", F.coalesce("comp", "lab").alias("comp"))
    )


#: contracted-edge budget for the driver-side union-find finish; above
#: it the distributed min-label loop runs instead. ~500k slim pairs is
#: ~16 MB collected — a bounded artifact, same class as the ANN
#: codebook collects.
LOCAL_CC_MAX_EDGES = 500_000
LOCAL_CC_CONF = "spark.geoengine.cc.localMaxEdges"


def _driver_union_find(cedges: DataFrame, rows: list) -> DataFrame:
    """(node, comp) for every node in the SMALL contracted edge list,
    comp = min node id of the component: classic union-find with path
    compression and union-by-min (the min-root invariant makes ranks
    unnecessary and the result engine-independent). `rows` is the edge
    list the caller's size gate already collected; `cedges` gives the
    session and the node type."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while x != r:                     # path compression
            parent[x], x = r, parent.get(x, x)
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for row in rows for n in (row[0], row[1])}
    spark = cedges.sparkSession
    node_type = cedges.schema[0].dataType.simpleString()
    return spark.createDataFrame(
        [(n, find(n)) for n in sorted(nodes)],
        f"node {node_type}, comp {node_type}")


def _min_label_loop(both: DataFrame, max_rounds: int) -> DataFrame:
    """Min-label propagation + pointer jumping over an already-
    SYMMETRIC (both directions present) edge list (a, b); see
    connected_components, whose contracted edge set is symmetric by
    construction (it maps a symmetrized set through l0)."""
    labels = both.select(F.col("a").alias("node")).distinct() \
                 .select("node", F.col("node").alias("comp"))

    def _round(lbl: DataFrame) -> DataFrame:
        # hop: candidate label per node = min over (own, neighbors' labels)
        nbr = (
            both.join(lbl, both["b"] == lbl["node"], "inner")
            .select(F.col("a").alias("node"), "comp")
        )
        hopped = (
            lbl.select("node", "comp").union(nbr)
            .groupBy("node").agg(F.min("comp").alias("comp"))
        )
        # jump: label(u) ← label(label(u)). Labels are always node ids
        # (min over node ids), so the label table itself is the mapping.
        lookup = lbl.select(F.col("node").alias("comp"),
                            F.col("comp").alias("jumped"))
        return (
            hopped.join(lookup, "comp", "left")
            .select("node",
                    F.least("comp", F.coalesce("jumped", "comp")).alias("comp"))
        )

    # two hop+jump rounds per convergence check (r10): the per-round
    # driver latency — an eager materialization plus a convergence
    # action — dominated the loop's wall clock, not the data volume;
    # batching pairs of rounds into ONE materialization + ONE probe
    # halves the action count. Extra rounds past the fixpoint are
    # no-ops (labels are monotone and already minimal), so the detected
    # fixpoint — and therefore the result — is unchanged. The probe is
    # a decimal label sum, not a joined changed-count: labels only ever
    # DECREASE, so the sum is unchanged iff no label changed — one
    # aggregate on the just-checkpointed frame instead of a join
    # (decimal(38,0) is exact; int64 could overflow at n*max_id).
    def _label_sum(lbl: DataFrame):
        return lbl.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]

    prev_sum = None
    for _ in range(0, max_rounds, 2):
        labels = (
            _round(_round(labels).localCheckpoint(eager=False))
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            return labels.select("node", "comp")
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        f"impossible for any graph with < 2^{max_rounds} nodes; "
        "this indicates a label-propagation bug, not a data property")

def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup clusters over `documents`: 3-gram Jaccard >= 0.6 pairs
    → transitive closure → (doc_id, cluster_id, is_canonical). Docs with no
    near-dup are their own cluster. cluster_id = min doc_id in the cluster,
    canonical = the min doc (the keep-decision a dedup pipeline applies)."""
    pairs = DD.ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    docs = DD._docs(spark, sf_dir).select("doc_id")
    out = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", (F.col("doc_id") == F.col("cluster_id")))
    )
    return out

def embedding_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clusters over `embeddings`: BOUNDED cosine-near-dup
    edges (LSH-bucketed, per-doc top-m neighbor cap — r12 verdict item 1)
    → transitive closure → per-vector (vec_id, cluster_id, is_canonical).
    The embedding-space counterpart of dedup_clusters' lexical shingle
    clustering — the two compose into the standard near-dup stack
    (lexical catches edits, semantic catches paraphrase).

    Scale story (r13, r12 verdict item 1): the edge stream feeding
    connected components is similarity.rep_near_dup — each LSH bucket's
    members connect through ONE representative, so CC sees at most one
    edge per vector and the engine evaluates at most one cosine per
    vector, O(n) compute AND output even when a near-dup cluster is
    quadratically dense (previously this read the unbounded
    cosine_near_dup pair stream and materialized Θ(cluster²) CC edges —
    the r12 sweep's one superlinear row). The SemDeDup-style trade,
    documented on rep_near_dup: members similar to each other but not
    to their bucket's representative split off. O(log d) pointer-jumping
    components; vectors with no semantic near-dup are their own
    cluster."""
    from ..operators import similarity as SIM

    pairs = SIM.rep_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    vecs = SIM._emb(spark, sf_dir).select("vec_id")
    return (
        vecs.join(comp, vecs["vec_id"] == comp["node"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("comp"), F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("vec_id") == F.col("cluster_id"))
    )

def _embedding_cluster_dedup_oracle() -> str:
    from ..operators import similarity as SIM

    return f"""
WITH RECURSIVE pairs AS (
    {SIM.REP_NEAR_DUP_ORACLE.strip().rstrip(';')}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
    SELECT a AS node, a AS comp FROM edges
    UNION
    SELECT e.a AS node, r.comp
    FROM reach r JOIN edges e ON e.b = r.node
),
labels AS (
    SELECT node, min(comp) AS comp FROM reach GROUP BY node
)
SELECT v.vec_id,
       coalesce(l.comp, v.vec_id) AS cluster_id,
       v.vec_id = coalesce(l.comp, v.vec_id) AS is_canonical
FROM embeddings v LEFT JOIN labels l ON l.node = v.vec_id
"""

# The oracle replays the pair SQL, then computes min-reachable-label with a
# recursive CTE (UNION dedupes, so the recursion reaches a fixpoint).
DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
    {DD.NGRAM_JACCARD_ORACLE.strip().rstrip(';')}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
    SELECT a AS node, a AS comp FROM edges
    UNION
    SELECT e.a AS node, r.comp
    FROM reach r JOIN edges e ON e.b = r.node
),
labels AS (
    SELECT node, min(comp) AS comp FROM reach GROUP BY node
)
SELECT d.doc_id,
       coalesce(l.comp, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(l.comp, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
"""

EMBEDDING_CLUSTER_DEDUP_ORACLE = _embedding_cluster_dedup_oracle()


# ------------------------------------------------------------------ PageRank

#: iteration count (unrolled verbatim in the SQL oracle) and the integer
#: quantization: ranks live in units of 1e-12 so every step is BIGINT
#: arithmetic — damping 0.85 becomes (85*r) div (100*outdeg), identical in
#: Spark (`div`) and DuckDB (`//`) — no float fold order, no libm.
PR_ITERS = 3
PR_SCALE = 10**12
PR_OUT_DEG = 3
# oracle edge spine rendered from the same constant as the Spark side
_PR_SPINE = ", ".join(str(j) for j in range(1, PR_OUT_DEG + 1))


def _link_edges(spark: SparkSession, sf_dir: str):
    """(nodes, directed-edge expression) of the deterministic document
    link graph — doc d links to (31·d + j) mod N for j = 1..PR_OUT_DEG —
    shared by pagerank_links and triangle_count so the edge law lives in
    ONE place (the SQL oracles render the same spine from PR_OUT_DEG).
    Returns the lineage-truncated (doc_id, n) node table and the exploded
    (src, dst) edge DataFrame, also truncated (both are multi-consumed
    inside iterative/multi-branch plans — see the plan-audit note)."""
    docs = DD._docs(spark, sf_dir).select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    nodes = docs.crossJoin(F.broadcast(n)).localCheckpoint(eager=False)
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(*[
            (F.col("doc_id") * 31 + F.lit(j)) % F.col("n")
            for j in range(1, PR_OUT_DEG + 1)
        ])).alias("dst"),
    )
    return nodes, edges


def pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a deterministic document link graph — the
    link-authority score a web-corpus pipeline mixes into quality filtering
    (alongside quality_scores/lm_bigram_score). The testdata has no link
    column, so the graph is derived arithmetically (doc d links to
    (31*d + j) mod N for j = 1..3 — fixed out-degree 3, reproducible in
    SQL); with a real crawl the edge list drops in unchanged.

    The iterative-DataFrame shape (like connected_components, with a fixed
    iteration count instead of a fixpoint test): per round, ranks join
    edges on src (shuffle keyed on the rank side's doc_id), contributions
    min-aggregate onto dst, and a left join restores no-inlink nodes at the
    damping floor. Rounds are lineage-truncated via localCheckpoint.

    Exactness: rank(v) ← (15*SCALE) div (100*N) + Σ_u→v (85*r_u) div 300,
    all BIGINT — the oracle unrolls the same three rounds in CTEs and
    hash-matches bit-for-bit. (The div-per-edge quantization loses < 1
    rank-unit per in-edge vs rational arithmetic — negligible at SCALE=1e12
    and applied identically on both engines.)
    """
    # nodes joins back into EVERY iteration's damping-floor restore and
    # edges into every contribution join — both lineage-truncated once
    nodes, edges = _link_edges(spark, sf_dir)
    edges = edges.localCheckpoint(eager=False)
    ranks = nodes.select(
        "doc_id", F.expr(f"{PR_SCALE} div n").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr(f"(85 * r) div (100 * {PR_OUT_DEG})")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes["doc_id"] == contrib["dst"], "left")
            .select(
                "doc_id",
                (F.expr(f"(15 * {PR_SCALE}) div (100 * n)")
                 + F.coalesce("c", F.lit(0))).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("doc_id", F.col("r").alias("rank_q"))


def _pagerank_round(prev: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT nd.doc_id, base.b + COALESCE(s.c, 0) AS r
    FROM nodes nd CROSS JOIN base
    LEFT JOIN (
        SELECT e.dst AS doc_id, sum((85 * r.r) // (100 * {PR_OUT_DEG})) AS c
        FROM edges e JOIN {prev} r ON r.doc_id = e.src
        GROUP BY e.dst
    ) s USING (doc_id)
)"""


PAGERANK_LINKS_ORACLE = f"""
WITH n AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT doc_id FROM documents),
edges AS (
    SELECT doc_id AS src, (doc_id * 31 + j) % n.n AS dst
    FROM documents CROSS JOIN n, unnest([{_PR_SPINE}]) AS t(j)
),
base AS (SELECT (15 * {PR_SCALE}) // (100 * n.n) AS b FROM n),
r0 AS (SELECT doc_id, ({PR_SCALE} // n.n) AS r FROM nodes CROSS JOIN n),
{",".join(_pagerank_round(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))}
SELECT doc_id, CAST(r AS BIGINT) AS rank_q FROM r{PR_ITERS}
"""


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the dedup decision: per KEPT (canonical) document, the
    cluster size and how many near-duplicates were dropped with it — the
    step that turns dedup_clusters' labeling into the actual corpus cut,
    plus the per-cluster accounting a pipeline report needs.

    One aggregate over the cluster labeling (already partitioned by the
    component join), then a semi-join back to documents for the kept rows —
    at 100 TB the heavy operand (documents) moves once, on its own key.
    """
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"))
    return (
        clusters.where(F.col("is_canonical"))
        .join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("cluster_size") - 1).alias("dropped_near_dups"),
        )
    )


DEDUP_APPLY_ORACLE = f"""
WITH labeled AS (
    {DEDUP_CLUSTERS_ORACLE.strip()}
),
sizes AS (
    SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
       CAST(s.cluster_size - 1 AS BIGINT) AS dropped_near_dups
FROM labeled l JOIN sizes s USING (cluster_id)
WHERE l.is_canonical
"""


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-accounting dashboard: per (lang, source), document and
    whitespace-token totals BEFORE and AFTER near-dup dedup — the
    before/after picture every training-data run reports.

    Shape: the dedup labeling joins the documents scan on doc_id (one
    shuffle of narrow rows), then ONE conditional aggregate produces both
    sides of the before/after — no second pass, no union of two scans.
    """
    from ..functions import text as TXT

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "is_canonical")
    d = DD._docs(spark, sf_dir).select(
        "doc_id", "lang", "source", TXT.n_tokens(F.col("text")).alias("toks"))
    joined = d.join(clusters, "doc_id")
    keep = F.col("is_canonical").cast("long")
    return joined.groupBy("lang", "source").agg(
        F.count("*").alias("docs"),
        F.sum(keep).alias("kept_docs"),
        F.sum("toks").alias("tokens"),
        F.sum(F.col("toks") * keep).alias("kept_tokens"),
    )


CORPUS_REPORT_ORACLE = f"""
WITH labeled AS (
    {DEDUP_CLUSTERS_ORACLE.strip()}
)
SELECT d.lang, d.source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN l.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tokens,
       CAST(sum(CASE WHEN l.is_canonical
                THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
           AS kept_tokens
FROM documents d JOIN labeled l USING (doc_id)
GROUP BY d.lang, d.source
"""


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global + per-node triangle counting over the deterministic document
    link graph (pagerank_links' edges, undirected/deduped) — the third
    classic distributed-graph operator next to connected components and
    PageRank, and the standard clustering-coefficient ingredient.

    Degree-ordered orientation: every undirected edge {u,v} is kept once,
    directed from the endpoint with (degree, id)-smaller rank to the
    larger. Each triangle then has exactly ONE wedge (u→v, u→w) at its
    minimum-rank vertex, so the wedge join u→v ⋈ u→w (v<w by rank) plus
    one edge-existence semi-join counts each triangle once — and the wedge
    fan-out is bounded by the ORIENTED out-degree, which the orientation
    caps near sqrt(|E|) even on power-law graphs (the reason every
    production triangle counter orients by degree first).

    Output: per-vertex triangle membership counts (vertices in no
    triangle excluded — membership is computed by unioning the three
    corners, so absence means zero).
    """
    _, dir_edges = _link_edges(spark, sf_dir)
    und = (
        dir_edges
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))  # drop self-loops
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        # und is consumed FOUR times (degree sides, orientation, closing-
        # edge probe); without lineage truncation Catalyst replays the
        # build per use — 66 scans / 130 exchanges in the executed plan
        # (caught by scripts/plan_audit.py). Same localCheckpoint pattern
        # as pagerank's edge list.
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("x")).union(und.select("v"))
        .groupBy("x").agg(F.count("*").alias("d"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when((F.col("du") < F.col("dv"))
                   | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                   F.struct(F.col("u").alias("s"), F.col("v").alias("t")))
             .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
             .alias("e"))
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint(eager=False)  # consumed by BOTH wedge sides
    )
    w1 = ranked.select(F.col("s").alias("u"), F.col("t").alias("v"))
    w2 = ranked.select(F.col("s").alias("u"), F.col("t").alias("w"))
    wedges = w1.join(w2, "u").where(F.col("v") < F.col("w"))
    # closing edge may be oriented either way; und is canonical (u<v) and
    # v<w here, so probe und directly
    tri = wedges.join(
        und.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"], "left_semi"
    ).select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("c"))
    corners = tri.select(F.col("a").alias("node")) \
        .union(tri.select("b")).union(tri.select("c"))
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


TRIANGLE_COUNT_ORACLE = f"""
WITH n AS (SELECT count(*) AS n FROM documents),
raw AS (
    SELECT doc_id AS a, (doc_id * 31 + j) % n.n AS b
    FROM documents CROSS JOIN n, unnest([{_PR_SPINE}]) AS t(j)
),
und AS (
    SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
    FROM raw WHERE a <> b
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM und e1
    JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
),
corners AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS triangles
FROM corners GROUP BY node
"""
