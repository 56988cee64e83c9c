"""Iterative graph algorithms on DataFrames: connected components.

The one place this engine runs a driver-side loop — label propagation
for connected components, the step that turns near-duplicate PAIRS
into dedup CLUSTERS (pick one canonical doc per cluster, drop the
rest: the standard web-scale dedup pipeline tail).

Scale shape: each iteration is one join + one min-aggregation, both
hash-partitioned on the vertex id — the same partitioning every
iteration, so at 100 TB the shuffle is stable and AQE-coalesced.
Iterations needed = graph diameter in label-hops (O(log n) for
near-dup clusters, which are tiny and dense). ``localCheckpoint``
truncates lineage each round — without it the plan tree doubles per
iteration and the driver dies long before the data does.

The DuckDB oracle computes the same components with a RECURSIVE CTE
(min reachable vertex id) — an independent fixpoint formulation
agreeing on every cluster assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 200,
    edges_within_vertices: bool = False,
) -> DataFrame:
    """Min-label propagation. vertices: (id); edges: (src, dst).
    Returns (id, component) where component = min id in the component.

    r15 fast path (VERDICT r14 item 2): below SMALL_GRAPH_EDGE_CAP the
    components are resolved by ONE bounded driver-side union-find
    (components_unionfind_small) instead of the per-round fixpoint's
    ~3-tiny-jobs-per-round cadence, and the result re-enters the plan
    as a broadcast remap over the vertex relation — vertex-cardinality
    data never leaves the cluster, only the CAPPED edge list is
    collected. Semantic guard (the r14-mapped trap): the distributed
    loop computes components of the VERTEX-INDUCED subgraph — a label
    only propagates along an edge whose src is a vertex (the sym-join
    matches nothing otherwise) and only lands on a dst that is a
    vertex (the left join drops the rest) — while a raw-edge
    union-find would connect two vertices THROUGH a non-vertex
    endpoint. The edge set is therefore pre-restricted with two
    vertex-keyed semi-joins before any driver-side collect (and before
    the distributed loop too, which shrinks its per-round join for
    free). ``edges_within_vertices=True`` skips the two semi-joins
    when the CALLER proves every endpoint is a vertex (the near-dup
    callers derive both relations from the same doc set); the
    non-vertex-endpoint case is property-pinned in tests/test_graph.py.

    Labels move one hop per iteration, so convergence takes O(graph
    diameter) rounds — near-dup clusters are dense (diameter ~ a few),
    but a pathological chain needs its full length. ``max_iter`` is a
    safety bound only: exhausting it without convergence RAISES rather
    than silently returning split components (which would let two
    'canonical' docs survive from one duplicate family).

    Convergence detection is a label-sum fixpoint, not a new-vs-old
    join: every label is monotone NON-INCREASING (least of itself and
    the neighborhood min), so the label sum is strictly decreasing
    until the fixpoint and sum-unchanged <=> no label changed. That
    makes the per-iteration check a map + 1-row aggregate over the
    fresh labels instead of an N-row equi-join against the previous
    labels — for sparse near-dup graphs (edges << vertices) that join
    was the dominant per-iteration shuffle. The sum is exact DECIMAL
    (38,0): no float rounding, no BIGINT overflow at any realistic
    vertex-id x corpus scale.

    The symmetrized edge list and the initial labels are MATERIALIZED
    before the loop (r7 — the pagerank ewd treatment): unpersisted,
    every iteration's job re-derived ``edges``/``vertices`` from their
    FULL upstream lineage — for neardup_clusters that is the entire
    MinHash shingle->band->verify pipeline, re-executed once per
    label-propagation round. The loop must only ever join
    edge-cardinality cached rows against node-cardinality checkpointed
    labels; the cache is released before returning (the returned
    labels are checkpointed, so the release can never trigger a
    recompute)."""
    e = edges.select("src", "dst")
    if not edges_within_vertices:
        # restrict to the vertex-induced subgraph BEFORE the cap probe
        # (see the docstring's semantic guard); both semi-joins are
        # vertex-keyed and also shrink the distributed fallback's
        # per-round join when the probe overflows the cap
        e = (
            e.join(
                vertices.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .join(vertices.select(F.col("id").alias("dst")), "dst", "left_semi")
            # USING-joins move the join key FIRST, so after the dst
            # semi-join the column ORDER is (dst, src) — and the
            # fixpoint's position-based unionAll would silently build a
            # half-reversed sym relation. Re-project the contract order.
            .select("src", "dst")
        )
    # persisted for BOTH outcomes of the probe: the count materializes
    # the (possibly expensive — minhash LSH for the near-dup callers)
    # edge derivation exactly once, the collect or the fixpoint loop
    # reuses it, and every exit releases it in the finally below
    e = e.persist()
    try:
        # the cap is read from module scope at CALL time (not the
        # helper's def-time default) so tests can pin the distributed
        # path by monkeypatching SMALL_GRAPH_EDGE_CAP
        small = components_unionfind_small(e, edge_cap=SMALL_GRAPH_EDGE_CAP)
        if small is not None:
            remap = [(n, c) for n, c in small if n != c]
            if not remap:
                return vertices.select("id", F.col("id").alias("component"))
            from pyspark.sql.types import StructField, StructType

            spark = vertices.sparkSession
            id_type = vertices.schema["id"].dataType
            # ONE parallelize slice — createDataFrame would split the
            # local rows into defaultParallelism near-empty python
            # slices and the broadcast BUILD would either schedule a
            # core-count task wave or (coalesced) execute them all
            # sequentially in one task (the r14/r15 kmeans finding)
            remap_df = spark.createDataFrame(
                spark.sparkContext.parallelize(remap, 1),
                StructType(
                    [
                        StructField("_rm_id", id_type),
                        StructField("_rm_comp", id_type),
                    ]
                ),
            )
            return (
                vertices.join(
                    F.broadcast(remap_df),
                    F.col("id") == F.col("_rm_id"),
                    "left",
                )
                .select(
                    "id", F.coalesce("_rm_comp", F.col("id")).alias("component")
                )
            )
        return _cc_fixpoint(vertices, e, max_iter)
    finally:
        e.unpersist()


def _cc_fixpoint(vertices: DataFrame, e: DataFrame, max_iter: int) -> DataFrame:
    """The distributed min-label fixpoint over a PERSISTED, vertex-
    induced edge relation — the above-cap path, verbatim from the
    pre-r15 loop (only the edge restriction/persist moved to the
    caller so the cap probe shares the materialization)."""
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    label_sum = F.sum(F.col("component").cast("decimal(38,0)"))

    def _checked_sum(df: DataFrame):
        # r7 ADVICE: in non-ANSI mode a decimal(38,0) overflow yields
        # NULL, and None == None would read as a (wrong) fixpoint —
        # split components returned silently. Fail loud instead; the
        # empty-vertex case (sum of zero rows is NULL) converges on
        # the first comparison legitimately, so allow it only there.
        s = df.agg(label_sum).collect()[0][0]
        if s is None and df.limit(1).count() > 0:
            raise RuntimeError(
                "connected_components label-sum overflowed decimal(38,0) — "
                "convergence check would silently treat NULL==NULL as a "
                "fixpoint; label ids exceed the supported range"
            )
        return s

    # released on EVERY exit — return, non-convergence raise, or a
    # _checked_sum overflow raise mid-loop: the per-micro-batch
    # streaming caller (cc_labels_sink, r13) turns any leaked block
    # into a recurring tax on the shared JVM (r13 review — the same
    # rule the index-batch bodies adopted from the r12 ADVICE)
    try:
        lab = vertices.select("id", F.col("id").alias("component")).localCheckpoint(
            eager=True
        )
        prev_sum = _checked_sum(lab)
        for _ in range(max_iter):
            nbr = (
                sym.join(lab, sym["src"] == lab["id"])
                .select(F.col("dst").alias("id"), F.col("component"))
                .groupBy("id")
                .agg(F.min("component").alias("nbr_min"))
            )
            new = lab.join(nbr, "id", "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
            new = new.localCheckpoint(eager=True)
            cur_sum = _checked_sum(new)
            lab = new
            if cur_sum == prev_sum:
                return lab
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations; raise max_iter (graph diameter exceeds the bound)"
        )
    finally:
        # safe even for the returned labels: they are eagerly
        # localCheckpointed, so releasing the edge cache can never
        # trigger a recompute of the result
        sym.unpersist()


# Bounded-driver fast path for SMALL edge sets (r14, VERDICT r13
# item 1): the streaming cc face's LABEL graph is <= 2x batch pairs
# nodes by construction (contraction collapses all prior history into
# single nodes), so the distributed fixpoint's per-round
# localCheckpoint + 1-row-sum cadence — ~3 tiny jobs per round, the
# 348-stage profile that made the face's sf0.1 wall suite-sensitive —
# buys nothing. Below this cap a driver-side union-find computes the
# identical min-label components in ONE collect. The cap bounds
# driver memory explicitly (200k edges ~ a few MB — the same bounded-
# collect class as the fixpoint probes); above it the caller falls
# back to the distributed loop, which is the right tool there.
SMALL_GRAPH_EDGE_CAP = 200_000


def components_unionfind_small(
    edges: DataFrame, edge_cap: int = SMALL_GRAPH_EDGE_CAP
) -> list[tuple] | None:
    """Min-label connected components of a SMALL (src, dst) edge set,
    computed driver-side: returns [(node, component)] for every edge
    endpoint, component = min node id in the component — exactly what
    ``connected_components`` returns over the endpoint vertex set
    (equivalence property-pinned in tests/test_graph.py) — or None
    when the edge count exceeds ``edge_cap`` (caller must fall back).
    Count-then-collect, both parallel jobs — a limit(cap+1).collect()
    probe would run CollectLimitExec's SEQUENTIAL partition stepping
    (measured ~1 s/batch of scheduler latency on the cc face); the
    callers persist the edge relation, so the count materializes the
    cache the fallback path needs anyway. An empty edge set returns
    [] after the count, with no collect. Union-by-min with path
    compression."""
    n_edges = edges.count()
    if n_edges > edge_cap:
        return None
    if n_edges == 0:
        return []
    rows = edges.select("src", "dst").collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root: the surviving root is the smaller id,
            # which keeps every root the component's min — the same
            # invariant min-label propagation converges to
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(n, find(n)) for n in parent]


def neardup_clusters(docs: DataFrame) -> DataFrame:
    """Cluster near-duplicate documents (MinHash-LSH verified pairs)
    and pick the canonical keeper per cluster.

    Output: one row per document — cluster_id (min doc_id in its
    component; singletons cluster alone), cluster_size, and is_kept
    (true for the canonical doc). Filtering is_kept deduplicates the
    corpus with exactly one survivor per near-dup family."""
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    verts = docs.select(F.col("doc_id").alias("id")).distinct()
    # edges_within_vertices: both relations derive from the same docs,
    # so every pair endpoint IS a vertex — the induced-subgraph
    # restriction is a no-op here and the semi-joins are skipped (r15)
    comp = connected_components(verts, edges, edges_within_vertices=True)
    sized = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sized, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("id") == F.col("component")).alias("is_kept"),
        )
    )


def dedup_survivors(docs: DataFrame) -> DataFrame:
    """The deduplicated corpus: every document whose cluster keeper it
    is — the final artifact of exact+near dedup (pairs -> clusters ->
    one survivor per family). Downstream training jobs read THIS."""
    keep = neardup_clusters(docs).filter(F.col("is_kept")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def dedup_survivors_quality(docs: DataFrame) -> DataFrame:
    """Quality-aware canonical selection — the production refinement of
    ``dedup_survivors``: instead of keeping the min-doc_id member of
    each near-dup family, keep the member the hashed linear classifier
    (text.quality_classifier_score) scores HIGHEST, with min doc_id as
    the deterministic tie-break. Real pipelines dedup this way round:
    the duplicate you keep should be the best-written copy, not the
    first-crawled one.

    Output: one row per cluster — (cluster_id, cluster_size,
    kept_doc_id, kept_score_raw).

    Scale shape: clusters come from the CC loop (already inventoried);
    the classifier is a zero-shuffle map; their doc_id equi-join is a
    corpus-sized shuffle join (neither side broadcastable), and the
    winner per cluster is ONE cluster-keyed aggregation using an
    integer-exact struct max (score_raw BIGINT, then -doc_id), so both
    engines agree without float comparisons."""
    from flink_kafka_filter_transform_spark.operators.text import (
        quality_classifier_score,
    )

    clusters = neardup_clusters(docs)
    quality = quality_classifier_score(docs).select("doc_id", "score_raw")
    joined = clusters.join(quality, "doc_id")
    best = F.max(
        F.struct(F.col("score_raw"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("_w")
    return (
        joined.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"), best)
        .select(
            "cluster_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (-F.col("_w.neg_id")).alias("kept_doc_id"),
            F.col("_w.score_raw").alias("kept_score_raw"),
        )
    )


def neardup_triangles(docs: DataFrame) -> DataFrame:
    """Triangle census of the near-dup graph — the density signal that
    separates genuine duplicate FAMILIES (template spam is clique-ish:
    every copy pairs with every other, triangles abound) from fragile
    CHAINS of borderline pairs (A~B~C where A!~C: zero triangles), the
    diagnostic for whether transitive-closure clustering is safe to
    apply at a given similarity threshold.

    Output: one row — (n_vertices, n_edges, n_triangles,
    triangles_per_edge), exact integers + one double division.

    Scale shape — the canonical distributed triangle enumeration:
    edges stored ORIENTED (doc_a < doc_b, as minhash_lsh_pairs emits
    them), so each triangle a<b<c is counted exactly once: the wedge
    join E(a,b) x E(b,c) partitions on the middle vertex b, the
    closing check is a semi-join of (a,c) against E reusing E's hash
    partitioning, and nothing is ever broadcast (the edge relation is
    corpus-pair-sized). Per-vertex wedge fan-out is degree^2 — bounded
    here because LSH_BUCKET_CAP already caps degrees upstream; the
    production refinement at extreme skew is degree-orientation
    (point edges low->high DEGREE instead of low->high id), which
    bounds fan-out by sqrt(|E|) without changing this plan's shape."""
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs

    # the oriented edge list is consumed FOUR times (both wedge sides,
    # the closing semi-join, and the edge census) — unmaterialized,
    # each consumer re-executed the MinHash shingle->band->verify
    # chain (the dominant subtree of this query's 1151-line r14 plan).
    # LSH-bounded pair volume: the checkpoint is bounded at any corpus
    # scale (r15, guide §3.3).
    e = minhash_lsh_pairs(docs).select("doc_a", "doc_b").localCheckpoint(eager=True)
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.doc_b") == F.col("e2.doc_a"))
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    closing = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tris = wedges.join(closing, ["a", "c"], "left_semi")
    n_vert = docs.agg(F.count_distinct("doc_id").alias("n_vertices"))
    n_edge = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        n_vert.crossJoin(F.broadcast(n_edge))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_triangles",
            F.when(
                F.col("n_edges") > 0,
                F.col("n_triangles").cast("double") / F.col("n_edges"),
            ).alias("triangles_per_edge"),
        )
    )


# PageRank fixed-point scale: total rank mass is ONE unit of 10^15, so
# per-node ranks stay ~1e15/N and every intermediate (85 * insum) fits
# a BIGINT at ANY corpus size — the scale does not grow with N.
PR_SCALE = 10**15
PR_ITERS = 5


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    iters: int = PR_ITERS,
    checkpoint_every: int = 8,
    release_caches: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85) in INTEGER fixed-point
    arithmetic: ranks are BIGINT units of 1/PR_SCALE, every step is
    integer multiply / floor-divide / sum — bit-identical on any
    engine, any partitioning, any association order (the float policy
    taken to its logical end: no doubles at all until the final
    readability cast). Floor division leaks < 1 unit of mass per edge
    per round — deterministic, and irrelevant at 1e15 scale.

    vertices: (node_id); edges: (src, dst) directed. Returns
    (node_id, rank_scaled BIGINT, rank DOUBLE).

    rank_i' = (15 * base) DIV 100  +  (85 * sum_in(rank_j DIV deg_j)) DIV 100
    with base = PR_SCALE DIV N (the uniform init — total mass fixed at
    PR_SCALE, so nothing overflows however large N grows).

    Scale shape: the edge list is augmented with out-degrees once and
    PERSISTED — cache, not localCheckpoint, deliberately: an
    ExistingRDD scan hides the Catalyst output partitioning, so every
    round would re-exchange the edge list, while the cached plan keeps
    "hash-partitioned by src" visible and each round shuffles only
    node-cardinality rank rows. Lineage is truncated every
    ``checkpoint_every`` rounds rather than every round: a handful of
    join+agg layers compile fine, and dropping the per-round barrier
    jobs took the sf0.1 5-round loop from 9.7 s to 3.3 s warm; long
    runs still checkpoint periodically so the plan tree stays bounded
    (connected_components keeps per-round checkpoints because its
    round count is data-dependent). Iteration count is FIXED (not
    convergence-tested): the oracle unrolls the same ``iters`` CTE
    steps."""
    vertices = vertices.persist()
    n = vertices.count()
    if n == 0:
        raise ValueError("pagerank needs a non-empty vertex set")
    base = PR_SCALE // n
    teleport = (15 * base) // 100
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ewd = edges.join(deg, "src").select("src", "dst", "deg").persist()
    ewd.count()  # materialize once, outside the timed loop's lineage
    # r15 note: a union-with-static-teleport-set rewrite of the
    # per-round vertices join was prototyped and MEASURED SLOWER
    # (9.2 s vs 7.0 s at sf0.1/32): the union breaks the loop's
    # exchange-reuse chaining (each round's vertices-join output is
    # already hash(node_id)-partitioned for the NEXT round's src join,
    # so the existing loop re-shuffles rank rows only once), while the
    # union forced a per-round two-branch exchange. Kept as-is.
    ranks = vertices.select("node_id", F.lit(base).cast("bigint").alias("rank_scaled"))
    for i in range(iters):
        insum = (
            ewd.join(ranks, ewd["src"] == ranks["node_id"])
            .select("dst", F.expr("rank_scaled DIV deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("insum"))
        )
        ranks = (
            vertices.join(insum, vertices["node_id"] == insum["dst"], "left")
            .select(
                "node_id",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(insum, 0)) DIV 100")
                ).cast("bigint").alias("rank_scaled"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    # Materialize the final ranks (node-cardinality rows) and RELEASE
    # the loop's caches: without the unpersist every invocation leaked
    # two cached relations for the session's lifetime, and the
    # accumulated storage blocks squeezed execution memory for every
    # LATER query (measured as systematic mid-suite slowdowns in the
    # 80-query bench). The eager checkpoint decouples the returned
    # frame from the caches so releasing them cannot trigger a
    # recompute. ``release_caches=False`` keeps the raw loop plan
    # inspectable (the plan gate asserts the InMemoryTableScan
    # structure that the checkpoint would truncate).
    if release_caches:
        ranks = ranks.localCheckpoint(eager=True)
        vertices.unpersist()
        ewd.unpersist()
    return ranks.select(
        "node_id",
        "rank_scaled",
        (F.col("rank_scaled").cast("double") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def supply_chain_pagerank(
    lineitem: DataFrame,
    iters: int = PR_ITERS,
    topk: int = 20,
    release_caches: bool = True,
) -> DataFrame:
    """PageRank centrality over the part<->supplier bipartite graph
    observed in shipments (nodes: parts and suppliers, one undirected
    edge per distinct (partkey, suppkey) pair — encoded 2*partkey /
    2*suppkey+1). The top-k hub report: which parts/suppliers sit at
    the center of the supply network. This is the engine's iterative-
    graph-centrality representative (alongside connected_components'
    fixpoint and k-means'/BPE's fixed-iteration loops).

    Scale shape: ONE fact shuffle builds the distinct edge list; the
    PageRank loop runs on edge-cardinality rows; top-k is a
    TakeOrdered on node-cardinality rows with a full deterministic
    tie-break (rank DESC, node_id ASC)."""
    e0 = (
        lineitem.select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        # materialized ONCE (r15, guide §3.3): the directed edge list
        # feeds both union branches of the symmetrized relation, which
        # in turn feeds the vertex universe, the degree aggregate AND
        # the ewd join — unmaterialized, the lineitem scan + distinct
        # re-executed up to 3x per run (measured: three ~4.4 s
        # scan+distinct stages inside one sf0.1 profile). The distinct
        # pair set IS the graph — far smaller than the fact table at
        # any scale, and the loop below already persists its derivates.
        .localCheckpoint(eager=True)
    )
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = edges.select(F.col("src").alias("node_id")).distinct()
    pr = pagerank(verts, edges, iters=iters, release_caches=release_caches)
    return (
        pr.select(
            F.when(F.col("node_id") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node_id DIV 2").alias("key"),
            "rank_scaled",
            "rank",
        )
        .orderBy(F.col("rank_scaled").desc(), F.col("node_type"), F.col("key"))
        .limit(topk)
    )


def kcore(
    vertices: DataFrame, edges: DataFrame, k: int = 2, max_iter: int = 12
) -> DataFrame:
    """k-core via iterative peeling: repeatedly drop vertices whose
    degree among the SURVIVORS is < k until a fixpoint. vertices:
    (id); edges: (src, dst), undirected (symmetrized here). Returns
    every input vertex as (id, in_kcore, core_degree) where
    core_degree is the vertex's degree inside the final core (0
    outside it).

    Convergence is a survivor-COUNT fixpoint: the survivor set is
    monotone non-increasing under peeling, so count-unchanged <=> no
    vertex was dropped <=> every survivor already has core degree
    >= k. Exhausting ``max_iter`` without convergence RAISES (the
    connected_components rule: a silently unconverged core would
    overstate density). Peeling removes >= 1 vertex per non-final
    round, but near-dup graphs converge in a few rounds: their
    clusters are clique-ish, and a clique either survives whole or
    dissolves in one round.

    Scale shape — the same discipline as connected_components: the
    symmetrized edge relation is persisted ONCE and every iteration
    joins it against a localCheckpoint'd survivor set (two semi-joins
    to keep only surviving endpoints — both hash-partitioned on the
    vertex id, the same partitioning every round) followed by one
    map-side-combined count aggregate; the convergence check is a
    1-row count. Nothing broadcasts (the edge relation is
    corpus-pair-sized; survivor sets start vertex-sized).

    Oracle-coverage note (r9 ADVICE): the registered neardup_kcore
    oracle derives its vertex universe from EDGE ENDPOINTS, which is
    exhaustive for that query (its vertices ARE the pair-list
    endpoints). This generic operator reports every row of the
    caller-supplied ``vertices`` relation — isolated vertices included
    as (in_kcore=false, core_degree=0). A future registration against
    a vertex table with isolated vertices must extend its oracle with
    the vertex relation as a CTE, or the row sets will diverge."""
    sym = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .persist()
    )
    surv = vertices.select("id").localCheckpoint(eager=True)
    prev_n = surv.count()
    for _ in range(max_iter):
        alive = (
            sym.join(surv, sym["src"] == surv["id"], "left_semi")
            .join(
                surv.withColumnRenamed("id", "_dst_id"),
                F.col("dst") == F.col("_dst_id"),
                "left_semi",
            )
        )
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree"))
        new = deg.filter(F.col("core_degree") >= k).select(
            F.col("src").alias("id")
        )
        new = new.localCheckpoint(eager=True)
        cur_n = new.count()
        surv = new
        if cur_n == prev_n:
            break
        prev_n = cur_n
    else:
        sym.unpersist()
        raise RuntimeError(
            f"kcore did not converge within {max_iter} peeling rounds — "
            "raising rather than returning an overdense pseudo-core"
        )
    # final core degrees: recompute against the CONVERGED survivors
    # (at the fixpoint the last deg was computed against this same
    # set, but re-deriving keeps the readout correct even when the
    # loop exits on the first pass)
    alive = (
        sym.join(surv, sym["src"] == surv["id"], "left_semi")
        .join(
            surv.withColumnRenamed("id", "_dst_id"),
            F.col("dst") == F.col("_dst_id"),
            "left_semi",
        )
    )
    final_deg = alive.groupBy("src").agg(
        F.count(F.lit(1)).alias("core_degree")
    )
    out = (
        vertices.select("id")
        .join(surv.withColumn("_in", F.lit(True)), "id", "left")
        .join(final_deg.withColumnRenamed("src", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("_in", F.lit(False)).alias("in_kcore"),
            F.coalesce("core_degree", F.lit(0)).cast("bigint").alias("core_degree"),
        )
    )
    out = out.localCheckpoint(eager=True)
    sym.unpersist()
    return out


def neardup_kcore(docs: DataFrame, k: int = 2) -> DataFrame:
    """k-core decomposition of the near-dup graph — the density audit
    BETWEEN neardup_triangles' single global census and
    neardup_clusters' transitive closure: the 2-core is exactly the
    part of the graph where clustering by connected components is
    structurally safe (every member is held by >= 2 independent
    near-dup edges), while vertices OUTSIDE it hang off the cluster by
    one borderline pair — the A~B~C chains where transitive closure
    over-merges (Lee et al. 2021's false-positive chain caveat). The
    production use: run CC only inside the k-core, re-audit the
    peeled fringe at a stricter threshold.

    Per ORIGINAL near-dup-graph vertex: (doc_id, in_kcore,
    core_degree). Fourth member of the iterative template family
    (kmeans / pagerank / CC / peeling), same persisted-edges +
    checkpointed-state discipline."""
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs

    # materialized ONCE (r15, guide §3.3): the vertex universe, the
    # peeling loop's symmetrized relation AND the final-readout joins
    # all derive from this pair list — unmaterialized, each re-executed
    # the MinHash chain. LSH-bounded volume.
    e = minhash_lsh_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return kcore(verts, e, k=k).select(
        F.col("id").alias("doc_id"), "in_kcore", "core_degree"
    )
