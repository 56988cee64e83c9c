"""K-means (Lloyd's algorithm) over the embeddings table — the
iterative-ML escape hatch, differentially tested.

Each iteration is two relational steps:
  1. assign  : broadcast the k centroids, score every vector's squared
               L2 distance (left-to-right double fold), keep the
               argmin (ties -> lower centroid id);
  2. update  : per-cluster elementwise mean via exact DECIMAL sums
               (order-independent, so shuffle order can't perturb the
               centroids) cast back to double; empty clusters keep
               their previous centroid.

Determinism is the point: seeded with the first k vectors and run a
FIXED number of iterations, both engines walk the identical centroid
trajectory, so the DuckDB oracle — the same two steps unrolled as a
CTE chain per iteration — agrees on every final assignment. This is
the template for iterative algorithms at 100 TB: per iteration one
broadcast (centroids are k x dim, tiny) + one aggregation shuffle
keyed (cluster, pos); the corpus is scanned once per iteration and
never re-shuffled by key.

Also wired as the learned-codebook upgrade of similarity.knn_ivf
(label cells -> k-means cells).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_kafka_filter_transform_spark.operators import params

K_DEFAULT = 4
ITERS_DEFAULT = 2
# Max farthest-point traversal length (kmeans_fit seeding="farthest"):
# each FPS round is a sequential full-input scan, so the traversal must
# NOT scale with a data-adaptive k — see the capped-hybrid note in
# kmeans_fit.
FPS_SEED_CAP = 8


def _sq_dist(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double fold of sum((x-y)^2) — see functions.vectors
    for the cross-engine fold-order contract."""
    ac = (F.col(a) if isinstance(a, str) else a).cast("array<double>")
    bc = (F.col(b) if isinstance(b, str) else b).cast("array<double>")
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Codebooks at or under this k are frozen to PLAN LITERALS per Lloyd
# round (a bounded driver collect — the route-rule-probe precedent):
# the codebook becomes one constant-folded array literal that the
# argmin fold reads in place, and the per-round checkpoint /
# broadcast-build / codebook-agg jobs all disappear. Above the cap
# (data-adaptive k on a huge corpus) the distributed
# broadcast-codebook path below is used unchanged.
CODEBOOK_LITERAL_CAP = 1024
# r15 (ADVICE r14): the k-cap alone does not bound the literal's SIZE —
# _cb_array_col builds an O(k*dim) SQL string re-parsed via F.expr at
# every call site and every Lloyd round, so k=1024 at dim 768 would be
# ~16 MB of SQL and ~1M literal AST nodes per expression (driver
# parse/constant-fold blowup). The literal path therefore also requires
# the TOTAL scalar count k*dim to stay under this cap; above it the
# distributed broadcast-codebook path is used even when k itself is
# small enough.
CODEBOOK_LITERAL_SCALAR_CAP = 64 * 1024


def _literal_ok(cb: list[tuple[int, list[float]]]) -> bool:
    """True when a collected codebook may enter the plan as ONE
    constant-folded literal: total scalar count bounded (k*dim, the
    r14 ADVICE gate — k alone does not bound the SQL string)."""
    return sum(len(vec) for _, vec in cb) <= CODEBOOK_LITERAL_SCALAR_CAP


def _dlit(x: float) -> str:
    """One double as a parseable SQL literal. repr() is the shortest
    round-trip decimal so finite doubles parse bit-identical; the
    non-finite values have NO bare-literal spelling ('nanD'/'infD' do
    not parse — r14 ADVICE) and round-trip exactly through CAST."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _collect_codebook(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """The (<= k)-row codebook as cid-ascending Python pairs. Bounded
    by construction (caller enforces CODEBOOK_LITERAL_CAP); doubles
    round-trip the driver exactly (IEEE754 both sides)."""
    cb = getattr(cents, "_sg_codebook", None)
    if cb is not None:
        return cb
    return sorted(
        (r["cid"], list(r["centroid"]))
        for r in cents.select("cid", "centroid").collect()
    )


def _local_cents(spark, cb: list[tuple[int, list[float]]]) -> DataFrame:
    """A LocalRelation (cid, centroid) frame for the frozen codebook —
    broadcasts and scans of it never launch a cluster job — with the
    literal pairs attached for the codegen argmin fast path."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("cid", LongType(), False),
            StructField("centroid", ArrayType(DoubleType()), True),
        ]
    )
    # ONE parallelize slice: PySpark's default createDataFrame splits
    # local rows into defaultParallelism slices (32 near-empty python
    # partitions for a 4-row codebook), so every consumer stage —
    # including broadcast BUILD jobs — would schedule 32 tasks for k
    # rows (the r14 finding). r15 follow-up: the r14 ``.coalesce(1)``
    # fix traded that for something WORSE — the single coalesced task
    # computes all 32 parent PYTHON partitions sequentially, one
    # python-worker round-trip each (measured 3.7-4.5 s per execution
    # of an 8-row relation vs 0.15 s with one slice at creation).
    df = spark.createDataFrame(spark.sparkContext.parallelize(cb, 1), schema)
    # the literal fast path is only advertised when the codebook fits
    # the SCALAR cap (k*dim — r15, ADVICE r14); an oversized codebook
    # keeps the frame-only shape and consumers take the broadcast path
    if _literal_ok(cb):
        df._sg_codebook = cb
    return df


def _cents_exploded(rows: DataFrame, cents: DataFrame) -> DataFrame:
    """``rows`` × codebook (adds ``cid``/``centroid`` to every row).
    Frozen codebook: explode of the ALL-LITERAL array — a pure map,
    no broadcast-build job, no join. Distributed codebook: the
    pre-r14 broadcast crossJoin, unchanged. Same row set either way
    (explode emits cid-ascending; consumers aggregate/rank, so order
    is immaterial)."""
    cb = getattr(cents, "_sg_codebook", None)
    if cb is not None:
        return rows.select(
            "*", F.explode(_cb_array_col(cb)).alias("_s")
        ).select(*rows.columns, "_s.cid", "_s.centroid")
    return rows.crossJoin(F.broadcast(cents.select("cid", "centroid")))


def _cb_array_col(cb: list[tuple[int, list[float]]]) -> Column:
    """The frozen codebook as an ALL-LITERAL ``_cents`` array
    expression (cid-ascending array<struct<cid, centroid>>). Every
    child is foldable, so ConstantFolding collapses the whole tree to
    ONE Literal — referencing it per row costs nothing, and the same
    argmin fold that runs over the broadcast ``_cents`` column runs
    over it unchanged: no join, no broadcast build, no codebook agg,
    hence no extra cluster jobs in the consuming query."""
    # ONE F.expr call: building this from per-element F.lit columns
    # costs a py4j round-trip per coordinate (k x dim calls per call
    # site — measured as seconds of pure driver chatter per query);
    # _dlit emits the shortest round-trip decimal (bit-identical parse)
    # and the CAST spelling for non-finite doubles (r14 ADVICE: a NaN
    # centroid coordinate must not yield unparseable SQL).
    parts = ", ".join(
        "named_struct('cid', {}L, 'centroid', array({}))".format(
            int(cid), ", ".join(_dlit(float(x)) for x in vec)
        )
        for cid, vec in cb
    )
    return F.expr(f"array({parts})")


def _cents_sorted(cents: DataFrame) -> DataFrame:
    """The (<= k)-row codebook folded into ONE cid-ascending array row
    (``_cents``: array<struct<cid, centroid>>), the broadcast unit of
    the map-side argmin. sort_array orders by the struct's first field
    (cid — distinct by construction), making the fold order
    deterministic regardless of collect_list's arrival order."""
    return cents.agg(
        F.sort_array(F.collect_list(F.struct("cid", "centroid"))).alias("_cents")
    )


_EMPTY_CODEBOOK = "_with_best_cell: empty codebook (no centroids to assign to)"


def _with_best_cell(
    rows: DataFrame,
    cents: DataFrame,
    d2: str | None = None,
    centroid: str | None = None,
) -> DataFrame:
    """``rows`` (any relation with a vector column ``v``) + its
    nearest-centroid assignment ``cid`` — computed MAP-SIDE.

    r14 optimization (guide §2.4 "remove shuffles outright"): the
    pre-r14 ``_assign`` cross-joined the broadcast codebook and ranked
    with a window partitioned by vec_id, which inflated the corpus
    k-fold through an Exchange + per-vector sort. Assignment is the one
    full-corpus pass every trainer, encoder and face pays, so it must
    not shuffle at all: here the codebook folds to a single sorted
    array row (``_cents_sorted``), broadcast-joins onto the corpus
    (1-row nested-loop — the same k-row broadcast as before, framed
    once), and ``array_min`` over per-centroid (d, cid) structs picks
    the winner per row. Struct ordering compares d first then cid —
    exactly the old window's (_d ASC, cid ASC) tie-break — and d is the
    identical ``_sq_dist`` fold, so assignments are bit-identical
    (tests/test_properties.py pins lloyd against the naive iterate).

    ``d2``/``centroid`` optionally expose the winning distance and
    centroid as columns, which lets callers that previously re-joined
    the corpus (``assign.join(vecs, "vec_id").join(broadcast(cents),
    "cid")``) skip both joins: the fold already holds the winner.
    """
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                _sq_dist(F.col("v"), s["centroid"]).alias("d"),
                s["cid"].alias("cid"),
            ),
        )
    )
    cb = cents if isinstance(cents, list) else getattr(cents, "_sg_codebook", None)
    if cb is not None and not cb:
        # r14 ADVICE: the broadcast path's agg-without-groupBy emits one
        # empty-array row for a 0-row codebook, so an empty codebook
        # would silently assign every row a NULL cid instead of the
        # 0-row output the pre-r14 crossJoin produced. Unreachable from
        # current callers (empty cents implies empty vecs) — fail loud
        # rather than emit NULL assignments from a latent new caller.
        raise ValueError(_EMPTY_CODEBOOK)
    if cb is not None:
        # literal-codebook fast path: ``_cents`` is a plan CONSTANT
        # (lloyd froze the codebook under CODEBOOK_LITERAL_CAP), so the
        # consuming query carries zero joins, zero broadcast builds and
        # zero codebook-agg jobs for the assignment — same fold, same
        # doubles, same tie-break as the broadcast path below.
        out = rows.withColumn("_cents", _cb_array_col(cb)).withColumn("_best", best)
    else:
        # The same empty-codebook guard, inside the plan: the fold of a
        # 0-row codebook is one empty-array row, so a row assigned
        # against it fails instead of taking a NULL cid. No extra job.
        out = rows.crossJoin(F.broadcast(_cents_sorted(cents))).withColumn(
            "_best",
            F.when(F.size("_cents") > 0, best).otherwise(
                F.raise_error(F.lit(_EMPTY_CODEBOOK))
            ),
        )
    cols = [F.col(c) for c in rows.columns] + [F.col("_best.cid").alias("cid")]
    if d2 is not None:
        cols.append(F.col("_best.d").alias(d2))
    if centroid is not None:
        cols.append(
            F.element_at(
                F.filter(F.col("_cents"), lambda s: s["cid"] == F.col("_best.cid")), 1
            )["centroid"].alias(centroid)
        )
    return out.select(*cols)


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid): nearest centroid, ties to lower cid — the
    map-side fold (``_with_best_cell``), no Exchange, no window."""
    return _with_best_cell(vecs.select("vec_id", "v"), cents).select("vec_id", "cid")


def lloyd(
    vecs: DataFrame, cents: DataFrame, iters: int, k_hint: int | None = None
) -> DataFrame:
    """``iters`` Lloyd rounds with the (<= k)-row codebook EAGERLY
    localCheckpoint'd per round — the one shared loop every trainer
    uses (r12). Why per-round freezing matters: ``_update`` references
    the incoming codebook TWICE (inside the assignment it aggregates
    over AND as the empty-cell fallback of the left join), so an
    unfrozen chain DOUBLES per round — evaluating round k re-evaluates
    round k-1 twice unless exchange reuse happens to fire, and every
    downstream consumer of the returned codebook re-expands whatever
    chain survives (the '25 static SortMergeJoins vs 1' note that
    motivated the residual trainer's post-loop freeze). Checkpointing
    k rows per round costs one tiny job and bounds the work at exactly
    one assign + one update aggregate per round, which is the
    algorithm's floor. Measured at sf0.1 (SCALING.md r12): the
    full-suite trainer family dropped with no value change (CI parity
    re-hashes every consumer)."""
    if k_hint is not None and k_hint <= CODEBOOK_LITERAL_CAP:
        # r14 literal-freeze path: the (<= k)-row codebook is collected
        # to the driver each round (bounded by CODEBOOK_LITERAL_CAP —
        # the same bounded-collect class as the route-rule probe) and
        # re-enters the next round as plan CONSTANTS. Each round is
        # then exactly ONE cluster job: a codegen'd argmin map stage
        # feeding the (cid, pos) decimal-mean aggregate, collected
        # k x dim rows small. The pre-r14 cadence paid, per round, a
        # localCheckpoint job + a codebook-fold agg + two broadcast
        # builds — the tiny-job storm that made every trainer
        # scheduling-bound at bench scale and pure overhead at any
        # scale. Values are bit-identical: the aggregate SQL is
        # unchanged, doubles round-trip the driver exactly, and the
        # empty-cell keep-prev rule moves from a k-row join to k rows
        # of Python.
        spark = vecs.sparkSession
        cb = _collect_codebook(cents)
        if _literal_ok(cb):
            for _ in range(iters):
                cell = (
                    _with_best_cell(vecs, cb)
                    .select("cid", "v")
                    .select("cid", F.posexplode("v").alias("pos", "val"))
                    .groupBy("cid", "pos")
                    .agg(
                        (
                            F.sum(F.col("val").cast("decimal(28,18)")).cast("double")
                            / F.count(F.lit(1))
                        ).alias("cv")
                    )
                )
                new: dict[int, dict[int, float]] = {}
                for r in cell.collect():
                    new.setdefault(r["cid"], {})[r["pos"]] = r["cv"]
                cb = [
                    (cid, [new[cid][p] for p in range(len(prev))] if cid in new else prev)
                    for cid, prev in cb
                ]
            return _local_cents(spark, cb)
        # k fits the row cap but k*dim exceeds the SCALAR cap (r15,
        # ADVICE r14): the literal would be megabytes of SQL re-parsed
        # per round/call site. Re-enter the codebook as a 1-partition
        # local frame (the collect isn't wasted) and run the unchanged
        # distributed broadcast path below.
        cents = _local_cents(spark, cb)
    for _ in range(iters):
        # distributed big-k path (data-adaptive codebooks over the
        # literal cap): fused assign+member rows — the per-round corpus
        # pass is ONE map stage (argmin fold) straight into the update
        # aggregate, no vec_id re-join of the corpus to its own
        # assignment (r14)
        assigned = _with_best_cell(vecs, cents).select("cid", "v")
        cents = _update_assigned(assigned, cents).localCheckpoint(eager=True)
    return cents


def _update(vecs: DataFrame, assign: DataFrame, prev: DataFrame) -> DataFrame:
    """New per-cluster mean centroids; empty clusters keep prev.
    (Join-based compatibility shape over ``_update_assigned`` — the
    naive-iterate twin tests/test_properties.py pins lloyd against.)"""
    return _update_assigned(assign.join(vecs, "vec_id").select("cid", "v"), prev)


def _update_assigned(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """New per-cluster mean centroids from fused (cid, v) member rows;
    empty clusters keep prev."""
    pos = assigned.select("cid", F.posexplode("v").alias("pos", "val"))
    cell = pos.groupBy("cid", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(28,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("cv")
    )
    new = cell.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("_new")
    )
    # explicit hint: `new` is k rows by construction, but it sits behind
    # an aggregation so the static planner can't see its size and would
    # pick a sort-merge join pre-AQE
    return prev.join(F.broadcast(new), "cid", "left").select(
        "cid", F.coalesce("_new", F.col("centroid")).alias("centroid")
    )


# Bounded-driver fast path for the farthest-point traversal (r15,
# VERDICT r14 item 1): below this row cap the whole (vec_id, v)
# relation is collected ONCE and the k-1 traversal rounds run
# vectorized on the driver — replacing k-1 SEQUENTIAL TakeOrdered
# cluster jobs, each a full core-count task wave over a tiny sample
# (the scheduling-wave cadence behind embedding_neardup_fps's 3.7→9.6 s
# driver regression; its 8-vs-32-core scaling ratio of 0.62 showed the
# query was job-cadence-bound, not compute-bound). The same bounded-
# collect class as graph.SMALL_GRAPH_EDGE_CAP: FPS traversal inputs are
# a deterministic SAMPLE at production scale (see the docstring below),
# and above the cap the distributed per-round TakeOrdered path is kept
# verbatim.
FPS_DRIVER_ROWS_CAP = 65536


def _fps_driver_seeds(
    rows: list[tuple[int, list[float]]], k: int
) -> list[tuple[int, int, list[float]]] | None:
    """The farthest-point traversal over collected (vec_id, v) rows —
    bit-identical to the distributed per-round TakeOrdered walk, or
    None when the inputs are non-finite (Spark's NaN/Infinity total
    order differs from numpy's propagation semantics, so those corpora
    fall back to the distributed walk rather than risk a divergent
    tie-break).

    Exactness argument, term by term:
    - squared distance: numpy elementwise subtract/multiply are the
      same correctly-rounded IEEE754 double ops as the JVM's, and the
      per-coordinate accumulation below is an explicit LEFT-TO-RIGHT
      fold (acc = acc + sq[:, j], j ascending, acc starting at 0.0) —
      exactly ``_sq_dist``'s aggregate fold, coordinate for coordinate;
    - min over seeds: all distances are sums of non-negative terms from
      +0.0, so -0.0 never occurs and min is associative — the
      incremental ``minimum(mind, d2(new_seed))`` equals the full
      ``array_min`` over every seed that the distributed expression
      recomputes per round;
    - argmax tie-break: rows are sorted vec_id-ascending and np.argmax
      returns the FIRST maximum — the distributed (_d DESC, vec_id ASC)
      TakeOrdered row."""
    import numpy as np

    X = np.asarray([v for _, v in rows], dtype=np.float64)
    if not np.isfinite(X).all():
        return None
    ids = [int(i) for i, _ in rows]

    def d2_to(c: "np.ndarray") -> "np.ndarray":
        sq = (X - c) * (X - c)
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for j in range(X.shape[1]):  # left-to-right: _sq_dist's fold order
            acc = acc + sq[:, j]
        return acc

    seeds = [(0, ids[0], [float(x) for x in X[0]])]
    mind = d2_to(X[0])
    for i in range(1, k):
        a = int(np.argmax(mind))
        seeds.append((i, ids[a], [float(x) for x in X[a]]))
        if i < k - 1:
            mind = np.minimum(mind, d2_to(X[a]))
    return seeds


def farthest_point_seeds(
    vecs: DataFrame, k: int, n_rows: int | None = None
) -> DataFrame:
    """Deterministic farthest-point (greedy kmeans++-style) seeding:
    seed 0 is the lowest vec_id; each next seed is the vector with the
    MAXIMUM distance to its nearest chosen seed (ties -> lower
    vec_id). Each step is one broadcast of the <=k chosen seeds + a
    full-scan aggregate + a TakeOrdered(1) — k-1 corpus scans total.

    Why it exists: first-k seeding inherits the corpus's ROW ORDER —
    on a randomly-ordered corpus the first k rows are a de-facto
    random sample and Lloyd converges to the same codebook either way
    (measured: identical candidate pair mass at sf3, SCALING.md), but
    on an ingestion-sorted corpus (by source, by crawl time, by
    cluster) the first k rows all land in one region and the codebook
    degenerates. Farthest-point traversal makes seeding order-
    independent — insurance a production pipeline wants because it
    cannot assume its parquet arrives shuffled. At 100 TB the
    traversal runs on a deterministic sample, not the full corpus
    (sampling.py's content-hash filters compose for that).

    r14: the traversal is driver-paced anyway (each round's argmax
    depends on the last), so the <= FPS_SEED_CAP chosen seeds live as
    PYTHON literals between rounds — each round is ONE TakeOrdered job
    whose min-distance expression is flat codegen arithmetic over the
    seed constants (F.least of unrolled _sq_dist chains — the same
    doubles the old crossJoin + groupBy(vec_id) MIN aggregated, without
    inflating the corpus seed-fold through an Exchange), and the old
    per-round localCheckpoint of the seed set disappears. Same
    (_d DESC, vec_id ASC) argmax row per round, so the traversal is
    value-identical.

    r15 (VERDICT r14 item 1): below FPS_DRIVER_ROWS_CAP the whole
    traversal input is ONE bounded collect and the k-1 rounds run on
    the driver (_fps_driver_seeds, bit-exactness argued there) —
    replacing the k-1 sequential TakeOrdered jobs whose per-round
    core-count task wave made embedding_neardup_fps scheduling-bound
    at 32 cores. ``n_rows`` lets a caller that already counted the
    input (the adaptive-k consumers all do) skip the gate's count job;
    above the cap, or on NULL or non-finite inputs, the distributed
    per-round walk below runs verbatim."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("cid", LongType(), False),
            StructField("vec_id", LongType(), True),
            StructField("centroid", ArrayType(DoubleType()), True),
        ]
    )
    if n_rows is None:
        n_rows = vecs.count()
    if n_rows == 0:
        return vecs.sparkSession.createDataFrame([], schema)
    seeds: list[tuple[int, int, list[float]]] | None = None
    if n_rows <= FPS_DRIVER_ROWS_CAP:
        rows = vecs.select("vec_id", "v").collect()
        if all(i is not None and v is not None and None not in v for i, v in rows):
            seeds = _fps_driver_seeds(
                sorted((i, [float(x) for x in v]) for i, v in rows), k
            )
    if seeds is None:
        # distributed fallback: over the driver cap, NULL ids/vectors/
        # coordinates (Spark orders NULL distances last; numpy has no
        # NULL), or non-finite coordinates (Spark's NaN total order vs
        # numpy propagation)
        first = vecs.orderBy("vec_id").limit(1).select("vec_id", "v").first()
        if first is None:
            return vecs.sparkSession.createDataFrame([], schema)
        seeds = [(0, first["vec_id"], [float(x) for x in first["v"]])]
        for i in range(1, k):
            sarr = F.expr(
                "array({})".format(
                    ", ".join(
                        "array({})".format(", ".join(_dlit(float(x)) for x in c))
                        for _, _, c in seeds
                    )
                )
            )
            mind = F.array_min(F.transform(sarr, lambda c: _sq_dist(F.col("v"), c)))
            row = (
                vecs.select("vec_id", "v", mind.alias("_d"))
                .orderBy(F.col("_d").desc(), F.col("vec_id").asc())
                .limit(1)
                .first()
            )
            seeds.append((i, row["vec_id"], [float(x) for x in row["v"]]))
    # one parallelize slice, not coalesce(1) — see _local_cents (r15)
    out = vecs.sparkSession.createDataFrame(
        vecs.sparkSession.sparkContext.parallelize(seeds, 1), schema
    )
    cb = [(cid, c) for cid, _, c in seeds]
    if _literal_ok(cb):
        out._sg_codebook = cb
    return out


def kmeans_fit(
    vecs: DataFrame,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    seeding: str = "first",
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations over (vec_id, v) rows and return
    (final assignment (vec_id, cid), final centroids (cid, centroid)).
    Deterministic: seeding is first-k or farthest-point, ties to lower
    cid, decimal-exact centroid means — the DuckDB oracle replays the
    identical trajectory (_kmeans_ctes).

    The input vectors are materialized once (localCheckpoint) before
    the loop: every assign/update round (and every farthest-point
    seeding step) otherwise re-derives them from the source scan
    inside one nested plan — the same measured pathology as
    _pq_codebooks (semdedup_prune, the heaviest caller: 11.6 -> 4.2 s
    cold / 5.2 -> 3.8 s warm at sf0.1). Training inputs are a bounded
    sample at production scale, so the materialization never grows
    with the corpus.

    r14 follow-up: the checkpoint is re-spread to defaultParallelism
    FIRST — the map-side assign fold removed the Exchange that used to
    re-spread this relation, so a narrow input layout (a small parquet
    scan is ONE partition) would otherwise pin every Lloyd/seeding
    round to serial execution (the semdedup_text_prune dense-checkpoint
    lesson, guide §2.5/§2.2; embedding_neardup_fps measured a 4.8 s
    single-task stage at sf0.1 before this)."""
    vecs = vecs.repartition(
        vecs.sparkSession.sparkContext.defaultParallelism, "vec_id"
    ).localCheckpoint(eager=True)
    if seeding == "farthest":
        # Capped hybrid: a full farthest-point traversal is k-1
        # SEQUENTIAL corpus scans, and with data-adaptive k (= N/256,
        # adaptive_n_cells) that is O(N * k^2) work growing CUBICALLY
        # in N — the r6 sf3 study measured the uncapped form at 9.55x
        # runtime for 3x data (28 -> 270 s). The traversal's value is
        # order-independent SPREAD, which the first FPS_SEED_CAP seeds
        # already provide; the remaining k-nf seeds fill from the
        # first unchosen vec_ids (cids nf..k-1, deterministic), so the
        # blocking cardinality still tracks the corpus while seeding
        # work stays O(N * cap^2). The oracle unrolls exactly the cap
        # and mirrors the fill rank (BIGINT cids on both engines).
        nf = min(k, FPS_SEED_CAP)
        # n_rows (when the caller already counted the corpus for its
        # adaptive k) lets the r15 driver-side traversal skip its gate
        # count — see farthest_point_seeds
        fps = farthest_point_seeds(vecs, nf, n_rows=n_rows)
        cents = fps.select("cid", "centroid")
        # .select() returns a fresh DataFrame, losing the literal-path
        # attribute — without this carry-over lloyd() re-collected the
        # seed codebook from the parallelized local relation every fps
        # call (r15; the collect was also the 3.8 s coalesce(1) trap)
        if getattr(fps, "_sg_codebook", None) is not None and k <= nf:
            cents._sg_codebook = fps._sg_codebook
        if k > nf:
            w = Window.orderBy("vec_id")
            fill = (
                vecs.join(fps.select("vec_id"), "vec_id", "left_anti")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k - nf)
                .select(
                    (F.lit(nf - 1) + F.col("_rn")).cast("long").alias("cid"),
                    F.col("v").alias("centroid"),
                )
            )
            cents = cents.unionByName(fill)
    elif seeding == "first":
        cents = vecs.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
        )
    else:
        raise ValueError(f"unknown seeding {seeding!r}: use 'first' or 'farthest'")
    cents = lloyd(vecs, cents, iters, k_hint=k)
    return _assign(vecs, cents), cents


def kmeans_clusters(
    emb: DataFrame,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    seeding: str = "first",
    n_rows: int | None = None,
) -> DataFrame:
    """Final (vec_id, cluster_id) assignment after ``iters`` Lloyd
    iterations. ``seeding``: "first" (the first k vectors — the
    original deterministic baseline) or "farthest" (farthest-point
    traversal; better-spread codebooks on clustered corpora).
    ``n_rows``: optional known corpus row count (r15 — forwarded to the
    farthest-point seeding gate so adaptive-k callers don't re-count)."""
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    assign, _ = kmeans_fit(vecs, k, iters, seeding, n_rows=n_rows)
    return assign.select("vec_id", F.col("cid").alias("cluster_id"))


def kmeans_cluster_sizes(
    emb: DataFrame, k: int = K_DEFAULT, iters: int = ITERS_DEFAULT
) -> DataFrame:
    """Cluster cardinalities — the codebook balance report."""
    return kmeans_clusters(emb, k, iters).groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


def knn_ivf_kmeans(
    emb: DataFrame,
    k_neighbors: int = 5,
    n_cells: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """IVF vector search over the LEARNED k-means codebook — the
    production shape (similarity.knn_ivf uses label cells as a stand-in
    codebook). Queries rank the k centroids, probe the nprobe nearest
    cells, and scan only those cells' vectors."""
    from flink_kafka_filter_transform_spark.functions.vectors import cosine_similarity
    from flink_kafka_filter_transform_spark.operators import params

    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
    )
    cents = lloyd(vecs, cents, iters, k_hint=n_cells)
    # fused member rows (vec_id, v, cid): the map-side argmin keeps the
    # vector next to its cell id, so the probed-cell candidate join
    # needs no corpus self-join on vec_id (r14)
    member = _with_best_cell(vecs, cents)

    q = vecs.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("_cs").desc(), F.col("cid").asc())
    probed = (
        _cents_exploded(q, cents)
        .select("q_id", "q_vec", "cid", cosine_similarity("q_vec", "centroid").alias("_cs"))
        .withColumn("_cr", F.row_number().over(wp))
        .filter(F.col("_cr") <= nprobe)
        .select("q_id", "q_vec", "cid")
    )
    scored = (
        member.join(F.broadcast(probed), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_similarity("v", "q_vec").alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_neighbors)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


def _parallel_lloyd(
    slices: list[tuple[DataFrame, DataFrame]], iters: int, k: int
) -> list[tuple[DataFrame, DataFrame]]:
    """Train the per-subspace codebooks CONCURRENTLY from a small
    driver thread pool (r15, guide §2.6 'overlap independent jobs'):
    the m subspace Lloyd chains are mutually independent — each round
    is one tiny aggregate job whose cost is dominated by fixed
    scheduling latency, and running them sequentially serialized
    m x iters such waves per query. Spark's scheduler runs concurrent
    jobs FIFO with back-fill, so the wall cost of the training phase
    drops toward max (not sum) of the chains; trajectories are
    untouched (each chain runs the identical collect-per-round loop on
    its own relation — thread overlap changes WHEN jobs run, never
    what they compute)."""
    if len(slices) <= 1:
        return [(v, lloyd(v, c, iters, k_hint=k)) for v, c in slices]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(slices))) as pool:
        trained = list(
            pool.map(lambda vc: lloyd(vc[0], vc[1], iters, k_hint=k), slices)
        )
    return [(v, t) for (v, _), t in zip(slices, trained)]


def pq_train_report(
    emb: DataFrame, m: int = 4, k: int = K_DEFAULT, iters: int = ITERS_DEFAULT
) -> DataFrame:
    """Product-quantization codebook training report: the embedding is
    split into ``m`` contiguous subvectors and an independent k-means
    codebook (k cells, first-k seeding, fixed ``iters`` Lloyd rounds —
    the exact trajectory kmeans_clusters walks) is trained per
    subspace. Output: one row per (subspace, cluster) with its
    cardinality and quantization MSE (mean squared distance of member
    subvectors to their centroid) — the distortion/balance readout an
    IVF-PQ deployment checks before freezing a codebook.

    Why PQ at 100 TB: storing m 1-byte codes instead of the raw floats
    compresses 64x4-byte vectors 32x (m=4, k<=256), and ADC search
    scans codes with per-subspace lookup tables instead of full
    vectors. Training cost here is m x iters corpus passes; a
    production run trains on a deterministic content-hash SAMPLE
    (sampling.stratified_sample composes) and then ENCODES the full corpus
    in one map-only pass against the broadcast codebooks — training
    size and corpus size are decoupled.

    Float policy: subvector slicing is positional (no arithmetic);
    distances fold left-to-right in double; centroid means and MSE
    sums are exact DECIMAL — bit-identical to the oracle's unrolled
    per-subspace CTE chains.
    """
    out: DataFrame | None = None
    for j, (vecs, cents) in enumerate(_pq_codebooks(emb, m, k, iters)):
        # fused: the argmin fold already holds each member's distance
        # to its winning centroid, so the per-subspace report needs no
        # corpus self-join and no codebook re-join (r14; _d2 is the
        # identical _sq_dist double the old join recomputed)
        rep = (
            _with_best_cell(vecs, cents, d2="_d2")
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                (
                    F.sum(F.col("_d2").cast("decimal(28,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("mse"),
            )
            .select(
                F.lit(j).alias("subspace"),
                F.col("cid").alias("cluster_id"),
                "n_vectors",
                "mse",
            )
        )
        out = rep if out is None else out.unionByName(rep)
    assert out is not None
    return out


def _pq_codebooks(
    emb: DataFrame, m: int, k: int, iters: int, full: DataFrame | None = None
) -> list[tuple[DataFrame, DataFrame]]:
    """Per-subspace (subvectors, trained codebook) pairs: contiguous
    slice j of every embedding + the k-cell first-k-seeded codebook
    after ``iters`` Lloyd rounds (kmeans_clusters' exact trajectory,
    run independently per subspace).

    The casted full vectors and each subspace slice are materialized
    ONCE (localCheckpoint): without it every one of the m x iters
    assign/update rounds re-derives its input from the parquet scan
    inside one enormous nested plan — measured 11.8 s cold / 5.5 s
    warm at sf0.1 vs 4.2 s / 4.2 s checkpointed. Safe at scale
    because PQ training runs on a bounded deterministic SAMPLE (see
    pq_train_report's docstring) — what is materialized is
    sample-sized, never the corpus; the full-corpus ENCODE pass stays
    map-only against the broadcast codebooks.

    ``full`` (r15): a caller that ALREADY checkpointed the vectors to
    slice (knn_ivf_pq's re-spread coarse trainer input,
    knn_ivf_pq_residual's residuals) passes them as (vec_id, fv) and
    this helper slices that one materialization instead of
    checkpointing a second copy of the same rows."""
    if full is None:
        full = (
            emb.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("fv")
            )
            # re-spread before freezing: the map-side assign fold has no
            # Exchange left to widen a narrow scan (see kmeans_fit, r14)
            .repartition(
                emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
            )
        ).localCheckpoint(eager=True)
    sub_len = (F.size("fv") / F.lit(m)).cast("int")
    slices = []
    for j in range(m):
        # the slice is a pure map over the ONE checkpointed full-vector
        # relation — re-deriving it per consumer costs an array slice,
        # not a scan, so the pre-r14 per-slice eager checkpoint (m extra
        # jobs + m cached copies per query) bought nothing (r14)
        vecs = full.select(
            "vec_id", F.slice("fv", j * sub_len + 1, sub_len).alias("v")
        )
        cents = vecs.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
        )
        slices.append((vecs, cents))
    # the m independent Lloyd chains overlap on the scheduler (r15,
    # guide §2.6) — identical trajectories, wall ≈ max not sum
    return _parallel_lloyd(slices, iters, k)


def knn_pq_adc(
    emb: DataFrame,
    topk: int | None = None,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ-encoded
    corpus: every vector is stored as m sub-codebook cell ids; a
    query's distance to a vector is the SUM over subspaces of the
    query-to-centroid distance of the vector's cell — computed via a
    per-query (m x k)-entry lookup table, never the raw vectors.

    This is the memory-bound half of IVF-PQ: the corpus scan touches
    m smallints per vector instead of dim floats (32x less bandwidth
    at m=4, 256x-dim float32), which is what makes billion-vector
    search tractable. Exactness loss is measured by knn_pq_recall.

    Scale shape: codebooks (m x k centroids) and the per-query LUT
    (queries x m x k rows — queries are a bounded set by contract)
    BROADCAST; the encoded corpus joins the LUT map-side and the
    per-(query, vector) ADC sum is one aggregation of m-row groups
    keyed by (q_id, vec_id) — exact DECIMAL so the m-way sum is
    addition-order-proof; top-k is a per-query window over
    queries x corpus candidate rows.
    """
    topk = params.KNN_K if topk is None else topk
    subs = _pq_codebooks(emb, m, k, iters)
    enc: DataFrame | None = None
    lut: DataFrame | None = None
    for j, (vecs, cents) in enumerate(subs):
        e_j = _assign(vecs, cents).select(
            F.lit(j).alias("j"), "vec_id", "cid"
        )
        q_j = vecs.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
        l_j = _cents_exploded(q_j, cents).select(
            "q_id",
            F.lit(j).alias("j"),
            "cid",
            _sq_dist("qv", "centroid").alias("pd2"),
        )
        enc = e_j if enc is None else enc.unionByName(e_j)
        lut = l_j if lut is None else lut.unionByName(l_j)
    assert enc is not None and lut is not None
    adc = (
        enc.join(F.broadcast(lut), ["j", "cid"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(F.col("pd2").cast("decimal(28,18)"))
            .cast("double")
            .alias("adc_d2")
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "rank", "adc_d2")
    )


def knn_ivf_pq(
    emb: DataFrame,
    topk: int | None = None,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    n_cells: int = K_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ — the two-level index every billion-vector deployment
    actually runs (Jegou et al., the FAISS default): the coarse IVF
    quantizer restricts candidates to the ``nprobe`` nearest cells,
    and PQ-ADC scores ONLY those candidates through the per-query
    lookup tables. knn_ivf_kmeans scans probed cells at full
    precision; knn_pq_adc scans the whole corpus at PQ precision; this
    operator composes both reductions — candidate COUNT shrinks by
    ~nprobe/n_cells and candidate WIDTH shrinks to m code bytes, which
    multiply.

    Probing uses L2 centroid distance (consistent with ADC's L2
    metric, unlike the cosine-ranked knn_ivf_kmeans — mixing metrics
    between the coarse and fine stage is a classic recall bug).

    Scale shape: coarse codebook + probe set + sub-codebooks + LUTs
    all broadcast; the encoded corpus joins candidates on vec_id and
    the LUT map-side; the only wide relation is the candidate set
    (queries x probed-cell members), aggregated by exact DECIMAL m-way
    sums then per-query top-k."""
    from flink_kafka_filter_transform_spark.operators import params

    topk = params.KNN_K if topk is None else topk
    # Materialize the casted vectors once: the coarse Lloyd loop
    # otherwise re-derives them from the scan in every assign/update
    # round inside one nested plan (12.9 -> 4.8 s cold at sf0.1, same
    # lesson as _pq_codebooks). Coarse training runs on the same
    # bounded sample as PQ training in a production deployment, so the
    # materialization never grows with the corpus.
    vecs = (
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        # re-spread before freezing: the map-side assign fold has no
        # Exchange left to widen a narrow scan (see kmeans_fit, r14)
        .repartition(
            emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
        )
    ).localCheckpoint(eager=True)
    coarse0 = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
    )
    # r15 (guide §2.6): the coarse Lloyd chain and the m sub-codebook
    # chains are mutually independent trainers — overlap them on the
    # scheduler instead of serializing ~(1+m) x iters tiny-job rounds,
    # and slice the sub-trainers from THIS query's already-checkpointed
    # vectors instead of checkpointing a second copy of the same rows.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_coarse = _pool.submit(lloyd, vecs, coarse0, iters, n_cells)
        _f_subs = _pool.submit(
            _pq_codebooks, emb, m, k, iters,
            vecs.select("vec_id", F.col("v").alias("fv")),
        )
        coarse = _f_coarse.result()
        subs = _f_subs.result()
    member = _assign(vecs, coarse)

    q = vecs.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("_d2").asc(), F.col("cid").asc())
    probed = (
        _cents_exploded(q, coarse)
        .select("q_id", "cid", _sq_dist("qv", "centroid").alias("_d2"))
        .withColumn("_cr", F.row_number().over(wp))
        .filter(F.col("_cr") <= nprobe)
        .select("q_id", "cid")
    )
    cand = (
        member.join(F.broadcast(probed), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    enc: DataFrame | None = None
    lut: DataFrame | None = None
    for j, (svecs, cents) in enumerate(subs):
        e_j = _assign(svecs, cents).select(F.lit(j).alias("j"), "vec_id", "cid")
        q_j = svecs.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
        l_j = _cents_exploded(q_j, cents).select(
            "q_id", F.lit(j).alias("j"), "cid", _sq_dist("qv", "centroid").alias("pd2")
        )
        enc = e_j if enc is None else enc.unionByName(e_j)
        lut = l_j if lut is None else lut.unionByName(l_j)
    assert enc is not None and lut is not None
    adc = (
        cand.join(enc, "vec_id")
        .join(F.broadcast(lut), ["q_id", "j", "cid"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(F.col("pd2").cast("decimal(28,18)")).cast("double").alias("adc_d2")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "rank", "adc_d2")
    )


def knn_ivf_pq_recall(
    emb: DataFrame,
    topk: int | None = None,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    n_cells: int = K_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of the composed IVF-PQ search against EXACT L2 top-k —
    the number a deployment tunes nprobe against. Compared with
    knn_pq_recall (PQ loss alone), the delta isolates the COARSE
    stage's loss (true neighbors living in unprobed cells), the
    quantity that decides whether to spend more nprobe or more k."""
    topk = params.KNN_K if topk is None else topk
    approx = knn_ivf_pq(
        emb, topk=topk, m=m, k=k, iters=iters, n_cells=n_cells, nprobe=nprobe
    )
    return _recall_vs_exact(emb, approx, topk)


def knn_pq_recall(
    emb: DataFrame,
    topk: int | None = None,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
) -> DataFrame:
    """Recall@k of PQ-ADC search against EXACT L2 top-k (the same
    metric the quantized search approximates, so the readout isolates
    quantization loss from metric mismatch). Queries with zero overlap
    are kept (left join, coalesce 0)."""
    topk = params.KNN_K if topk is None else topk
    approx = knn_pq_adc(emb, topk=topk, m=m, k=k, iters=iters)
    return _recall_vs_exact(emb, approx, topk)


def knn_ivf_pq_residual(
    emb: DataFrame,
    topk: int | None = None,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    n_cells: int = K_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the actual FAISS IVFPQ design
    (Jegou et al. 2011 §IV.B): PQ quantizes x - centroid(cell(x)),
    not x. Residuals concentrate near the origin with far smaller
    per-coordinate spread than raw vectors (the coarse step has
    already explained the between-cell variance), so the same m x k
    code budget spends its centroids on a tighter distribution —
    lower quantization error, higher recall at identical index size.
    The price is query-side: the ADC lookup table becomes
    PER-PROBED-CELL (the query's residual differs per cell), nprobe x
    m x k entries instead of m x k — still a bounded broadcast.

    knn_ivf_pq (kept, unchanged) is the no-residual comparator; the
    recall twin pair quantifies the design delta on the same corpus.

    Scale shape: identical to knn_ivf_pq — coarse codebook, probe
    set, residual sub-codebooks, and the per-cell LUTs broadcast
    (nprobe*m*k rows per query, queries bounded by contract); the
    residual subtraction is map-side (coarse is k rows); trainers
    localCheckpoint sample-sized relations; the candidate relation is
    the only wide one, aggregated by exact DECIMAL m-way sums.

    Exactness note (shared by the whole kmeans family, verified
    empirically here): Lloyd centroids differ between engines at the
    last double ULP — DuckDB's DECIMAL(28,18)->DOUBLE conversion
    double-rounds through int128 where the JVM converts in one
    correctly-rounded step — so adc_d2 carries ULP-level noise that
    the oracle comparison absorbs under the driver's %.9g canon
    (residual vectors are full-mantissa doubles, unlike the
    float32-exact raw inputs, which is why this op documents the
    exposure the raw family merely inherits)."""
    from flink_kafka_filter_transform_spark.operators import params

    topk = params.KNN_K if topk is None else topk
    vecs = (
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        # re-spread before freezing: the map-side assign fold has no
        # Exchange left to widen a narrow scan (see kmeans_fit, r14)
        .repartition(
            emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
        )
    ).localCheckpoint(eager=True)
    coarse = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
    )
    # lloyd() freezes the (k-row) codebook per round, which subsumes
    # the old post-loop freeze: every later stage (member assignment,
    # residual subtraction, probing, query residuals) reads the stored
    # final round directly
    coarse = lloyd(vecs, coarse, iters, k_hint=n_cells)

    # residuals: rv = v - centroid[cell(v)], in the SAME map stage as
    # the assignment fold (r14): the winner's centroid comes out of the
    # broadcast codebook array, so there is no corpus self-join on
    # vec_id and no second codebook join before the subtraction
    resid = (
        _with_best_cell(vecs, coarse, centroid="_cent")
        .select(
            "vec_id",
            "cid",
            F.zip_with("v", "_cent", lambda a, b: a - b).alias("rv"),
        )
        .localCheckpoint(eager=True)
    )
    # the residual sub-codebooks train exactly like raw PQ's, sliced
    # from the checkpointed residuals instead of the raw vectors
    subs = _pq_codebooks(
        emb, m, k, iters, full=resid.select("vec_id", F.col("rv").alias("fv"))
    )

    q = vecs.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("_d2").asc(), F.col("cid").asc())
    probed = (
        _cents_exploded(q, coarse)
        .select("q_id", "cid", "centroid", "qv", _sq_dist("qv", "centroid").alias("_d2"))
        .withColumn("_cr", F.row_number().over(wp))
        .filter(F.col("_cr") <= nprobe)
        .select(
            "q_id",
            F.col("cid").alias("pcid"),
            F.zip_with("qv", "centroid", lambda a, b: a - b).alias("qrv"),
        )
    )
    # per-(query, probed cell) residual LUTs: nprobe*m*k rows/query
    lut: DataFrame | None = None
    enc: DataFrame | None = None
    for j, (svecs, cents) in enumerate(subs):
        e_j = _assign(svecs, cents).select(
            F.lit(j).alias("j"), "vec_id", F.col("cid").alias("scid")
        )
        q_sub_len = (F.size("qrv") / F.lit(m)).cast("int")
        l_j = (
            _cents_exploded(
                probed.select(
                    "q_id",
                    "pcid",
                    F.slice("qrv", j * q_sub_len + 1, q_sub_len).alias("qs"),
                ),
                cents,
            )
            .select(
                "q_id",
                "pcid",
                F.lit(j).alias("j"),
                F.col("cid").alias("scid"),
                _sq_dist("qs", "centroid").alias("pd2"),
            )
        )
        enc = e_j if enc is None else enc.unionByName(e_j)
        lut = l_j if lut is None else lut.unionByName(l_j)
    assert enc is not None and lut is not None

    cand = (
        # membership re-read from the checkpointed residual relation —
        # the assignment is not recomputed for the candidate side (r14)
        resid.select("vec_id", "cid")
        .join(
            F.broadcast(probed.select("q_id", F.col("pcid").alias("cid"))), "cid"
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("cid").alias("pcid"), "vec_id")
    )
    adc = (
        cand.join(enc, "vec_id")
        .join(F.broadcast(lut), ["q_id", "pcid", "j", "scid"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(F.col("pd2").cast("decimal(28,18)")).cast("double").alias("adc_d2")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "rank", "adc_d2")
    )


def knn_ivf_pq_residual_recall(
    emb: DataFrame,
    topk: int | None = None,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    n_cells: int = K_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of residual IVF-PQ against exact L2 top-k — read next
    to knn_ivf_pq_recall, the pair quantifies what residual encoding
    buys at identical index size (same m, k, n_cells, nprobe)."""
    from flink_kafka_filter_transform_spark.operators import params

    topk = params.KNN_K if topk is None else topk
    approx = knn_ivf_pq_residual(
        emb, topk=topk, m=m, k=k, iters=iters, n_cells=n_cells, nprobe=nprobe
    )
    return _recall_vs_exact(emb, approx, topk)


def _recall_vs_exact(emb: DataFrame, approx: DataFrame, topk: int) -> DataFrame:
    """Shared recall@k scaffold for the PQ/IVF-PQ family: exact L2
    top-k, hits join, coalesced per-query rollup. Queries with zero
    overlap are kept (left join, coalesce 0)."""
    from flink_kafka_filter_transform_spark.operators import params

    full = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = full.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_d2").asc(), F.col("vec_id").asc())
    exact = (
        full.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _sq_dist("v", "qv").alias("_d2"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= topk)
        .select("q_id", "vec_id")
    )
    hits = (
        approx.select("q_id", "vec_id")
        .join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("_n"), F.lit(0)).cast("double")
                / F.lit(float(topk))
            ).alias("recall_at_k"),
        )
    )


def knn_ivf_pq_rerank(
    emb: DataFrame,
    topk: int | None = None,
    shortlist_mult: int = 4,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    n_cells: int = K_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ with exact re-ranking (the FAISS ``refine`` stage,
    Jegou et al. 2011 §V): the quantized ADC search returns a
    SHORTLIST of ``shortlist_mult * topk`` candidates per query, then
    the true (un-quantized) vectors of ONLY those candidates are
    fetched and exact L2 re-ranks the shortlist down to ``topk``.
    This is the standard third stage of a production billion-vector
    deployment — coarse probe shrinks candidate COUNT, ADC shrinks
    candidate WIDTH, and the refine step buys back ADC's ordering
    errors at the cost of |queries| x shortlist true-vector reads
    (bounded, query-proportional — never a corpus rescan).

    Scale shape: the shortlist is <= KNN_NUM_QUERIES x shortlist rows
    of (q_id, vec_id) — a broadcast-sized relation by construction —
    so the true-vector fetch is ONE corpus scan with the broadcast
    shortlist as a semi-join filter (at cluster scale this is the
    point lookup against the vector store); queries themselves
    (KNN_NUM_QUERIES rows) broadcast onto the survivors, and the
    final per-query top-k windows over <= shortlist rows per query.
    The exact distance can only fix ranking WITHIN the shortlist —
    true neighbors lost by the coarse probe stay lost, which is what
    knn_ivf_pq_rerank_recall reads out next to knn_ivf_pq_recall."""
    from flink_kafka_filter_transform_spark.operators import params

    topk = params.KNN_K if topk is None else topk
    shortlist = shortlist_mult * topk
    short = knn_ivf_pq(
        emb, topk=shortlist, m=m, k=k, iters=iters, n_cells=n_cells, nprobe=nprobe
    ).select("q_id", "vec_id")
    full = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = full.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        full.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", "vec_id", _sq_dist("v", "qv").alias("exact_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("exact_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "rank", "exact_d2")
    )


def knn_ivf_pq_rerank_recall(
    emb: DataFrame,
    topk: int | None = None,
    shortlist_mult: int = 4,
    m: int = 4,
    k: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    n_cells: int = K_DEFAULT,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of the re-ranked IVF-PQ search against exact L2 top-k.
    Read as a triple with knn_pq_recall (quantization loss alone) and
    knn_ivf_pq_recall (quantization + coarse loss): rerank recovers
    every shortlist-internal ADC ordering error, so the residual gap
    to 1.0 is EXACTLY the coarse-probe loss plus true neighbors the
    ADC ranked below the shortlist cut — the two quantities a
    deployment tunes shortlist_mult and nprobe against."""
    from flink_kafka_filter_transform_spark.operators import params

    topk = params.KNN_K if topk is None else topk
    approx = knn_ivf_pq_rerank(
        emb,
        topk=topk,
        shortlist_mult=shortlist_mult,
        m=m,
        k=k,
        iters=iters,
        n_cells=n_cells,
        nprobe=nprobe,
    )
    return _recall_vs_exact(emb, approx, topk)


def knn_ivf_filtered(
    emb: DataFrame,
    k_neighbors: int = 5,
    n_cells: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    nprobe: int = 2,
    filter_probe_mult: int = 2,
) -> DataFrame:
    """FILTERED IVF search — vector search with a WHERE clause running
    through the index instead of around it: candidates must live in a
    probed k-means cell AND carry the query's label. This is the
    filtered-ANN problem every production retrieval system hits
    (similarity.knn_filtered documents the pre- vs post-filter trap;
    this operator is its INDEX-side resolution): post-filtering an
    unfiltered top-k starves filter-minority queries, while
    pre-filtering inside the index keeps k results whenever the probed
    cells hold k matching vectors.

    The selectivity compensation: a filter that keeps 1/s of the
    corpus also keeps ~1/s of every cell, so filtered probing scans
    ``filter_probe_mult * nprobe`` cells (the widened-probe rule used
    by FAISS IDSelector / ACORN-style deployments — deterministic
    here, mirrored in the oracle; the recall twin quantifies what the
    widening buys back).

    Scale shape: identical to knn_ivf_kmeans — codebook + probe set
    broadcast, corpus scanned once, candidates restricted to probed
    cells — with the label predicate applied IN the same candidate
    join (no second scan, no post-filter pass); per-query work is
    bounded by probed-cell membership intersected with the label."""
    from flink_kafka_filter_transform_spark.functions.vectors import cosine_similarity
    from flink_kafka_filter_transform_spark.operators import params

    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
    )
    cents = lloyd(vecs, cents, iters, k_hint=n_cells)
    # fused (vec_id, label, v, cid) member rows: the label rides the
    # map-side assignment fold, so the candidate join needs no corpus
    # self-join on vec_id to re-attach membership (r14)
    member = _with_best_cell(
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        ),
        cents,
    )

    q = emb.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    eff_nprobe = filter_probe_mult * nprobe
    wp = Window.partitionBy("q_id").orderBy(F.col("_cs").desc(), F.col("cid").asc())
    probed = (
        _cents_exploded(q, cents)
        .select(
            "q_id", "q_vec", "q_label", "cid",
            cosine_similarity("q_vec", "centroid").alias("_cs"),
        )
        .withColumn("_cr", F.row_number().over(wp))
        .filter(F.col("_cr") <= eff_nprobe)
        .select("q_id", "q_vec", "q_label", "cid")
    )
    scored = (
        member.join(
            F.broadcast(probed.withColumnRenamed("cid", "p_cid")),
            (F.col("cid") == F.col("p_cid")) & (F.col("label") == F.col("q_label")),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_similarity("v", "q_vec").alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_neighbors)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


def knn_ivf_filtered_recall(
    emb: DataFrame,
    k_neighbors: int = 5,
    n_cells: int = K_DEFAULT,
    iters: int = ITERS_DEFAULT,
    nprobe: int = 2,
    filter_probe_mult: int = 2,
) -> DataFrame:
    """Recall@k of filtered IVF against the exact FILTERED top-k (the
    knn_filtered semantics — same label predicate, full scan): the
    number that says whether widened probing (filter_probe_mult)
    compensates the filter's per-cell thinning, per query."""
    from flink_kafka_filter_transform_spark.functions.vectors import cosine_similarity
    from flink_kafka_filter_transform_spark.operators import params

    approx = knn_ivf_filtered(
        emb, k_neighbors=k_neighbors, n_cells=n_cells, iters=iters,
        nprobe=nprobe, filter_probe_mult=filter_probe_mult,
    )
    q = emb.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    exact = (
        emb.join(F.broadcast(q), F.col("label") == F.col("q_label"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            cosine_similarity("embedding", "q_vec").alias("cos_sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k_neighbors)
        .select("q_id", "vec_id")
    )
    hits = (
        approx.select("q_id", "vec_id")
        .join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("_n"), F.lit(0)).cast("double")
                / F.lit(float(k_neighbors))
            ).alias("recall_at_k"),
        )
    )
