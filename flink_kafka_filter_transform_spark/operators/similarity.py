"""Similarity search over the ``embeddings`` table.

- ``knn_brute``  : exact cosine top-k — the correctness baseline. The
                   (small) query set is broadcast against the corpus,
                   so the corpus is scanned once with no shuffle except
                   the final per-query top-k.
- ``knn_ivf``    : centroid-cell (IVF) top-k — the scale path. Each
                   query ranks a small codebook and scans only its
                   ``nprobe`` nearest cells (~corpus/cells * nprobe of
                   the data).

Every approximate variant is deterministic (no RNG), so the oracle
checks the approximate result exactly; its ``*_recall`` twin against
``knn_brute`` is the accuracy metric.

All vector math is Catalyst higher-order functions (functions.vectors)
— JVM-side, no UDF. At 100 TB the brute path becomes a
broadcast-queries × corpus map + per-query top-k (Spark's
TakeOrderedAndProject); the IVF path broadcasts the codebook and the
query set and reads the corpus once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_kafka_filter_transform_spark.functions.vectors import cosine_similarity
from flink_kafka_filter_transform_spark.operators import params


def _queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k: rank by (cos_sim DESC, vec_id ASC) — the tie-break
    and the INT rank type are part of the oracle-parity contract, so
    they live in exactly one place for every knn variant."""
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


def knn_brute(emb: DataFrame, k: int = params.KNN_K) -> DataFrame:
    """Exact top-k by cosine for each query vector (ties -> lower vec_id)."""
    q = _queries(emb)
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_similarity("embedding", "q_vec").alias("cos_sim"))
    )
    return _topk(scored, k)


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean vector (the IVF coarse codebook).

    posexplode -> exact decimal elementwise sums -> rebuild ordered
    arrays. One shuffle keyed (label, pos) with map-side combine; the
    codebook is cells x dim — tiny, always broadcastable."""
    pos = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = pos.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(28,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("cv")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )


def knn_ivf(emb: DataFrame, k: int = params.LSH_TOPK, nprobe: int = params.IVF_NPROBE) -> DataFrame:
    """IVF-style approximate top-k: probe the nprobe nearest cells only.

    The scale path for vector search: centroids are learned from the
    data (here: the label assignment plays k-means), each query ranks
    the tiny codebook, and the corpus scan is restricted to the probed
    cells — corpus/cells * nprobe of the data per query instead of all
    of it. Everything is joins + windows: the codebook and query set
    broadcast; the corpus is read once."""
    cents = label_centroids(emb)
    q = _queries(emb)
    probed = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "q_vec", "label", cosine_similarity("q_vec", "centroid").alias("c_sim"))
        .withColumn(
            "c_rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("label").asc())
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .select("q_id", "q_vec", "label")
    )
    scored = (
        emb.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_similarity("embedding", "q_vec").alias("cos_sim"))
    )
    return _topk(scored, k)


def _recall_vs_brute(approx: DataFrame, emb: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approximate result against brute force.

    The accuracy metric a user MUST monitor when trading exactness for
    scale (LSH/IVF probe fewer candidates): recall = |approx ∩ brute|/k.
    Queries with zero overlap are kept (left join + coalesce 0)."""
    truth = knn_brute(emb, k=k).select("q_id", "vec_id")
    hits = (
        approx.select("q_id", "vec_id")
        .join(truth, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    qids = truth.select("q_id").distinct()
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce(F.col("_n"), F.lit(0)).cast("double") / F.lit(float(k))).alias(
            "recall_at_k"
        ),
    )


def knn_ivf_recall(emb: DataFrame, k: int = params.LSH_TOPK) -> DataFrame:
    return _recall_vs_brute(knn_ivf(emb, k=k), emb, k)


def knn_jl(emb: DataFrame, k: int = params.LSH_TOPK) -> DataFrame:
    """Approximate top-k in the 16-dim JL-PROJECTED space: every cosine
    costs 1/4 of the 64-dim one and the projected corpus is 4x smaller
    to broadcast/cache — the dimension-reduction leg of the
    accuracy/speed tradeoff next to knn_ivf (cell probing). Deterministic projection (vectorprep.jl_project),
    so the oracle checks the approximate result exactly; accuracy is
    monitored by knn_jl_recall.

    Expectation-setting: the synthetic test embeddings are ISOTROPIC
    (no cluster structure), so neighbor cosine gaps are smaller than
    the JL distortion at 4x compression and recall@5 lands near zero
    (measured 0.04 at 16 dims, 0.20 even at 48) — which is precisely
    the failure mode the recall query exists to expose BEFORE a
    projection ships. On real embedding corpora (clustered, effective
    rank << 64) the same 4x projection typically holds recall high;
    always read knn_jl_recall before trusting knn_jl."""
    from flink_kafka_filter_transform_spark.operators.vectorprep import jl_project

    from flink_kafka_filter_transform_spark.operators.vectorprep import jl_dim_ok

    proj = emb.filter(jl_dim_ok("embedding")).select(
        "vec_id", jl_project("embedding").alias("y")
    )
    q = proj.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("y").alias("q_y")
    )
    scored = (
        proj.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_similarity("y", "q_y").alias("cos_sim"))
    )
    return _topk(scored, k)


def knn_jl_recall(emb: DataFrame, k: int = params.LSH_TOPK) -> DataFrame:
    return _recall_vs_brute(knn_jl(emb, k=k), emb, k)


def knn_ivf_probe_sweep(
    emb: DataFrame, k: int = params.LSH_TOPK, probes: tuple[int, ...] = (1, 2, 4)
) -> DataFrame:
    """The IVF tuning curve: mean recall@k for increasing nprobe — the
    accuracy/cost tradeoff a user reads before fixing nprobe (each
    probe step scans another cells-worth of corpus per query; recall
    must be monotone non-decreasing in nprobe since probed cell sets
    nest). One row per setting; hit counts are integer-exact and the
    mean divides once in double."""
    parts = []
    for nprobe in probes:
        r = _recall_vs_brute(knn_ivf(emb, k=k, nprobe=nprobe), emb, k)
        parts.append(
            r.agg(
                F.sum("n_hits").cast("bigint").alias("total_hits"),
                F.count(F.lit(1)).alias("n_queries"),
            ).select(
                F.lit(nprobe).alias("nprobe"),
                "total_hits",
                (
                    F.col("total_hits").cast("double")
                    / (F.col("n_queries") * F.lit(k)).cast("double")
                ).alias("mean_recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def knn_filtered(emb: DataFrame, k: int = params.KNN_K) -> DataFrame:
    """Metadata-FILTERED exact search: top-k among vectors sharing the
    query's label — the "vector search with a WHERE clause" every
    production retrieval system needs (find similar items *within my
    category*).

    The filter is applied PRE-search (the predicate joins into the
    candidate generation), not post-search: post-filtering a global
    top-k silently starves queries whose matches are filter-minority
    — the classic filtered-ANN correctness trap. Here the label
    equi-join IS the candidate generator, so each query ranks exactly
    its label's vectors and k results survive whenever the label has k
    members.

    Scale shape: queries (with their labels) broadcast; the corpus is
    scanned once, candidates are label-blocked (label cardinality
    bounds per-query work), the per-query top-k windows over scored
    (q_id, vec_id, cos) triples only. For corpus-scale filters compose
    with knn_ivf's cells instead (filter AND cell)."""
    q = emb.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("label") == F.col("q_label"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_similarity("embedding", "q_vec").alias("cos_sim"),
        )
    )
    return _topk(scored, k)


def _sq8_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension SQ8 training reduced to ONE row: mins / maxs /
    spans2 (= ((mx-mn)/255)^2, the per-dim squared de-quantization
    step) as position-ordered arrays — broadcast-sized regardless of
    corpus size (dims x 24 bytes)."""
    v = F.col("embedding").cast("array<double>")
    dims = emb.select(F.posexplode(v).alias("pos", "x"))
    stats = dims.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s")
    ).select(
        F.transform("s", lambda s: s.mn).alias("mins"),
        F.transform("s", lambda s: s.mx).alias("maxs"),
        F.transform(
            "s",
            lambda s: ((s.mx - s.mn) / F.lit(255.0))
            * ((s.mx - s.mn) / F.lit(255.0)),
        ).alias("spans2"),
    )


def _sq8_codes(emb: DataFrame, stats_row: DataFrame) -> DataFrame:
    """8-bit codes c_d = floor((x_d - min_d) * 255 / (max_d - min_d)
    + 0.5) — constant dims collapse to code 0 (their span2 is 0, so
    they can't contribute distance either way)."""
    v = F.col("embedding").cast("array<double>")
    code = F.transform(
        v,
        lambda x, i: F.when(
            F.element_at("maxs", i + 1) > F.element_at("mins", i + 1),
            F.floor(
                (x - F.element_at("mins", i + 1))
                * F.lit(255.0)
                / (F.element_at("maxs", i + 1) - F.element_at("mins", i + 1))
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return emb.crossJoin(F.broadcast(stats_row)).select(
        "vec_id", code.alias("c"), "spans2"
    )


def knn_sq8(emb: DataFrame, k: int = params.KNN_K) -> DataFrame:
    """Scalar-quantized search (the FAISS SQ8 index family — the one
    quantizer tier this engine didn't yet cover next to PQ/IVF-PQ):
    every dimension is trained to a global [min, max] over the corpus
    and stored as ONE byte, and search runs entirely on codes —
    d2 = sum_d span2_d * (cq_d - cx_d)^2, i.e. exact L2 between the
    de-quantized reconstructions. At 100 TB the point is scan WIDTH:
    the code table is 1/8 the bytes of float64 vectors (1/4 of
    float32) with none of PQ's codebook training, the standard middle
    rung between raw vectors and PQ.

    Scale shape: training is one posexplode + a dims-row aggregate
    folded to a SINGLE broadcast row (mins/maxs/spans2 arrays);
    encoding is map-side; the scan stays one pass over the code table
    with the 5 query code rows broadcast (knn_brute's shape, narrower
    rows). Integer code deltas keep the distance sum exact up to the
    shared double fold contract."""
    stats_row = _sq8_stats(emb)
    codes = _sq8_codes(emb, stats_row)
    qc = codes.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("c").alias("qc")
    )
    diff2 = F.transform(
        F.zip_with("c", "qc", lambda a, b: a - b),
        lambda dd, i: (dd * dd).cast("double") * F.element_at("spans2", i + 1),
    )
    d2 = F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)
    scored = (
        codes.join(F.broadcast(qc), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", d2.alias("sq8_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sq8_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", "sq8_d2")
    )


def knn_sq8_recall(emb: DataFrame, k: int = params.KNN_K) -> DataFrame:
    """Recall@k of SQ8 search against exact L2 top-k — read next to
    knn_pq_recall at matched code budget: SQ8 spends 1 byte/dim
    uniformly, PQ spends m sub-codebook bytes/vector; which recall is
    higher on a given corpus decides the quantizer tier."""
    from flink_kafka_filter_transform_spark.operators.kmeans import _recall_vs_exact

    approx = knn_sq8(emb, k=k)
    return _recall_vs_exact(emb, approx, k)


def knn_mrl(emb: DataFrame, k: int = params.LSH_TOPK, dims: int = 16) -> DataFrame:
    """Matryoshka prefix-dimension search (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): rank by cosine over the
    FIRST ``dims`` coordinates only — the 2023+ production shortcut
    for MRL-trained embedding models, whose training objective packs
    coarse semantics into the prefix so a 4x-truncated index answers
    most queries. Deliberately the same output dimensionality as
    knn_jl (16): the recall pair knn_mrl_recall vs knn_jl_recall
    measures the PREFIX-INFORMATIVENESS assumption itself — on an
    embedding whose information is uniform across dims (this synthetic
    corpus), truncation has no reason to beat a random projection,
    and the twin quantifies exactly that; on an MRL-trained model the
    prefix wins, which is the number that justifies shipping the
    truncated index.

    Scale shape: knn_brute's one-scan shape on 1/4-width vectors —
    the truncation happens IN the scan projection (no second pass, no
    stored copy), queries broadcast."""
    trunc = F.slice(F.col("embedding").cast("array<double>"), 1, dims)
    base = emb.select("vec_id", trunc.alias("tv"))
    q = base.filter(F.col("vec_id") < params.KNN_NUM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("tv").alias("q_tv")
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_similarity("tv", "q_tv").alias("cos_sim"))
    )
    return _topk(scored, k)


def knn_mrl_recall(emb: DataFrame, k: int = params.LSH_TOPK, dims: int = 16) -> DataFrame:
    """Recall@k of prefix-truncated search against full-dim cosine
    brute force — read NEXT TO knn_jl_recall (same 64 -> 16 budget):
    prefix-vs-projection is the Matryoshka bet, and this pair is its
    measurement."""
    return _recall_vs_brute(knn_mrl(emb, k=k, dims=dims), emb, k)
