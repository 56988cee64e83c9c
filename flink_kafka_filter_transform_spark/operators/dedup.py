"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Four strategies, each with a DuckDB oracle (oracles.py):

- ``exact_dedup``        : hash-groupBy on a 60-bit content hash — the
                           shuffle carries 8-byte keys, never the text.
- ``minhash_lsh_pairs``  : shingle -> salted-md5 MinHash signature ->
                           banded LSH bucket join -> exact-Jaccard verify.
- ``simhash_pairs``      : 60-bit SimHash -> 15-bit chunk bucket join ->
                           Hamming-distance verify (bit_count(xor)).
- ``embedding_neardup``  : cosine near-dup blocked by the ``label``
                           column (the IVF coarse-quantizer analog).

Scale design (100 TB):
- Candidate generation is always *blocked* (LSH bands / SimHash chunks
  / label partitions) — the quadratic all-pairs join never materializes.
- ``LSH_BUCKET_CAP`` drops pathological buckets (a degenerate shingle
  shared by millions of docs would otherwise make one reducer
  quadratic); at the cap the bucket contributes C(cap,2) pairs max.
- Signatures are fixed-width (K bigints) so the band shuffle rows are
  tiny regardless of document size; full shingle arrays are only
  joined back for the candidate pairs (a small fraction of the corpus).
- All hashing is md5-based for cross-engine determinism (see
  functions.hashing); swap HASH for xxhash64 in production for ~2x.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64
from flink_kafka_filter_transform_spark.operators import params
from flink_kafka_filter_transform_spark.operators.text import token_ngrams, tokens


def _int_ceil_div(a: Column, b: int) -> Column:
    """ceil(a / b) for non-negative integer columns, entirely in BIGINT:
    (a + b - 1) div b via the SQL ``div`` operator (IntegralDivide).
    Spark's ``/`` on integers yields a DOUBLE, so F.floor(a / b) is
    float floor-division — exact only while a < 2^53; ``div`` has no
    such boundary, so threshold proofs built on it carry no float
    edge."""
    return F.call_function("div", a + F.lit(b - 1), F.lit(b))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, key_col: str = "text") -> DataFrame:
    """Exact duplicate groups: one row per distinct content hash.

    Keeps the minimum doc_id (deterministic winner) and counts copies.
    Grouping on the 60-bit hash instead of the raw text keeps shuffle
    rows at ~16 bytes; a production pipeline would add a full-text
    equality confirm within hash groups to rule out collisions.
    """
    return docs.groupBy(portable_hash64(F.col(key_col)).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# Normalization chain shared with the oracle: lowercase, ASCII
# punctuation -> space (POSIX punct = the same 32 chars in Java regex
# \p{Punct} and RE2 [[:punct:]]), whitespace runs squashed, trimmed.
# Kept deliberately conservative (no unicode folding, no stemming):
# the point is catching REFORMATTED copies — case, punctuation,
# wrapping — not paraphrase (that is the near-dup family's job).
_NORM_PUNCT_SPARK = r"\p{Punct}"


def normalized_text(col: Column) -> Column:
    """The CCNet-style normalization map stage (pure codegen)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), _NORM_PUNCT_SPARK, " "),
            r"\s+",
            " ",
        )
    )


def normalized_exact_dedup(docs: DataFrame) -> DataFrame:
    """Normalization-robust exact duplicate groups — the CCNet/C4
    dedup key (Wenzek et al. 2019 normalize text before hashing
    paragraphs): lowercase + punctuation-strip + whitespace-squash,
    THEN the 60-bit content hash. Catches the trivially-reformatted
    copy class exact_dedup misses by construction (same words,
    different case/punctuation/wrapping) while staying one hash
    groupBy. One row per normalized group (exact_dedup's unfiltered
    shape — the fixture corpus has no exact copies, so a dup-only
    filter would gate on an empty relation; emitting every group
    makes the driver hash verify the ENTIRE normalization chain
    cross-engine): the normalized-content hash, the copy count, how
    many RAW spellings collapsed (n_raw_variants < n_copies is the
    reformatted-copy signal), and the min-doc_id survivor.

    Scale shape: exact_dedup's exactly — normalization is a map-stage
    regex chain in whole-stage codegen, then ONE hash-keyed aggregate
    (16-byte shuffle rows: hash + doc_id + a raw-text hash for the
    variant count — the raw TEXT never shuffles); no join, no window,
    no broadcast."""
    norm_hash = portable_hash64(normalized_text(F.col("text")))
    raw_hash = portable_hash64(F.col("text"))
    return (
        docs.select(
            "doc_id",
            norm_hash.alias("norm_hash"),
            raw_hash.alias("_raw"),
        )
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.countDistinct("_raw").cast("bigint").alias("n_raw_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingles_col(tok_col: Column) -> Column:
    """Distinct word 3-shingles (space-joined token triples)."""
    k = params.SHINGLE_SIZE
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(tok_col) - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tok_col, i + j + 1) for j in range(k)]
            ),
        )
    )


def _hash_pairs(shingles: Column) -> Column:
    """Per-shingle (h1, h2) from ONE md5 digest (double hashing).

    The previous scheme salted the hash input per component — K md5
    invocations per shingle, and md5 dominates MinHash cost. One digest
    now yields both halves; component j is pure 64-bit arithmetic."""
    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64_second

    return F.transform(
        shingles,
        lambda s: F.struct(
            portable_hash64(s).alias("h1"), portable_hash64_second(s).alias("h2")
        ),
    )


def _mh(hp: Column, j: int) -> Column:
    """MinHash component j: min over shingles of (h1 + j*h2) mod 2^61-1."""
    from flink_kafka_filter_transform_spark.functions.hashing import MERSENNE_61

    return F.array_min(
        F.transform(hp, lambda x: (x["h1"] + F.lit(j) * x["h2"]) % F.lit(MERSENNE_61))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id, shingles, mh0..mh{K-1} (docs with >= SHINGLE_SIZE tokens).

    The hash-pair array is aliased in its own projection; Catalyst
    keeps it un-inlined (alias referenced K times, non-cheap since
    SPARK-36718), so md5 runs once per shingle, not K times."""
    toks = tokens()
    with_sh = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= params.SHINGLE_SIZE)
        .select("doc_id", shingles_col(F.col("t")).alias("shingles"))
    )
    hp = with_sh.select("doc_id", "shingles", _hash_pairs(F.col("shingles")).alias("hp"))
    return hp.select(
        "doc_id",
        "shingles",
        *[_mh(F.col("hp"), j).alias(f"mh{j}") for j in range(params.MINHASH_K)],
    )


def band_relation(sig: DataFrame, n_bands: int | None = None) -> DataFrame:
    """(doc_id, band_idx, band_key) — the LSH index rows of a signature
    relation. Factored out of lsh_candidates so the STREAMING index
    maintainer (streaming.pipeline.lsh_index_sink) probes and appends
    the IDENTICAL band keys the batch self-join uses."""
    n_bands = params.MINHASH_BANDS if n_bands is None else n_bands
    rows_per_band = params.MINHASH_K // n_bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws(
                "_", *[F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_key"
    )


def lsh_candidates(sig: DataFrame, n_bands: int | None = None) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    K=8 rows banded 4x2 by default (``n_bands`` overrides — the
    band-sweep tuner walks the b*r=K configurations); the self-join key
    is (band_idx, band_key), so only same-band collisions meet — the
    classic S-curve selectivity. Buckets above LSH_BUCKET_CAP are
    dropped (skew guard)."""
    bands = band_relation(sig, n_bands)
    capped = bands.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_key"))
    ).filter(F.col("n") <= params.LSH_BUCKET_CAP)
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard."""
    sig = minhash_signatures(docs)
    cand = lsh_candidates(sig)
    s1 = sig.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    s2 = sig.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(s1, "doc_a")
        .join(s2, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= params.JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """SIMHASH_BITS-bit SimHash over distinct tokens.

    Explode to (doc, token) rows, one aggregation computes all 32 bit
    weights as sum(+1/-1) columns — a single shuffle keyed by doc_id
    with map-side partial aggregation."""
    ex = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("tok")
    ).withColumn("hv", portable_hash64(F.col("tok")))
    bit = lambda i: F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1))
    weights = [
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(params.SIMHASH_BITS)
    ]
    agg = ex.groupBy("doc_id").agg(*weights)
    simhash = None
    for i in range(params.SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.alias("simhash"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with Hamming distance <= SIMHASH_MAX_HAMMING.

    Candidates must share at least one exact 15-bit chunk (pigeonhole:
    distance < SIMHASH_CHUNKS is fully recalled; the chunk filter is a
    recall/cost tradeoff, standard practice from Manku et al. WWW'07).
    Chunk buckets above SIMHASH_BUCKET_CAP are dropped before the
    self-join (r7): the chunk key space is FIXED (4 x 2^15), so on a
    clustered corpus bucket occupancy grows with N and candidate
    volume grows as sum(bucket^2) — measured 5.91x runtime at 3x data
    before the cap (BENCH_sf3_dedup r7). With the cap, per-chunk
    candidate volume is bounded by N*cap — linear in N — at the cost
    of pairs inside degenerate template buckets, the same documented
    tradeoff as lsh_candidates' LSH_BUCKET_CAP. The oracle applies
    the identical capped-bucket rule."""
    sig = simhash_signatures(docs)
    return hamming_chunk_pairs(
        sig,
        "simhash",
        n_chunks=params.SIMHASH_CHUNKS,
        chunk_bits=params.SIMHASH_CHUNK_BITS,
        bucket_cap=params.SIMHASH_BUCKET_CAP,
        max_hamming=params.SIMHASH_MAX_HAMMING,
    )


def hamming_chunk_pairs(
    sig: DataFrame,
    sig_col: str,
    *,
    n_chunks: int,
    chunk_bits: int,
    bucket_cap: int,
    max_hamming: int,
) -> DataFrame:
    """Manku-style Hamming-ball pair join over ANY (doc_id, <sig_col>)
    bit-signature relation — factored from simhash_pairs (r9) so the
    image perceptual-hash near-dup (multimodal.image_phash_pairs),
    the audio/video fingerprints, and any future fixed-width-signature
    family share the one audited blocking implementation: explode each
    signature into its ``n_chunks`` exact chunks, drop chunk buckets
    above ``bucket_cap`` (fixed key space -> bucket occupancy grows
    with N and candidate volume as sum(bucket^2); with the cap, volume
    is bounded by N*cap — the LSH_BUCKET_CAP rule), generate in-bucket
    pairs, verify bit_count(xor) <= ``max_hamming``. Pigeonhole
    recall: distance < n_chunks is fully recalled pre-cap. Output:
    (doc_a, doc_b, hamming) with doc_a < doc_b, distinct.

    Plan shape (r9 rework): the first cut self-joined the capped chunk
    relation — Catalyst re-evaluates the upstream subtree on BOTH join
    sides, and for the multimodal callers that upstream is the Arrow
    decode stage, i.e. the corpus was decoded TWICE (the substring
    study's conviction, recurring one level up; exchange reuse does
    not fire across mapInPandas subtrees). Now buckets are built by
    ONE groupBy((ci, ck)) collecting at most ``bucket_cap`` + 1
    (doc_id, sig) structs — the cap bounds every array — and pairs are
    expanded MAP-SIDE from the sorted array: one pass over the
    signatures, one bucket shuffle, no sort, no self-join, identical
    rows (the cap filter ``size <= cap`` is exactly the old per-bucket
    count window's predicate, oracle unchanged)."""
    chunks = chunk_exploded(sig, sig_col, n_chunks=n_chunks, chunk_bits=chunk_bits)
    cand = chunk_bucket_pairs(chunks, sig_col, bucket_cap).distinct()
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def chunk_exploded(
    sig: DataFrame, sig_col: str, *, n_chunks: int, chunk_bits: int
) -> DataFrame:
    """(doc_id, <sig_col>, ci, ck): one row per exact ``chunk_bits``-wide
    chunk ``ci`` of each signature, ``ck`` its value — the blocking
    rows of hamming_chunk_pairs and of the streaming fingerprint index
    (streaming.pipeline._fingerprint_index_batch), which must derive
    chunks identically for the drained pair log to equal the batch
    operator."""
    mask = (1 << chunk_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(c).alias("ci"),
            F.shiftright(F.col(sig_col), chunk_bits * c)
            .bitwiseAND(F.lit(mask))
            .alias("ck"),
        )
        for c in range(n_chunks)
    ]
    return sig.select(
        "doc_id", sig_col, F.explode(F.array(*chunk_structs)).alias("c")
    ).select("doc_id", sig_col, "c.ci", "c.ck")


def chunk_bucket_pairs(chunks: DataFrame, sig_col: str, bucket_cap: int) -> DataFrame:
    """(doc_a, sh_a, doc_b, sh_b) for every pair of docs sharing a
    (ci, ck) bucket of a chunk_exploded relation, both signatures kept
    for the verify step. ONE groupBy collects each bucket as a sorted
    array, buckets above ``bucket_cap`` drop whole, and pairs expand
    map-side: element i pairs with every later element of the
    doc_id-sorted array (structs sort by their first field), so
    doc_a < doc_b by construction. Not distinct: two docs sharing
    several chunks pair once per shared chunk."""
    return (
        chunks.groupBy("ci", "ck")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", F.col(sig_col).alias("sig")))
            ).alias("ds")
        )
        .filter((F.size("ds") >= 2) & (F.size("ds") <= bucket_cap))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), b -> "
                    "struct(a.doc_id AS doc_a, a.sig AS sh_a, "
                    "b.doc_id AS doc_b, b.sig AS sh_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.sh_a", "p.doc_b", "p.sh_b")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (blocked by label = IVF coarse cell)
# ---------------------------------------------------------------------------


def embedding_neardup(emb: DataFrame) -> DataFrame:
    """Pairs in the same label cell with cosine >= EMB_NEARDUP_THRESHOLD.

    ANTI-PATTERN BASELINE — NOT 100 TB-safe. KEPT DELIBERATELY as the
    measured comparator for ``embedding_neardup_refined``: ``label``
    has FIXED cardinality (~10 cells), so cells grow linearly with the
    corpus and within-cell pair work quadratically — the sf1 scale
    audit measured 27.6x runtime at 10x data (SCALING.md). Use
    ``embedding_neardup_refined``, whose learned-codebook blocking
    cardinality tracks the corpus, for anything beyond toy scale.

    Norms are precomputed once per VECTOR before the pair join (N norm
    folds instead of 2 x N^2/cells): only the dot product runs per
    pair. Same doubles, ~3x less higher-order-function work."""
    from flink_kafka_filter_transform_spark.functions.vectors import dot, l2_norm

    normed = emb.select("vec_id", "label", "embedding", l2_norm("embedding").alias("nrm"))
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.when((F.col("na") > 0) & (F.col("nb") > 0), dot("ea", "eb") / (F.col("na") * F.col("nb")))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= params.EMB_NEARDUP_THRESHOLD)
    )


def adaptive_n_cells(n_vectors: int) -> int:
    """Codebook cardinality for a corpus of ``n_vectors``:
    ceil(N / EMB_CELL_TARGET_ROWS), floor 1. The DuckDB oracle computes
    the SAME formula in SQL (CEIL(count(*)/256.0)), so both engines
    derive the identical k from the data."""
    t = params.EMB_CELL_TARGET_ROWS
    return max(1, -(-n_vectors // t))


def embedding_neardup_refined(
    emb: DataFrame, n_cells: int | None = None, iters: int = 2, seeding: str = "first"
) -> DataFrame:
    """Embedding near-dup with QUANTIZER-REFINED blocking: candidate
    pairs must share the label cell AND a learned k-means subcell
    (operators.kmeans, deterministic seed + fixed iterations, so the
    DuckDB oracle replays the identical codebook).

    Why this exists: the sf1 scale audit measured ``embedding_neardup``
    going quadratic — its label blocking has FIXED cardinality, so
    cells grow linearly with the corpus and within-cell pairs
    quadratically (102x runtime at 10x data; SCALING.md sf1 audit).
    The scale-correct design grows the blocking cardinality with the
    corpus — IVF-style: by default n_cells = ceil(N / 256)
    (adaptive_n_cells; one count() job sizes the codebook, the k-means
    analog of AQE reading runtime statistics), keeping per-cell pair
    counts bounded while the cosine verify stays exact. At sf0.01 that
    is k=2, at sf0.1 k=8, at sf1 k=79 — the sf3 study's k>=64 regime
    is reached with no code edit. Recall tradeoff: pairs straddling a
    subcell border are missed, the same documented tradeoff as
    knn_ivf's cell borders.

    ``seeding="farthest"`` uses the SAME adaptive default since r6: its
    earlier fixed n_cells=8 ("for continuity" with the oracle's
    per-seed CTE unroll) was the exact fixed-cardinality quadratic this
    operator exists to avoid — the r6 sf3 study measured the fps
    variant at 9.55x runtime for 3x data (28 -> 270 s). kmeans_fit now
    caps the farthest traversal at FPS_SEED_CAP literal seeds (which
    the oracle unrolls) and fills the remaining adaptive k with first
    unchosen vec_ids, so the oracle structure stays static while the
    blocking cardinality tracks the corpus; post-fix sf3/sf1 ratio is
    re-measured in SCALING.md."""
    from flink_kafka_filter_transform_spark.functions.vectors import dot, l2_norm
    from flink_kafka_filter_transform_spark.operators.kmeans import kmeans_clusters

    n_rows = None
    if n_cells is None:
        n_rows = emb.count()
        n_cells = adaptive_n_cells(n_rows)
    assign = kmeans_clusters(
        emb, k=n_cells, iters=iters, seeding=seeding, n_rows=n_rows
    )
    normed = emb.join(assign, "vec_id").select(
        "vec_id", "label", "cluster_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label"),
        F.col("cluster_id").alias("cell"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label"),
        F.col("cluster_id").alias("cell"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.when((F.col("na") > 0) & (F.col("nb") > 0), dot("ea", "eb") / (F.col("na") * F.col("nb")))
    return (
        a.join(b, ["label", "cell"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label", "cell", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= params.EMB_NEARDUP_THRESHOLD)
    )


def semdedup_prune(
    emb: DataFrame,
    k: int | None = None,
    iters: int = 2,
    threshold: float = params.EMB_NEARDUP_THRESHOLD,
    train_denom: int = params.SEMDEDUP_TRAIN_DENOM,
) -> DataFrame:
    """SemDeDup-style semantic pruning report (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, find
    within-cluster pairs above a cosine threshold, and from each such
    pair KEEP the vector with the LOWER cosine similarity to its
    cluster centroid (the paper's choice — retaining the more atypical
    example; ties break to the lower vec_id). Output is the per-cluster
    prune ledger: n_vectors, n_dropped, keep_rate.

    Semantics note (oracle-exact, not greedy): a vector is dropped iff
    SOME same-cluster partner above the threshold beats it under
    (cent_sim ASC, vec_id ASC) — a per-pair rule both engines evaluate
    identically, rather than the paper's order-dependent greedy sweep.

    100 TB design, revised after the r5 sf1 audit measured the
    original literal k=8 default going quadratic (60-93 s at sf1,
    15.5x — fixed cells mean within-cell pairs grow as (N/8)², the
    exact embedding_neardup anti-pattern this repo documents):

    - clustering IS the blocking, so cells TRACK the corpus by
      default: k=None -> adaptive_n_cells(count) = ceil(N/256), the
      embedding_neardup_refined formula — per-cell membership stays
      ~256 and the pair join is LINEAR in N;
    - the codebook trains on a deterministic 1/``train_denom``
      vec_id-hash SAMPLE (plus the first-k seed ids so seeding never
      starves): per-round cost is (N/denom) x cells, and the full
      corpus meets the centroids exactly ONCE in the final
      assignment — the IVF list-building pass every vector deployment
      pays, and the only N x cells term left.

    Centroids broadcast twice (assignment + cent_sim); norms are
    precomputed per VECTOR, only the dot runs per pair; the report
    aggregates to k rows."""
    from flink_kafka_filter_transform_spark.functions.vectors import dot, l2_norm
    from flink_kafka_filter_transform_spark.operators.kmeans import (
        _assign,
        _with_best_cell,
        lloyd,
    )

    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    if k is None:
        k = adaptive_n_cells(vecs.count())
    in_sample = (
        portable_hash64(F.col("vec_id").cast("string")) % train_denom == 0
    ) | (F.col("vec_id") < k)
    smp = vecs.filter(in_sample).localCheckpoint(eager=True)
    cents = smp.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
    )
    cents = lloyd(smp, cents, iters, k_hint=k)
    cent_cos = F.when(
        (F.col("nrm") > 0) & (F.col("cnrm") > 0),
        dot("v", "centroid") / (F.col("nrm") * F.col("cnrm")),
    )
    # fused member rows (r14): the map-side assignment fold keeps each
    # vector, its cell id and the winning centroid in ONE stage — the
    # pre-r14 shape re-joined the corpus to its own assignment on
    # vec_id and then broadcast-joined the codebook a second time for
    # cent_sim. dot/l2_norm are the identical folds, so cent_sim is
    # bit-identical.
    members = (
        _with_best_cell(vecs, cents, centroid="centroid")
        .withColumn("nrm", l2_norm("v"))
        .withColumn("cnrm", l2_norm("centroid"))
        .select("vec_id", "cid", "v", "nrm", cent_cos.alias("cent_sim"))
    )
    a = members.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cid"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.col("cent_sim").alias("sim_a"),
    )
    b = members.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cid"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("cent_sim").alias("sim_b"),
    )
    pair_cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot("va", "vb") / (F.col("na") * F.col("nb")),
    )
    # per-pair loser: keep the LOWER cent_sim side; ties -> keep lower id
    loser = (
        F.when(F.col("sim_a") < F.col("sim_b"), F.col("vec_b"))
        .when(F.col("sim_a") > F.col("sim_b"), F.col("vec_a"))
        .otherwise(F.col("vec_b"))
    )
    dropped = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(pair_cos >= F.lit(threshold))
        .select(loser.alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    n = F.count(F.lit(1))
    nd = F.sum(F.coalesce(F.col("_dropped"), F.lit(0)))
    assign = _assign(vecs, cents)
    return (
        assign.join(dropped, "vec_id", "left")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            n.alias("n_vectors"),
            nd.cast("bigint").alias("n_dropped"),
            ((n - nd).cast("double") / n.cast("double")).alias("keep_rate"),
        )
    )


def semdedup_text_prune(
    docs: DataFrame,
    dim: int = 64,
    k: int | None = None,
    iters: int = 2,
    threshold: float = params.SEMDEDUP_TEXT_THRESHOLD,
    train_denom: int = params.SEMDEDUP_TRAIN_DENOM,
) -> DataFrame:
    """SemDeDup straight from TEXT (VERDICT r10 item 6): the hashing-
    trick document vectors (text.doc_hash_embedding — deterministic,
    model-free, integer-valued) densified to ``dim`` coordinates and
    fed through the SAME sample-trained k-means + within-cluster pair
    prune as semdedup_prune. This is the composition a real pipeline
    runs when no embedding model is in the loop: semantic-cluster
    pruning whose vectors are derived FROM the corpus being pruned,
    not read from a side table.

    Densify: the sparse (doc_id, idx, value) relation pivots to a
    fixed-width array via ONE map_from_entries aggregate + a
    sequence/transform fill — no join, no pivot shuffle beyond the
    embedding aggregate itself. Docs whose every bucket summed to
    zero (no tokens, or exact sign cancellation) have no sparse rows
    and are excluded on BOTH engines by construction.

    Scale shape inherits semdedup_prune's revised design: adaptive
    cell count (clustering IS the blocking), 1/``train_denom``
    training sample, centroids broadcast, pair join within cells
    only. The extra text stage is one explode + one map-side-combined
    integer aggregate, and the DENSE relation is locally checkpointed
    ONCE: semdedup's chain evaluates its vector input ~6 times (count
    probe, training filter, two assignment passes, both pair-join
    sides), and re-running the tokenize/hash/aggregate lineage each
    time measured 12.2 s isolated at sf0.1 vs ~9.5 s checkpointed
    (the smp localCheckpoint precedent inside semdedup_prune); the
    remaining wall is the within-cell pair join — bag-of-words hash
    vectors cluster SKEWED (the sf0.01 ledger splits 325/175), so hot
    cells carry most of the quadratic-within-cell work, an attribute
    of the vector space, not the plan. The checkpoint holds dim x 8
    bytes per doc — 512 B/doc at dim=64, far smaller than the text
    it replaces.

    Threshold is params.SEMDEDUP_TEXT_THRESHOLD (0.80), not the
    embedding-space 0.30 — see the params.py note."""
    from flink_kafka_filter_transform_spark.operators.text import doc_hash_embedding

    sparse = doc_hash_embedding(docs, dim=dim)
    dense = (
        sparse.groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("idx", "value"))).alias("m")
        )
        .select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0)).cast(
                    "double"
                ),
            ).alias("embedding"),
        )
        # r14 (guide §2.5/§2.2): without this, AQE coalesces the densify
        # aggregate to ONE post-shuffle partition (the dense relation is
        # a few MB — bytes-based coalescing cannot see that the
        # DOWNSTREAM within-cell pair join does quadratic compute per
        # byte), and the checkpoint PINS that single partition for every
        # consumer: the whole semdedup chain ran serially (measured
        # 16–19 s at sf0.1; ~2 s once spread). Re-spread by vec_id
        # across the cluster's compute width before freezing
        # (defaultParallelism tracks total cores at any scale).
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "vec_id"
        )
    ).localCheckpoint(eager=True)
    return semdedup_prune(
        dense, k=k, iters=iters, threshold=threshold, train_denom=train_denom
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard (single-minhash blocking)
# ---------------------------------------------------------------------------


def char_ngrams_col(text: Column | str, n: int = 4) -> Column:
    """Distinct character n-grams of a string column (Catalyst HOF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: F.substring(c, i, n),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 4, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs by character-n-gram Jaccard.

    Blocking (r8 redesign, VERDICT r7 item 3): the standard banded-LSH
    candidate generator shared with minhash_lsh_pairs (lsh_candidates:
    K=8 minhash components banded 4x2, bucket-capped, distinct pairs).
    The r7 version blocked on the SINGLE component mh0 — that S-curve
    is the identity P(collide) = j, so at the sf1 synthetic corpus it
    produced 958k candidate pairs for 300 true pairs and verification
    dominated (185 s, 4x the next-slowest dedup op). Banding is
    strictly better on both sides of the threshold: detection
    1-(1-j^2)^4 beats j for all j >= ~0.45 (0.68 vs 0.50 at j=0.5,
    0.98 vs 0.80 at j=0.8), and random-pair collisions need TWO
    agreeing components in one band — candidate volume at sf1 drops
    ~500x (958k -> ~2k), turning verification from the dominant cost
    into noise. Verification stays EXACT char-4-gram Jaccard, which
    catches reorder/typo-level similarity that word shingles miss.

    Verification keeps the two r8 lossless prunes:
    - length bound: J <= min(|A|,|B|)/max(|A|,|B|), compared as the
      SAME correctly-rounded double division the final filter uses
      (division is monotone under round-to-nearest, so no float
      boundary can drop a passing pair) — pairs that cannot reach the
      threshold never ship their gram arrays;
    - inclusion-exclusion |A∪B| = |A|+|B|-|A∩B| — one array
      intersection per surviving pair instead of intersect + union."""
    grams = docs.select("doc_id", char_ngrams_col("text", n).alias("g")).filter(F.size("g") > 0)
    sizes = grams.select("doc_id", F.size("g").alias("ng"))
    cand = lsh_candidates(minhash_signatures(docs))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ng").alias("nga"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ng").alias("ngb"))
    na, nb = F.col("nga").cast("double"), F.col("ngb").cast("double")
    pruned = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.least(na, nb) / F.greatest(na, nb) >= F.lit(float(threshold)))
    )
    g1 = grams.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    g2 = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter.cast("double") / (F.col("nga") + F.col("ngb") - inter).cast("double")
    return (
        pruned.join(g1, "doc_a")
        .join(g2, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_ngram"))
        .filter(F.col("jaccard_ngram") >= threshold)
    )


# ---------------------------------------------------------------------------
# Containment join (asymmetric near-dup): prefix-filtered set-containment
# ---------------------------------------------------------------------------


def containment_pairs(docs: DataFrame) -> DataFrame:
    """Ordered containment pairs over word-3-shingle sets: (doc_a,
    doc_b) where |S(a) ∩ S(b)| / |S(a)| >= t — doc_a's content is
    (mostly) CONTAINED in doc_b's. The asymmetric dedup class Jaccard
    misses by construction: a short document quoted verbatim inside a
    much longer one has Jaccard <= |A|/|B| (arbitrarily small) but
    containment ~1, and banded-MinHash blocking inherits Jaccard's
    S-curve — its recall on exactly these pairs goes to zero as the
    size ratio grows. So this operator does NOT reuse lsh_candidates;
    it blocks with the standard PREFIX FILTER from the set-similarity-
    join literature (SSJoin, Chaudhuri et al. ICDE 2006; PPJoin, Xiao
    et al. WWW 2008):

    - if containment(a->b) >= t, then at most n_a - ceil(t*n_a) of
      a's shingles are absent from b, so ANY n_a - ceil(t*n_a) + 1
      shingles of a must include one that b also has (pigeonhole);
    - take exactly that many of a's shingles — the GLOBALLY RAREST by
      document frequency, the ordering that minimizes posting-list
      volume — and probe the full inverted index with them. Candidate
      volume is sum(df) over prefix shingles, not N^2.

    The prune chain is LOSSLESS (prefix bound above + the size bound
    n_b*DEN >= NUM*n_a, valid since n_common <= n_b), so the oracle
    brute-forces all pairs and must agree exactly. All threshold
    comparisons are integer (t = CONTAINMENT_NUM/CONTAINMENT_DEN, see
    params.py) — no float boundary in the losslessness proof; the
    reported ``containment`` double is display-only derived from the
    same integers.

    Two further LOSSLESS reductions (both convicted as necessary by
    the sf1 zero-selectivity profile — the 31-word synthetic
    vocabulary yields exactly 31^3 distinct shingles, every df ~89,
    so the bare prefix filter generated 42M candidates):

    - shingles travel as 64-bit hashes end to end (8-byte longs in
      every shuffle instead of ~20-char strings; the oracle hashes
      identically, so the differential stays exact — same rationale
      as segment/substring's 60-bit gram hashes: a collision is
      ~2^-64 per shingle pair and would be seen by BOTH engines);
    - the PPJoin POSITIONAL filter: with both docs' shingle lists
      ordered by the same global (df, h) total order, the first
      common element of a true-positive pair sits within a's prefix
      (pigeonhole again) and bounds the overlap by
      1 + min(n_a - rn_a, n_b - rn_b); hits matched too late in the
      index doc's ordered list cannot reach ceil(t*n_a) and are
      dropped BEFORE the pair ever exists. The pair survives iff any
      hit passes — the first-common-element hit always does.

    Scale shape: one groupBy(hash) for df (map-side partial agg), one
    doc_id window for the rank positions, one posting join keyed on
    the 8-byte hash, then arrays ship only for surviving candidates —
    the same verify economics as minhash_lsh_pairs. Skew note: the
    rarest-first prefix is itself the guard against hot posting lists;
    a corpus where even the rarest prefix shingles are corpus-wide
    (all docs near-identical) has inherently quadratic OUTPUT, which
    no blocking can beat."""
    num, den = params.CONTAINMENT_NUM, params.CONTAINMENT_DEN
    toks = tokens()
    base = docs.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= params.SHINGLE_SIZE
    )
    # Posting list: explode the CHEAP string-shingle array first and
    # hash one shingle per exploded row. Building the hashed array and
    # then exploding it re-evaluates the whole ~|doc|-element md5
    # array per OUTPUT row (measured: 78 s for ONE posting pass at
    # sf1 vs 1.5 s this way — the expensive-expression-under-explode
    # trap). The trailing distinct pins the HASH-domain set so ``n``
    # and ``df`` count exactly what the oracle's hashed lists count
    # even at an md5 collision.
    posting = (
        base.select("doc_id", F.explode(shingles_col(F.col("t"))).alias("sg"))
        .select("doc_id", portable_hash64(F.col("sg")).alias("h"))
        .distinct()
    )
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_rel = posting.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # prefix_len = n - ceil(num*n/den) + 1, all integer: ceil_div(a,b)
    # = (a + b - 1) div b. The `div` operator keeps the quotient in
    # BIGINT end to end — Spark's `/` on integers yields a DOUBLE, so
    # floor(a / b) is float floor-division, exact only while
    # a < 2^53 (r8 ADVICE: unreachable for shingle counts, but the
    # losslessness proof should not carry a float boundary at all).
    def _prefix_len(n: Column) -> Column:
        return n - _int_ceil_div(F.lit(num) * n, den) + 1

    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    ranked = (
        posting.join(df_rel, "h")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    probe = ranked.filter(F.col("rn") <= _prefix_len(F.col("n"))).select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("rn").alias("rn_a"),
        F.col("n").alias("n_a"),
    )
    index = ranked.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("rn").alias("rn_b"),
        F.col("n").alias("n_b"),
    )
    ub = F.lit(1) + F.least(
        F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")
    )
    cand = (
        probe.join(index, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("n_b") * den >= F.col("n_a") * num)  # size bound
        .filter(ub * den >= F.col("n_a") * num)  # positional bound
        .select("doc_a", "doc_b", "n_a")
        .distinct()
    )
    # Verify arrays: the per-doc hashed set as an ARRAY, built in a
    # non-explode projection (one pass over the corpus, the array expr
    # evaluated once per doc — cheap, unlike under a generator).
    sh = base.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles_col(F.col("t")), portable_hash64)
        ).alias("sh"),
    )
    g1 = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    g2 = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(g1, "doc_a")
        .join(g2, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a"),
            n_common.alias("n_common"),
            (n_common.cast("double") / F.col("n_a")).alias("containment"),
        )
        .filter(F.col("n_common") * den >= F.col("n_a") * num)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out eval set
# ---------------------------------------------------------------------------


def contamination_check(docs: DataFrame, n: int = 3, eval_mod: int = 50) -> DataFrame:
    """Training-data decontamination: per-document overlap with an eval
    set's token n-grams (the standard benchmark-contamination test —
    production pipelines use 13-grams; 3 here so the synthetic corpus
    yields signal). Docs with ``doc_id % eval_mod == 0`` stand in for
    the benchmark; everything else is the training candidate pool.

    Scale shape: eval n-gram hashes are a SMALL relation (benchmarks
    are tiny next to a corpus) — broadcast; training grams are
    de-duplicated per document map-side (array_distinct BEFORE the
    explode), flow through the broadcast membership probe without a
    shuffle, and aggregate per doc_id with map-side partial count/sum
    (fixed-width longs -> hash aggregate). ONE shuffle total, carrying
    (doc_id, counts) rows. Grams travel as 60-bit portable hashes, not
    strings; 60-bit collisions are negligible and the oracle hashes
    identically, so the differential stays exact.
    """
    grams = docs.select(
        "doc_id", token_ngrams(tokens(), n).alias("grams")
    ).filter(F.size("grams") > 0)
    eval_grams = (
        grams.filter(F.col("doc_id") % eval_mod == 0)
        .select(F.explode("grams").alias("g"))
        .select(portable_hash64("g").alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = (
        grams.filter(F.col("doc_id") % eval_mod != 0)
        .select("doc_id", F.explode("grams").alias("g"))
        .select("doc_id", portable_hash64("g").alias("gh"))
    )
    probed = train.join(F.broadcast(eval_grams), "gh", "left")
    agg = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        (F.col("n_contaminated").cast("double") / F.col("n_grams")).alias(
            "contamination_ratio"
        ),
    )


def crossdoc_ngram_overlap(docs: DataFrame, n: int = 4) -> DataFrame:
    """Memorization-risk profile: for each document, the fraction of
    its DISTINCT token n-grams that also occur in at least one OTHER
    document — the corpus-wide repeated-passage signal a training
    pipeline reads before deciding span-level dedup is warranted
    (high shared_fraction = boilerplate/templated content that
    exact-dedup at document granularity cannot remove).

    Scale shape: grams travel as 60-bit portable hashes; per-doc
    distinct grams explode to (doc_id, gh) rows, the per-gram document
    count is ONE gh-keyed aggregation with map-side combine, and the
    join back to (doc_id, gh) reuses the same gh hash partitioning
    (no second shuffle of the exploded relation under AQE exchange
    reuse); the final per-doc rollup shuffles fixed-width count rows.
    No broadcast anywhere — both sides are corpus-sized at 100 TB.
    """
    grams = docs.select(
        "doc_id", token_ngrams(tokens(), n).alias("grams")
    ).filter(F.size("grams") > 0)
    e = grams.select("doc_id", F.explode("grams").alias("g")).select(
        "doc_id", portable_hash64("g").alias("gh")
    )
    # per-doc grams are distinct, so count(*) per gh == #docs containing
    counts = e.groupBy("gh").agg(F.count(F.lit(1)).alias("_ndocs"))
    return (
        e.join(counts, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_grams")).alias(
                "shared_fraction"
            ),
        )
    )


def gram_novelty_profile(docs: DataFrame, n: int = 4) -> DataFrame:
    """First-occurrence novelty profile: for each document, the
    fraction of its DISTINCT token n-grams that this document is the
    FIRST to contribute to the corpus (first = smallest ``doc_id``
    containing the gram — ingestion order, the "keep the first copy"
    convention exact/near dedup already uses). The incremental-crawl
    readout: a batch of newly ingested documents with low novelty is
    re-crawled or templated content the pipeline should drop BEFORE
    paying for near-dup pairing, and per-source novelty curves are how
    production crawls decide a source is exhausted (Lee et al. 2021
    observe most duplicate text is cross-document repeats of earlier
    spans). Complements ``crossdoc_ngram_overlap``: that op asks "is
    this gram shared at all", this op asks "who was first".

    Scale shape — strictly better than the crossdoc join-back plan,
    because "who was first" never needs the exploded relation again:
    grams travel as 60-bit portable hashes and the exploded (doc_id,
    gh) relation is shuffled EXACTLY ONCE (the gh-keyed ``min(doc_id)``
    aggregate, map-side combined — min is the cheapest possible
    per-key state); the per-doc novel count is then a second rollup of
    that aggregate's own output (one 8-byte row per distinct gram —
    vocabulary-sized, fixed-width, never the corpus text), and n_grams
    is read off the distinct-gram array size in the original map pass.
    The only join is doc-keyed between two per-doc relations. No
    broadcast anywhere: the gram vocabulary is unbounded at 100 TB
    (the tfidf rule), so pinning either side would be the scale bug. A
    hot gram (boilerplate shared by millions of docs) costs this plan
    nothing quadratic — one aggregate row per gram, no bucket
    expansion — which is why this profile is safe to run corpus-wide
    BEFORE any capped pairing op.
    """
    grams = docs.select(
        "doc_id", token_ngrams(tokens(), n).alias("grams")
    ).filter(F.size("grams") > 0)
    n_grams = grams.select(
        "doc_id", F.size("grams").cast("bigint").alias("n_grams")
    )
    e = grams.select("doc_id", F.explode("grams").alias("g")).select(
        "doc_id", portable_hash64("g").alias("gh")
    )
    # distinct-gram semantics: one row per gh after the min; a 60-bit
    # collision merges the colliding grams into one novelty unit on
    # BOTH engines (the oracle mirrors this rollup shape exactly)
    novel = (
        e.groupBy("gh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return n_grams.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        (
            F.coalesce("n_novel", F.lit(0)).cast("double") / F.col("n_grams")
        ).alias("novelty_fraction"),
    )


def source_overlap_matrix(docs: DataFrame, n: int = 4) -> DataFrame:
    """Corpus-level source-pair duplication matrix: for every ordered
    pair of sources (a, b), the count of distinct token n-grams that
    occur in BOTH, and the containment |A∩B| / |A| — the readout a
    mixture designer checks before weighting sources (two mirrors of
    one crawl look like independent corpora to per-doc profiles but
    show containment ~1 here, so their combined mixture weight is
    double-counted until one side is dropped). Complements the per-doc
    profiles (crossdoc/gram_novelty) with the SOURCE-granular view and
    source_vocab_divergence's unigram distributions with shared-SPAN
    evidence.

    Scale shape: grams travel as 60-bit hashes; ONE gh-keyed
    ``collect_set(source)`` aggregate (the set is bounded by the
    source count — a dimension, not a corpus axis — so per-key state
    is O(|sources|) however hot the gram); ordered pairs expand
    MAP-SIDE from each set (<= |sources|^2 rows per distinct gram,
    from the agg's own vocabulary-sized output — the corpus never
    joins back, gram_novelty_profile's rule); the cell rollup shuffles
    <= |sources|^2 fixed-width rows. The diagonal join is pinned
    broadcast — it is |sources| rows, a true dimension under the
    broadcast rule."""
    grams = docs.select(
        "source", token_ngrams(tokens(), n).alias("grams")
    ).filter(F.size("grams") > 0)
    e = grams.select("source", F.explode("grams").alias("g")).select(
        "source", portable_hash64("g").alias("gh")
    )
    per_gram = e.groupBy("gh").agg(F.collect_set("source").alias("_srcs"))
    cells = (
        per_gram.select(
            F.explode("_srcs").alias("src_a"), F.col("_srcs").alias("_srcs")
        )
        .select("src_a", F.explode("_srcs").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    diag = (
        cells.filter(F.col("src_a") == F.col("src_b"))
        .select("src_a", F.col("n_shared").alias("n_a"))
    )
    return cells.join(F.broadcast(diag), "src_a").select(
        "src_a",
        "src_b",
        "n_shared",
        "n_a",
        (F.col("n_shared").cast("double") / F.col("n_a")).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Segment-level dedup profile (RefinedWeb-style span dedup signal)
# ---------------------------------------------------------------------------


def segment_dedup_stats(docs: DataFrame, seg_len: int = 16) -> DataFrame:
    """Per-document duplicated-SEGMENT profile: tokens are cut into
    non-overlapping ``seg_len``-token segments (the trailing partial
    segment is dropped) and each segment position counts as duplicated
    when its content hash occurs in at least one OTHER document. This
    is the span-level signal behind RefinedWeb/Gopher-style substring
    dedup — coarser than crossdoc_ngram_overlap's sliding n-grams (one
    hash per 16 tokens instead of one per token) which is exactly what
    makes it the variant that scales to substring-dedup duty at 100 TB.

    Cross-doc (not within-doc) duplication: the per-hash statistic is
    the count of DISTINCT documents containing the segment, so a doc
    that repeats its own segment is not flagged by itself.

    Scale shape: segments travel as 60-bit hashes (8-byte shuffle
    rows, corpus text never shuffles); the per-hash distinct-doc count
    is one gh-keyed aggregate over per-doc-distinct rows (map-side
    combined); the join back to the per-position relation reuses the
    gh partitioning; the final per-doc rollup shuffles fixed-width
    counters. No broadcast — both sides are corpus-sized.
    """
    toks = tokens()
    n_segs = F.floor(F.size(toks) / seg_len).cast("int")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(toks, i * seg_len + 1, seg_len), " "
    )
    # sequence(0, n-1) counts DOWN for n <= 0 (token_ngrams' documented
    # trap) — guard short docs to an empty array before the transform.
    segs = docs.select(
        "doc_id",
        F.when(
            n_segs >= F.lit(1),
            F.transform(F.sequence(F.lit(0), n_segs - 1), lambda i: seg_at(i)),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("segs"),
    ).filter(F.size("segs") > 0)
    pos = segs.select(
        "doc_id", F.posexplode("segs").alias("seg_idx", "seg")
    ).select("doc_id", "seg_idx", portable_hash64("seg").alias("gh"))
    ndocs = (
        pos.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
    )
    return (
        pos.join(ndocs, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_segments"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_dup_segments",
            (
                F.col("n_dup_segments").cast("double")
                / F.col("n_segments").cast("double")
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# LSH band-count tuning curve
# ---------------------------------------------------------------------------


def minhash_band_sweep(
    docs: DataFrame, band_configs: tuple[int, ...] = (8, 4, 2, 1)
) -> DataFrame:
    """The banding accuracy/cost curve read BEFORE fixing an LSH
    configuration (the MinHash analog of knn_ivf_probe_sweep): for
    each b*r = K banding, the candidate count, true-pair hits,
    recall and precision against EXHAUSTIVE-Jaccard ground truth.
    More bands / fewer rows shifts the S-curve left: recall rises,
    precision falls — this query quantifies that trade on real data.

    Scale: ground truth is all-pairs (O(N^2)) BY DESIGN — a tuning
    harness runs on a deterministic sample (sampling.stratified_sample
    composes upstream), never the full corpus; the LSH candidate
    sides themselves stay banded/bucket-capped exactly as production
    runs them. Each config is one extra pass over the signature
    relation; counts are 1-row aggregates crossed together.
    """
    sig = minhash_signatures(docs)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= params.JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    out: DataFrame | None = None
    for nb in band_configs:
        cand = lsh_candidates(sig, n_bands=nb)
        hits = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
        row = (
            cand.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_pairs")))
            .select(
                F.lit(nb).alias("n_bands"),
                F.lit(params.MINHASH_K // nb).alias("rows_per_band"),
                "n_candidates",
                "n_true_pairs",
                "n_hits",
                F.when(
                    F.col("n_true_pairs") > 0,
                    F.col("n_hits").cast("double") / F.col("n_true_pairs"),
                ).alias("recall"),
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_hits").cast("double") / F.col("n_candidates"),
                ).alias("precision"),
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# Exact-substring dedup profile (suffix-array-style span signal)
# ---------------------------------------------------------------------------


def _hot_gram_estimate(
    docs: DataFrame, k: int, probe_fraction: float, probe_seed: int
) -> int:
    """Estimated position count of the corpus' HOTTEST k-gram, from a
    Bernoulli document sample: sample ``probe_fraction`` of docs,
    count positions per window hash, extrapolate the max by
    1/fraction. One cheap job (the probe touches ~fraction of the
    corpus' chars; the operators it guards touch all of them several
    times over), used by substring_dedup_stats/rewrite's AUTO strategy
    selection — the r9 verdict's ask that something *selects* the
    skew-safe plan when a near-universal boilerplate gram would
    serialize the default plan's gh window into one straggler task.
    A gram hot enough to matter (~1e8+ positions at 100 TB) is by
    construction visible in any non-trivial sample."""
    c = F.col("text")
    win = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: F.substring(c, i, k),
    )
    row = (
        docs.filter(F.length(c) >= k)
        .sample(fraction=probe_fraction, seed=probe_seed)
        .select(F.explode(win).alias("gram"))
        .groupBy(portable_hash64("gram").alias("gh"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()
    )
    mx = row[0]["mx"] if row and row[0]["mx"] is not None else 0
    return int(mx / probe_fraction)


# Flip line for the AUTO strategy: the A/B (BENCH_substring_boiler.
# json) showed the default window plan wins everywhere EXCEPT when one
# single k-gram's stride-1 position set rivals a task budget — the
# straggle line is ~1e8 positions for one gram (min/max windows spill
# rather than OOM below that).
HOT_GRAM_POSITIONS = 100_000_000


def substring_dedup_stats(
    docs: DataFrame,
    k: int = 32,
    skew_safe: bool | None = None,
    hot_gram_threshold: int = HOT_GRAM_POSITIONS,
    probe_fraction: float = 0.01,
    probe_seed: int = 7,
) -> DataFrame:
    """Per-document exact-SUBSTRING duplication profile: every char
    position opens a ``k``-char window, and a position counts as
    duplicated when its window occurs verbatim in at least one OTHER
    document. Reported per doc: the number of window positions, how
    many are cross-doc duplicated, their fraction, and the length of
    the longest duplicated substring (longest run of consecutive
    duplicated positions + k - 1 chars) — the per-doc readout of
    suffix-array exact-substring dedup (Lee et al. 2021,
    arXiv:2107.06499): a max run spanning the whole doc is an exact/
    near copy, shorter runs localize boilerplate spans. This is the
    character-exact complement to segment_dedup_stats' 16-TOKEN
    segments (stride-k, token-aligned) — here stride 1, char-aligned,
    so shared spans are found at ANY alignment, the property that
    makes suffix arrays the tool of choice for training-data dedup.

    Distributed shape (a suffix array is a single sorted structure —
    the wrong primitive for a cluster; rolling window hashes give the
    same cross-doc span evidence as relational ops): windows travel as
    60-bit hashes (8-byte shuffle rows, text never shuffles); ONE pass
    over the position rows marks cross-doc-shared window hashes via
    min/max doc_id over the gh key (strategy choice below — measured,
    not guessed); the longest-run window (pos - row_number, the
    standard islands rewrite) runs over SHARED positions only — at
    healthy dup rates a small fraction of the corpus. Total row volume
    is O(total chars), the same asymptotics as building the suffix
    array, with stride-1 resolution; docs shorter than ``k`` chars
    have no window and are excluded (mirrored in the oracle).

    ``skew_safe``: False marks shared positions with a window over gh
    — one corpus pass, 2-6x faster at every measured point
    (BENCH_substring_boiler.json) but serializes a corpus-hot gram's
    positions into one (spillable) task; True trades a second corpus
    map pass for an AQE-splittable groupBy+rejoin — the structural
    escape for corpora where one k-gram lands ~1e8+ positions. None
    (default, r10: the r9 verdict's auto-selection ask) probes a
    ``probe_fraction`` document sample for the hottest gram and flips
    to the safe plan iff its extrapolated position count exceeds
    ``hot_gram_threshold`` — the probe is one sample-sized job, both
    plans are value-identical (CI-pinned), so the gate can only trade
    wall time, never rows.
    """
    if skew_safe is None:
        skew_safe = (
            _hot_gram_estimate(docs, k, probe_fraction, probe_seed)
            > hot_gram_threshold
        )
    c = F.col("text")
    win = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: F.substring(c, i, k),
    )
    # sequence() counts DOWN when stop < start (token_ngrams' trap):
    # filter len >= k BEFORE building the sequence
    pg = (
        docs.filter(F.length(c) >= k)
        .select("doc_id", F.posexplode(win).alias("pos0", "gram"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            portable_hash64("gram").alias("gh"),
        )
    )
    # r8 shuffle-diet (the sf3 study measured the first cut at 5.4x
    # for 3x data — stride-1 windows mean position rows ~ total chars,
    # so every avoidable pass over them matters):
    # - a window hash is cross-doc shared iff min(doc_id) != max(doc_id)
    #   over its gh key;
    # - per-doc totals come from the CLOSED FORM n_windows =
    #   len(text) - k + 1 (posexplode emits exactly that many rows —
    #   no corpus-row aggregation at all);
    # - n_shared_windows = sum of island run lengths, folded into the
    #   same aggregate as the max run (one pass over SHARED rows).
    #
    # r9 hot-key study (VERDICT r8 item 3, ADVICE r8): the flag "a
    # corpus-hot boilerplate hash lands its entire stride-1 position
    # set in ONE window partition" named two candidate plans, and the
    # controlled A/B (tools/bench_substring_boiler.py, results in
    # BENCH_substring_boiler.json — alternating same-session reps on
    # default AND boilerplate-heavy corpora at sf1/sf3) CONVICTED the
    # "skew-safe" rework, not the window:
    #
    # - default (skew_safe=False): shared flag = min/max over
    #   Window.partitionBy("gh"). ONE pass over the O(total chars)
    #   position rows, one gh exchange. Measured 2.6-13 s across all
    #   four corpora — 2-6x FASTER than the alternative everywhere,
    #   INCLUDING the corpus built to break it (30% of docs sharing a
    #   verbatim 160-char header). The skew exposure is real but
    #   remote: a window partition only rivals a task budget when one
    #   single 32-char gram has ~1e8+ occurrences (min/max windows
    #   spill; they straggle, not OOM), i.e. a near-universal
    #   boilerplate gram at full 100 TB scale.
    # - skew_safe=True: the flag moves into a groupBy("gh") min/max
    #   aggregate (partial-aggregated MAP-SIDE, so a hot key reaches
    #   the reducer pre-combined) and positions REJOIN on gh, where
    #   AQE skew handling can split a degenerate key across tasks
    #   (window partitions cannot be split). Structurally immune to
    #   the straggler — but the probe side re-evaluates the stride-1
    #   posexplode over the whole corpus (Catalyst re-evaluates the
    #   generate subtree on both consumers; the explode-re-evaluation
    #   trap writ large), measured 2-6x slower at every point.
    #
    # The bucket-cap answer (LSH_BUCKET_CAP et al.) is WRONG here
    # either way: caps drop hot keys from CANDIDATE GENERATION, where
    # a hot bucket only re-proposes pairs exact dedup already
    # collapses — a hash in >cap docs is the strongest duplication
    # signal in the corpus, and dropping it inverts the readout.
    # Values are identical under both strategies (CI parity runs the
    # default; test_substring_dedup_stats_strategies pins equality).
    if skew_safe:
        gh_shared = (
            pg.groupBy("gh")
            .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("gh")
        )
        shared = pg.join(gh_shared, "gh").select("doc_id", "pos")
    else:
        wgh = Window.partitionBy("gh")
        shared = (
            pg.withColumn("_mn", F.min("doc_id").over(wgh))
            .withColumn("_mx", F.max("doc_id").over(wgh))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("doc_id", "pos")
        )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        shared.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    perdoc = runs.groupBy("doc_id").agg(
        F.max("run_len").alias("max_run"),
        F.sum("run_len").alias("n_shared_windows"),
    )
    tot = docs.filter(F.length(c) >= k).select(
        "doc_id", (F.length(c) - (k - 1)).cast("bigint").alias("n_windows")
    )
    return (
        tot.join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_shared_windows", F.lit(0)).cast("bigint").alias(
                "n_shared_windows"
            ),
            (
                F.coalesce("n_shared_windows", F.lit(0)).cast("double")
                / F.col("n_windows").cast("double")
            ).alias("shared_window_fraction"),
            F.coalesce(F.col("max_run") + F.lit(k - 1), F.lit(0))
            .cast("bigint")
            .alias("max_shared_substr_chars"),
        )
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    k: int = 32,
    skew_safe: bool | None = None,
    hot_gram_threshold: int = HOT_GRAM_POSITIONS,
    probe_fraction: float = 0.01,
    probe_seed: int = 7,
) -> DataFrame:
    """Exact-substring duplicate-span REMOVAL — the actual output of
    Lee et al. 2021 (arXiv:2107.06499, the suffix-array dedup run on
    C4/RealNews): substring_dedup_stats PROFILES which char windows
    are cross-doc duplicated; this operator emits the CLEANED CORPUS,
    cutting every duplicated span and keeping the FIRST occurrence
    (the gram's min-doc_id document keeps its copy verbatim; every
    later document loses the covered chars). Returned per doc:
    (doc_id, orig_chars, n_spans_removed, chars_removed, clean_text,
    clean_chars) — docs without duplicated spans (and docs shorter
    than ``k``) pass through unchanged, a fully-duplicated doc
    collapses to the empty string.

    Span semantics: a position is CUT when its k-char window occurs in
    some lower-doc_id document (min(doc_id) over the window hash <
    this doc_id — "first occurrence wins" at document grain, the
    deterministic distributed stand-in for the paper's suffix-order
    tie-break). Cut position p covers chars [p, p+k-1]; covered char
    intervals are merged by the sorted-positions rule (a cut position
    extends the open interval iff it starts within k chars of the
    previous cut — positions are sorted, so interval ends are
    monotone and a lag test is exact), and the kept text is the
    concatenation of the complement segments — the gaps-and-islands
    rewrite, mirrored step for step in the DuckDB oracle.

    Distributed shape (the stats op's discipline end to end): windows
    travel as 60-bit hashes, text shuffles EXACTLY ONCE (the per-doc
    span-array join back onto documents); the cut-marking strategy is
    the same measured window-vs-agg choice as substring_dedup_stats
    (``skew_safe``: None = auto via the sampled hot-gram probe); the
    islands lag/cumsum windows run over CUT positions only (a small
    fraction of the corpus at healthy dup rates); the splice itself is
    a Catalyst HOF fold over each doc's sorted span array — map-side,
    no UDF, no driver loop."""
    if skew_safe is None:
        skew_safe = (
            _hot_gram_estimate(docs, k, probe_fraction, probe_seed)
            > hot_gram_threshold
        )
    c = F.col("text")
    win = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: F.substring(c, i, k),
    )
    pg = (
        docs.filter(F.length(c) >= k)
        .select("doc_id", F.posexplode(win).alias("pos0", "gram"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            portable_hash64("gram").alias("gh"),
        )
    )
    if skew_safe:
        first_doc = pg.groupBy("gh").agg(F.min("doc_id").alias("_mn"))
        cut = (
            pg.join(first_doc, "gh")
            .filter(F.col("doc_id") > F.col("_mn"))
            .select("doc_id", "pos")
        )
    else:
        wgh = Window.partitionBy("gh")
        cut = (
            pg.withColumn("_mn", F.min("doc_id").over(wgh))
            .filter(F.col("doc_id") > F.col("_mn"))
            .select("doc_id", "pos")
        )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        cut.withColumn("_lag", F.lag("pos").over(wd))
        .withColumn(
            "_new",
            F.when(
                F.col("_lag").isNull() | (F.col("pos") - F.col("_lag") > k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("grp", F.sum("_new").over(wd))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k - 1)).alias("e"),
        )
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("s"), F.col("e")))
        ).alias("spans"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans_removed"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("chars_removed"),
    )
    # the fold keeps (end of last removed span, text kept so far);
    # each span appends the gap before it, the finish lambda appends
    # the tail after the last span
    spliced = F.aggregate(
        F.col("spans"),
        F.struct(
            F.lit(0).cast("bigint").alias("prev"), F.lit("").alias("acc")
        ),
        lambda acc, sp: F.struct(
            sp["e"].cast("bigint").alias("prev"),
            F.concat(
                acc["acc"],
                F.substring(
                    F.col("text"),
                    (acc["prev"] + 1).cast("int"),
                    (sp["s"] - acc["prev"] - 1).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.substring(
                F.col("text"),
                (acc["prev"] + 1).cast("int"),
                (F.length("text") - acc["prev"]).cast("int"),
            ),
        ),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("orig_chars"),
            F.coalesce("n_spans_removed", F.lit(0))
            .cast("bigint")
            .alias("n_spans_removed"),
            F.coalesce("chars_removed", F.lit(0))
            .cast("bigint")
            .alias("chars_removed"),
            F.when(F.col("spans").isNull(), F.col("text"))
            .otherwise(spliced)
            .alias("clean_text"),
        )
        .withColumn("clean_chars", F.length("clean_text").cast("bigint"))
    )


def _winnowing_fps(docs: DataFrame, k: int = 8, w: int = 16) -> DataFrame:
    """The distinct winnowing-fingerprint relation (doc_id, fp) shared
    by winnowing_overlap and winnowing_pairs — see winnowing_overlap
    for the algorithm and guarantee."""
    c = F.col("text")
    win = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: F.substring(c, i, k),
    )
    pg = (
        docs.filter(F.length(c) >= k + w - 1)
        .select("doc_id", F.posexplode(win).alias("pos0", "gram"))
        .select("doc_id", F.col("pos0").alias("pos"), portable_hash64("gram").alias("gh"))
    )
    fw = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    cnt = Window.partitionBy("doc_id")
    return (
        pg.withColumn("fp", F.min("gh").over(fw))
        .withColumn("n_pos", F.count(F.lit(1)).over(cnt))
        .filter(F.col("pos") <= F.col("n_pos") - w)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )


def winnowing_pairs(docs: DataFrame, k: int = 8, w: int = 16, top_n: int = 100) -> DataFrame:
    """MOSS's actual output artifact: the TOP-``top_n`` document pairs
    ranked by shared winnowing fingerprints — char-level span evidence
    that survives reordering and partial copying (each shared
    fingerprint witnesses a shared substring of >= k chars, and any
    shared span >= w + k - 1 chars is guaranteed to produce one). The
    pair-grain complement to winnowing_overlap's per-doc score, and
    the span-evidence counterpart of minhash_lsh_pairs' token-set
    similarity.

    Skew guard (oracle-mirrored): fingerprints present in more than
    ``WINNOWING_FP_CAP`` documents are dropped before the pair join —
    a fingerprint in half the corpus is boilerplate, not plagiarism
    signal, and one hot fingerprint would otherwise contribute
    C(ndocs, 2) pairs (the LSH_BUCKET_CAP rule applied to the
    fingerprint index). match_score divides by the SMALLER side's
    full fingerprint count, so containment-style partial copies score
    high.

    Scale shape: the fp self-join is bucket-capped (pair volume
    sum-of-ndocs^2 over capped fps, never N^2); the ranking compiles
    to TakeOrderedAndProject (per-partition top-N then a top_n-row
    merge — no global sort, no single-task window); ordering is total
    (n_shared desc, doc_a, doc_b) so the LIMIT is deterministic
    cross-engine."""
    fps = _winnowing_fps(docs, k, w)
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    nd = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_nd"))
    capped = fps.join(
        nd.filter(F.col("_nd") <= params.WINNOWING_FP_CAP).select("fp"), "fp"
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("nf_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nf_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_fps",
            (
                F.col("n_shared_fps").cast("double")
                / F.least("nf_a", "nf_b").cast("double")
            ).alias("match_score"),
        )
        .orderBy(F.col("n_shared_fps").desc(), "doc_a", "doc_b")
        .limit(top_n)
    )


def winnowing_overlap(docs: DataFrame, k: int = 8, w: int = 16) -> DataFrame:
    """Per-document winnowing-fingerprint overlap (Schleimer, Wilkerson
    & Aiken, SIGMOD 2003 — the MOSS algorithm): hash every ``k``-char
    window at stride 1, then keep per position the MINIMUM hash of the
    ``w`` consecutive gram hashes starting there; the distinct kept
    hashes are the document's fingerprints. Winnowing's guarantee:
    any shared substring of length >= w + k - 1 contributes at least
    one IDENTICAL fingerprint to both documents, while the stored
    density is ~2/(w+1) of positions — the principled way to get
    substring_dedup_stats' span evidence at a fraction of the index
    size (the 100 TB lever: the fingerprint relation is ~1/8th of the
    stride-1 window relation at w=16). Reported per doc: fingerprint
    count, how many fingerprints appear in at least one OTHER doc, and
    their fraction — the MOSS-style match score.

    Relational shape: gram hashes (60-bit, text never shuffles) ->
    per-doc sliding-window MIN (one doc-keyed sort window, frame
    ROWS [CURRENT, w-1 FOLLOWING]; positions with fewer than w
    following grams are dropped so every fingerprint is a true
    w-window min) -> distinct per doc -> one fp-keyed distinct-doc
    aggregate -> join back on the fp partitioning. Docs shorter than
    k + w - 1 chars have no full window and are excluded (mirrored in
    the oracle)."""
    fps = _winnowing_fps(docs, k, w)
    ndocs = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_ndocs"))
    return (
        fps.join(ndocs, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_fingerprints"),
        )
        .select(
            "doc_id",
            "n_fingerprints",
            "n_shared_fingerprints",
            (
                F.col("n_shared_fingerprints").cast("double")
                / F.col("n_fingerprints").cast("double")
            ).alias("shared_fp_fraction"),
        )
    )


def dedup_cascade_report(docs: DataFrame) -> DataFrame:
    """The dedup CASCADE in production order, as one auditable funnel:
    stage 1 URL dedup (cheapest — no content reads), stage 2
    normalized-exact dedup, stage 3 MinHash near-dup — each stage's
    keep-rule applied among the PREVIOUS stage's survivors, reporting
    (stage_no, stage, n_docs, n_chars) per stage including the raw
    corpus row. This is quality_filter_funnel's dedup-side sibling
    and the composition readout a pipeline owner actually schedules:
    the marginal yield of each successively-more-expensive stage (a
    stage that removes nothing at 100 TB is a stage you stop paying
    for).

    Keep-rules, all min-doc_id-first and deterministic: stage 1 keeps
    each canonical URL's smallest doc_id (operators.web chain);
    stage 2 keeps each normalized-content hash's smallest SURVIVING
    doc_id; stage 3 applies the PAIR rule over the corpus-wide
    verified MinHash pair list (minhash_lsh_pairs): drop a doc iff it
    pairs with a SMALLER doc_id that survived stage 2 — the pair
    rule, NOT transitive closure (dedup_survivors owns the CC
    variant; the pair rule needs no iteration and is what a one-pass
    cascade deploys; neardup_kcore reads out where the two disagree).

    Scale shape: stages 1-2 are one keyed aggregate + one
    partitioning-reusing semi-join each; stage 3 reuses the banded-LSH
    pair op unchanged (its own gates apply) and adds one doc-keyed
    semi/anti join pair; the report is ONE pass over (doc_id, length)
    with three doc-keyed survivor flags folded into a conditional
    aggregate emitting 4 fixed rows. Nothing broadcasts beyond the
    pair op's own bounded relations."""
    from flink_kafka_filter_transform_spark.operators.web import url_canonicalize

    c = url_canonicalize(docs).select("doc_id", "canonical_url")
    url_min = c.groupBy("canonical_url").agg(F.min("doc_id").alias("_m"))
    # survivor sets materialized ONCE (r15, guide §3.3): s1 feeds both
    # the stage-2 input and the report flags, s2 feeds the pair rule,
    # the stage-3 anti-join AND the report flags — unmaterialized, the
    # whole url->normalize chain re-executed per consumer (the
    # dominant repetition in this query's 1319-line r14 plan). Both
    # sets are doc_id-only: bounded-width at any corpus scale.
    s1 = (
        c.join(url_min, "canonical_url")
        .filter(F.col("doc_id") == F.col("_m"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    norm = (
        docs.join(s1, "doc_id", "left_semi")
        .select(
            "doc_id",
            portable_hash64(normalized_text(F.col("text"))).alias("nh"),
        )
    )
    norm_min = norm.groupBy("nh").agg(F.min("doc_id").alias("_m"))
    s2 = (
        norm.join(norm_min, "nh")
        .filter(F.col("doc_id") == F.col("_m"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    dropped3 = (
        pairs.join(
            s2.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(dropped3, "doc_id", "left_anti")
    base = docs.select(
        "doc_id", F.length("text").cast("bigint").alias("nc")
    )
    flagged = (
        base.join(s1.withColumn("f1", F.lit(1)), "doc_id", "left")
        .join(s2.withColumn("f2", F.lit(1)), "doc_id", "left")
        .join(s3.withColumn("f3", F.lit(1)), "doc_id", "left")
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("nc").alias("c0"),
        *[
            x
            for i in (1, 2, 3)
            for x in (
                F.sum(F.col(f"f{i}")).alias(f"d{i}"),
                F.sum(F.col(f"f{i}") * F.col("nc")).alias(f"c{i}"),
            )
        ],
    )
    return agg.select(
        F.expr(
            "stack(4, 0, 'corpus', d0, c0, 1, 'url_dedup', d1, c1, "
            "2, 'normalized_exact', d2, c2, 3, 'minhash_neardup', d3, c3) "
            "AS (stage_no, stage, n_docs, n_chars)"
        )
    ).select(
        "stage_no",
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
