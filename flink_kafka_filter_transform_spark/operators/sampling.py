"""Deterministic sampling — the reproducibility-critical tail of a
training-data pipeline.

``df.sample()`` is seed-dependent AND partitioning-dependent: the same
seed over a repartitioned input yields a different sample, which makes
experiment reruns unreproducible and is impossible to oracle-check.
Every operator here instead derives membership from the portable
content hash of a KEY column — a pure function of the data:

- ``stratified_sample``: per-stratum rates (balance a skewed corpus):
                         keep rows whose hash bucket < rate*1000.
- ``train_val_test``   : disjoint 80/10/10 split labels from hash
                         ranges — membership never changes when the
                         corpus is re-partitioned, appended to, or
                         re-read, so no example ever leaks between
                         splits across pipeline runs.

All are map-only plans (filter/label on a scan — no shuffle, no state)
and trivially parallel at 100 TB; the hash seeds the SAME split on
every engine, which is exactly what the DuckDB oracles check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64

BUCKETS = 1000


def _bucket(key: str) -> Column:
    return portable_hash64(F.col(key).cast("string")) % BUCKETS


def stratified_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float]
) -> DataFrame:
    """Per-stratum sampling rates; strata without a rate are dropped."""
    expr = F.lit(-1)
    for value, rate in sorted(rates.items()):
        expr = F.when(F.col(stratum) == value, F.lit(int(rate * BUCKETS))).otherwise(expr)
    return df.filter(_bucket(key) < expr)


def train_val_test(
    df: DataFrame, key: str, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Append a disjoint split label: test = lowest hash buckets, then
    val, the rest train (cut points in buckets of 0.1%)."""
    b = _bucket(key)
    test_hi = test_pct * BUCKETS // 100
    val_hi = test_hi + val_pct * BUCKETS // 100
    split = (
        F.when(b < test_hi, F.lit("test"))
        .when(b < val_hi, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def documents_split_summary(docs: DataFrame) -> DataFrame:
    """Split sizes + per-split token mass for the documents corpus —
    the sanity report run before any training job."""
    from flink_kafka_filter_transform_spark.operators.text import tokens

    with_split = train_val_test(docs, key="doc_id")
    return with_split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens())).cast("bigint").alias("n_tokens"),
    )


def mixture_sample_summary(docs: DataFrame, target_frac: float = 0.3) -> DataFrame:
    """Data-mixing for a training run: sample each ``source`` at the
    rate that realizes a TARGET mixture (here: even-indexed sources
    weighted 3, odd 1) over ``target_frac`` of the corpus — the
    per-source rate computation every "mixture weights" config compiles
    down to.

    rate_s = min(1, target_n * w_s / sum_w / n_s), materialized as an
    INTEGER bucket threshold (floor(rate*BUCKETS)) so membership stays
    the deterministic content-hash rule and the cross-engine comparison
    is integer-exact. Two tiny aggregations (per-source counts, weight
    normalizer) broadcast back onto the corpus: the corpus itself is
    filtered map-side, never shuffled for the sampling decision.
    """
    # weight is a pure function of the grouping key — compute it AFTER
    # the aggregate (no per-group first() state, no apparent order
    # dependence). try_cast, matching the oracle's TRY_CAST: a source
    # not shaped like 'srcN' yields NULL -> weight 1.0 IDENTICALLY in
    # both engines (a plain CAST degrades silently in non-ANSI Spark
    # but throws in DuckDB — divergent failure modes).
    w = F.when(F.expr("try_cast(substring(source, 4) AS INT)") % 2 == 0, F.lit(3.0)).otherwise(
        F.lit(1.0)
    )
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("w", w)
    )
    norm = counts.agg(
        F.sum("w").alias("sum_w"), F.sum("n_docs").alias("n_total")
    )
    thr = F.least(
        F.lit(BUCKETS).cast("bigint"),
        F.floor(
            F.lit(float(target_frac))
            * F.col("n_total").cast("double")
            * F.col("w")
            / F.col("sum_w")
            / F.col("n_docs").cast("double")
            * F.lit(float(BUCKETS))
        ),
    )
    rates = counts.crossJoin(F.broadcast(norm)).select(
        "source", "n_docs", thr.alias("thr")
    )
    sampled = docs.join(F.broadcast(rates), "source").filter(
        _bucket("doc_id") < F.col("thr")
    )
    picked = sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_picked"))
    # left join from rates so a source sampled down to zero still reports
    return (
        rates.select("source", "n_docs")
        .join(picked, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_picked"), F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


def events_stratified_sample(events: DataFrame) -> DataFrame:
    """Downsample bulky click/view streams, keep all purchases — the
    classic class-rebalance before training on event data."""
    sampled = stratified_sample(
        events,
        key="event_id",
        stratum="event_type",
        rates={"click": 0.1, "view": 0.1, "purchase": 1.0, "signup": 0.5},
    )
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))


def group_reservoir(
    df: DataFrame, key: str, stratum: str, k: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic fixed-size uniform sample (a "reservoir") per
    stratum: the k rows with the smallest content hash of ``key``,
    ties broken by the key itself. Equivalent in distribution to
    reservoir sampling but a pure function of the data — reruns,
    repartitions, and engine changes reproduce the identical sample
    (hash order is uniform and independent of the stratum, so any
    k-smallest-hash prefix is a uniform draw).

    Scale shape: project FIRST — the window shuffles only
    (stratum, key, hash, carry) tuples, never full rows; rejoin the
    sampled keys to the wide table afterwards if payloads are needed
    (broadcast-sized: k rows per stratum).
    """
    from pyspark.sql.window import Window

    h = portable_hash64(F.col(key).cast("string"))
    w = Window.partitionBy(stratum).orderBy("_h", key)
    return (
        df.select(stratum, key, *carry, h.alias("_h"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(stratum, "rank", key, *carry)
    )


def events_group_reservoir(events: DataFrame, k: int = 5) -> DataFrame:
    """Fixed-k deterministic sample of events per event_type — the
    eyeball-a-few-examples-per-class query every dataset audit runs."""
    return group_reservoir(events, key="event_id", stratum="event_type", k=k, carry=("user_id",))


def training_mixture_report(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The END-TO-END training-data pipeline, composed from the
    engine's own stages: exact dedup (keep min doc_id per content
    hash) -> quality gate (shared quality_score expression) ->
    deterministic train/val/test split -> per (source, split) doc and
    token counts. One query plan; the report every mixture config
    review reads.

    Scale shape: dedup shuffles ~16-byte (hash, doc_id) rows with
    map-side combine; the winner set semi-joins back (AQE broadcasts
    it when small); quality + split are map-only; the final aggregate
    is (sources x 3)-row tiny.
    """
    from flink_kafka_filter_transform_spark.operators.text import quality_score, tokens

    winners = (
        docs.select(portable_hash64(F.col("text")).alias("_h"), "doc_id")
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(winners, "doc_id", "left_semi")
    scored = (
        kept.select("doc_id", "source", tokens().alias("_t"))
        .filter(F.size("_t") > 0)
        .filter(quality_score(F.col("_t")) >= F.lit(min_quality))
    )
    return (
        train_val_test(scored, key="doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("_t")).cast("bigint").alias("n_tokens"),
        )
    )


def temperature_mixture_report(docs: DataFrame) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-training
    weighting scheme: sample source i proportional to p_i^T, T=1/2, so
    small sources are upsampled — XLM-R/mT5-style rebalancing).

    T is pinned to 1/2 because x^0.5 is the ONE temperature the float
    policy allows: sqrt is correctly rounded per IEEE-754 on both
    engines, while a general pow(x, T) is a transcendental with
    library-dependent last digits. Every emitted column is either an
    exact integer aggregate or a composition of one exact division +
    one sqrt in a pinned order:

      raw_share       = n_tokens / total_tokens
      rel_size        = n_tokens / max_tokens
      temp_weight     = sqrt(rel_size)         (unnormalized p^T, scaled)
      upsample_factor = temp_weight / rel_size (= how much T=1/2
                        boosts this source vs proportional sampling)

    Normalized temperature SHARES are deliberately NOT emitted: they
    would need a sum of irrational doubles, which is association-order-
    dependent and so not reproducible across engines/partitionings.

    Scale shape: one source-keyed aggregate over per-doc token counts
    (map-side combined), then a 1-row (total, max) aggregate broadcast
    back onto the source-cardinality report. The corpus is scanned
    once, never shuffled."""
    from flink_kafka_filter_transform_spark.operators.text import tokens

    # localCheckpoint the source-cardinality aggregate: both the report
    # and the 1-row totals derive from it, and without pinning Spark
    # would recompute the whole corpus scan for the broadcast side
    per_src = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("_total"),
        F.max("n_tokens").alias("_max"),
    )
    rel_size = F.col("n_tokens").cast("double") / F.col("_max").cast("double")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("_total").cast("double")).alias(
            "raw_share"
        ),
        F.sqrt(rel_size).alias("temp_weight"),
        (F.sqrt(rel_size) / rel_size).alias("upsample_factor"),
    )


def dsir_proxy_weights(
    docs: DataFrame,
    n_buckets: int = 64,
    target_mod: int = 50,
    ppm: int = 1_000_000,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169)
    with a transcendental-free scoring rule: hashed n-gram features
    (unigrams + bigrams -> ``n_buckets`` via the portable hash),
    add-1-smoothed bucket distributions for the TARGET sample
    (doc_id % target_mod == 0 — the same held-out convention as
    contamination_check) vs the RAW corpus, and a per-doc integer score

        score = sum_b c_b * (ppm_target_b - ppm_raw_b)

    where ppm_X_b = ((count_X_b + 1) * ppm) DIV (total_X + n_buckets)
    — parts-per-million probabilities in exact integer floor division.
    This is the first-order surrogate of DSIR's log-likelihood-ratio
    (positive exactly when the doc leans target-enriched buckets); the
    true LLR needs log(), which the float policy bans as library-
    dependent. ``selected`` = score > 0.

    Overflow audit: ppm terms are bounded by ±ppm, so a doc's score is
    bounded by ppm * (its own feature count) — safe in BIGINT at any
    corpus size; the (count+1)*ppm products stay under 2^63 until a
    single bucket holds >9.2e12 features (~half a quadrillion tokens
    corpus-wide at 64 buckets).

    Scale shape: ONE feature-explode shuffle to (doc, bucket) counts;
    the bucket table (n_buckets rows, conditional target/raw sums in
    one pass) and its 1-row totals both broadcast back; the per-doc
    score reduces (doc,bucket) rows keyed by doc. The corpus text is
    scanned once."""
    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64
    from flink_kafka_filter_transform_spark.operators.text import tokens

    t = tokens("text")
    uni = F.transform(t, lambda x: portable_hash64(x) % n_buckets)
    big = F.transform(
        F.zip_with(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda x: portable_hash64(x) % n_buckets,
    )
    cnt = (
        docs.select("doc_id", F.explode(F.concat(uni, big)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bkt = cnt.groupBy("b").agg(
        F.sum("c").alias("r"),
        F.coalesce(
            F.sum(F.when(F.col("doc_id") % target_mod == 0, F.col("c"))), F.lit(0)
        ).alias("t"),
    )
    tots = bkt.agg(F.sum("r").alias("rr"), F.sum("t").alias("tt"))
    sb = (
        bkt.crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.expr(
                f"((t + 1) * {ppm}) DIV (tt + {n_buckets})"
                f" - ((r + 1) * {ppm}) DIV (rr + {n_buckets})"
            ).alias("s"),
        )
    )
    sc = (
        cnt.join(F.broadcast(sb), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("s")).alias("score"))
    )
    return (
        docs.select("doc_id", "source")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("score", F.lit(0)).cast("bigint").alias("score"),
            (F.coalesce("score", F.lit(0)) > 0).alias("selected"),
        )
    )


def split_leakage_report(docs: DataFrame) -> DataFrame:
    """Near-dup LEAKAGE across a naive per-doc train/val/test split,
    and the cluster-aware repair — the eval-integrity check every
    training pipeline needs before trusting its held-out numbers: an
    eval document with a near-duplicate in train measures memorization,
    not generalization.

    - naive split: ``train_val_test`` on doc_id (the deterministic
      content-hash split every pipeline starts with);
    - leakage: MinHash-LSH verified near-dup pairs (the exact relation
      ``minhash_lsh_pairs`` emits) whose endpoints land in DIFFERENT
      splits;
    - repair: assign each near-dup CLUSTER atomically — every member
      takes its cluster root's (min doc_id) naive split, via
      ``graph.connected_components`` (the persisted-edge loop);
      singletons keep their own split, so only duplicate-family
      members can move;
    - report: one row per split — docs before/after, moved in/out,
      and leaked-pair counts before/after. ``leaked_pairs_final`` is 0
      by construction (a pair's endpoints share a component, hence a
      root, hence a split); the report PROVES it instead of asserting
      it. A leaked pair touches two splits and is counted once under
      EACH (sum over rows = 2x distinct leaked pairs — documented
      grain, mirrored in the oracle).

    Scale shape: pair volume is LSH-bounded (never all-pairs), the CC
    loop is the audited persisted-edge fixpoint, split assignment and
    the repair join are doc-keyed single shuffles, and the report
    itself aggregates to <= 3 rows with map-side partial aggs."""
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs
    from flink_kafka_filter_transform_spark.operators.graph import connected_components

    with_split = train_val_test(docs.select("doc_id"), key="doc_id").select(
        "doc_id", F.col("split").alias("split_naive")
    )
    # materialize the verified pair list ONCE (r15, guide §3.3): it is
    # consumed three times (the CC edge list + the naive and final
    # leaked-pair joins), and unmaterialized each consumer re-executed
    # the whole MinHash shingle->band->verify pipeline — the dominant
    # subtree of this query's 1250-line r14 plan (3x the LSH chain, ~40
    # parquet scans). Pair volume is LSH-bounded (never all-pairs), so
    # the checkpoint is bounded at any corpus scale.
    pairs = (
        minhash_lsh_pairs(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    verts = docs.select(F.col("doc_id").alias("id")).distinct()
    # pair endpoints are doc_ids of the same corpus: endpoints are
    # provably vertices, the induced-subgraph semi-joins are skipped
    comp = connected_components(verts, edges, edges_within_vertices=True)
    roots = with_split.select(
        F.col("doc_id").alias("component"), F.col("split_naive").alias("split_final")
    )
    # m is the per-doc (naive split, final split) verdict — consumed
    # SIX times (d_out, d_in, and both sides of both leaked joins);
    # each unmaterialized consumer re-ran the component-keyed
    # roots join. Three narrow columns at doc cardinality: checkpoint
    # it once (r15, guide §3.3).
    m = (
        comp.join(with_split, comp["id"] == with_split["doc_id"])
        .join(roots, "component")
        .select(F.col("id").alias("doc_id"), "split_naive", "split_final")
        .localCheckpoint(eager=True)
    )
    moved = F.col("split_final") != F.col("split_naive")
    d_out = m.groupBy(F.col("split_naive").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs_naive"),
        F.sum(moved.cast("long")).alias("n_moved_out"),
    )
    d_in = m.groupBy(F.col("split_final").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs_final"),
        F.sum(moved.cast("long")).alias("n_moved_in"),
    )

    def leaked(col: str) -> DataFrame:
        sa = m.select(F.col("doc_id").alias("doc_a"), F.col(col).alias("sa"))
        sb = m.select(F.col("doc_id").alias("doc_b"), F.col(col).alias("sb"))
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(F.col("sa") != F.col("sb"))
            .select(F.explode(F.array("sa", "sb")).alias("split"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias(f"leaked_pairs_{'naive' if col == 'split_naive' else 'final'}"))
        )

    rep = (
        d_out.join(d_in, "split", "full_outer")
        .join(leaked("split_naive"), "split", "left_outer")
        .join(leaked("split_final"), "split", "left_outer")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)  # noqa: E731
    return rep.select(
        "split",
        z("n_docs_naive"),
        z("n_docs_final"),
        z("n_moved_in"),
        z("n_moved_out"),
        z("leaked_pairs_naive"),
        z("leaked_pairs_final"),
    )
