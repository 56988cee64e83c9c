"""Physical-plan quality gates: scale discipline as assertions.

These tests encode the 100 TB design review: stateless CDC path must
be shuffle-free, dimension joins must broadcast, scans must prune and
push down. A change that silently degrades the plan fails here even
when results stay correct."""

import os

from pyspark.sql import functions as F

from flink_kafka_filter_transform_spark.operators import cdc, relational, similarity
from flink_kafka_filter_transform_spark.plans import explain as px
from flink_kafka_filter_transform_spark.sources.cdc_fixture import RULES, cdc_events_df, rules_df
from flink_kafka_filter_transform_spark.sources.parquet import load_table


def test_route_when_chain_is_shuffle_free(spark, sf_dir):
    """parse -> filter -> route -> project is a pure map pipeline: zero
    Exchange, fully codegen'd — the property that makes it scale
    linearly with input splits."""
    df = cdc.project_outgoing(
        cdc.drop_unrouted(
            cdc.route_when_chain(
                cdc.filter_deletes(cdc.parse_envelope(cdc_events_df(spark, sf_dir))), RULES
            )
        )
    )
    assert px.count_shuffles(df) == 0
    assert px.codegen_stage_count(df) >= 1


def test_route_broadcast_join_compiles_small_tables(spark, sf_dir):
    """Adaptive dynamic routing: a config-sized rules DataFrame is
    collected and compiled into the when-chain — one scan, ZERO
    shuffles, no join operator at all."""
    df = cdc.route_broadcast_join(
        cdc.filter_deletes(cdc.parse_envelope(cdc_events_df(spark, sf_dir))), rules_df(spark)
    )
    assert px.count_shuffles(df) == 0
    assert not px.has_broadcast_join(df)
    assert px.sortmerge_join_count(df) == 0


def test_route_rules_probe_is_memoized(spark):
    """Two DataFrames with the SAME logical rules plan share one probe
    (the eager collection job is paid per rule TABLE, not per call);
    a different rule table gets its own entry; clear empties it."""
    cdc.clear_route_rules_cache()
    r1 = cdc._probe_rules(rules_df(spark))
    r2 = cdc._probe_rules(rules_df(spark))
    assert r1 is r2  # cache identity, not just equality
    assert len(cdc._RULES_PROBE_CACHE) == 1
    other = spark.createDataFrame(
        [(1, "t", "d", "x", "y")],
        "priority INT, source_topic STRING, db STRING, table_pattern STRING, target_topic STRING",
    )
    assert cdc._probe_rules(other) is not r1
    assert len(cdc._RULES_PROBE_CACHE) == 2
    cdc.clear_route_rules_cache()
    assert len(cdc._RULES_PROBE_CACHE) == 0


def test_route_equal_priority_tiebreak_matches_across_paths(spark):
    """Equal-priority rules pick a deterministic winner: the when-chain
    orders rules by (priority, target_topic), NULL priority last
    (r3 ADVICE)."""
    msgs = spark.createDataFrame(
        [(1, "t", "d", "tbl_1", "c"), (2, "t", "d", "tbl_2", "c")],
        "msg_id INT, topic STRING, db STRING, table_name STRING, op STRING",
    )
    rules = [
        {"priority": 5, "source_topic": "t", "db": "d",
         "table_pattern": "tbl_.*", "target_topic": "zeta"},
        {"priority": 5, "source_topic": "t", "db": "d",
         "table_pattern": "tbl_.*", "target_topic": "alpha"},
        {"priority": None, "source_topic": "t", "db": "d",
         "table_pattern": "tbl_.*", "target_topic": "fallback"},
    ]
    chain = cdc.route_when_chain(msgs, rules)
    assert {r["target_topic"] for r in chain.collect()} == {"alpha"}


def test_route_broadcast_join_rejects_tables_over_the_bound(spark, sf_dir, monkeypatch):
    """A rule table over ROUTE_COMPILE_MAX_RULES rows is an input error
    naming its size and the bound, not a switch to another routing
    plan."""
    import pytest

    from flink_kafka_filter_transform_spark.operators import params

    cdc.clear_route_rules_cache()
    monkeypatch.setattr(params, "ROUTE_COMPILE_MAX_RULES", 3)
    parsed = cdc.filter_deletes(cdc.parse_envelope(cdc_events_df(spark, sf_dir)))
    with pytest.raises(ValueError, match=f"has {len(RULES)} rows, over the ROUTE_COMPILE_MAX_RULES bound of 3"):
        cdc.route_broadcast_join(parsed, rules_df(spark))
    assert len(cdc._RULES_PROBE_CACHE) == 0


def test_route_broadcast_join_rejects_streaming_rules(spark, sf_dir, tmp_path):
    """The rules probe is an eager batch job; a streaming rules_df must
    be rejected explicitly, not fail opaquely inside toArrow (r3 ADVICE)."""
    import pytest

    rdf = rules_df(spark)
    rdf.write.mode("overwrite").parquet(str(tmp_path / "rules"))
    streaming_rules = spark.readStream.schema(rdf.schema).parquet(str(tmp_path / "rules"))
    parsed = cdc.filter_deletes(cdc.parse_envelope(cdc_events_df(spark, sf_dir)))
    with pytest.raises(ValueError, match="BATCH rules"):
        cdc.route_broadcast_join(parsed, streaming_rules)


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    df = relational.q1_pricing_summary(load_table(spark, "lineitem", sf_dir))
    needed = {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }
    assert px.scan_reads_only(df, needed), px.read_schemas(df)
    assert any("l_shipdate" in f for f in px.pushed_filters(df)), px.pushed_filters(df)


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    df = relational.q5_local_supplier_volume(
        load_table(spark, "region", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "supplier", sf_dir),
    )
    assert px.broadcast_join_count(df) >= 3
    assert px.sortmerge_join_count(df) == 0


def test_q17_single_fact_shuffle(spark, sf_dir):
    """Correlated scalar subquery decorrelated right: the brand part
    keys AND the per-part threshold relation both broadcast, so the
    fact table shuffles exactly once (the per-part groupBy); the final
    1-row aggregate adds its own single-partition exchange."""
    df = relational.q17_small_quantity(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )
    # 3 broadcasts: the brand key set joins on BOTH consumers of li
    # (threshold branch + probe branch -> lineitem scans twice, each
    # pruned/pushed) plus the threshold relation joining back. Two
    # pruned scans beat the alternative — a window over the fact table
    # would shuffle and sort EVERY brand row instead of shipping
    # per-part partials.
    assert px.broadcast_join_count(df) == 3
    assert px.sortmerge_join_count(df) == 0
    assert px.count_shuffles(df) <= 2
    plan = px.explain_str(df, "simple")
    assert plan.count("Scan parquet") == 4  # lineitem x2 + part x2
    assert "Window" not in plan


def test_q20_broadcasts_dims_and_single_pair_aggregate(spark, sf_dir):
    """Both correlated aggregates (lifetime qty, 1998 qty) compute in
    ONE conditional-sum groupBy — no self-join of the fact table, no
    second scan; part keys, supplier, and nation all broadcast."""
    df = relational.q20_potential_promotion(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "part", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )
    assert px.broadcast_join_count(df) == 3
    assert px.sortmerge_join_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert plan.count("Scan parquet") == 4  # lineitem once + 3 dims


def test_knn_brute_broadcasts_queries(spark, sf_dir):
    df = similarity.knn_brute(load_table(spark, "embeddings", sf_dir))
    assert px.has_broadcast_join(df)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, "events", sf_dir).filter(F.col("event_type") == "purchase").select(
        "event_id", "value"
    )
    assert any("event_type" in f for f in px.pushed_filters(df))
    assert px.scan_reads_only(df, {"event_id", "value", "event_type"})


def test_tfidf_never_pins_vocabulary_broadcast(spark, sf_dir):
    """The df (document-frequency) relation is vocabulary-sized —
    unbounded at 100 TB — so it must NOT carry an explicit broadcast
    hint: the only pinned broadcast is the 1-row n_docs aggregate.
    The planner/AQE may still broadcast by measured size at small SF;
    that is the desired runtime-adaptive behavior, not a regression."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.tfidf_top_terms(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 1  # n_docs only


def test_token_frequency_score_never_pins_vocab_broadcast(spark, sf_dir):
    """Same contract as tfidf: the vocabulary-count relation is
    corpus-sized at 100 TB, so the only pinned broadcast is the 1-row
    grand-total aggregate."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.token_frequency_score(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 1  # the 1-row total only


def test_crossdoc_overlap_broadcasts_nothing(spark, sf_dir):
    """Both sides of the gram-count join are corpus-sized; no pinned
    broadcast may appear anywhere in the plan."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.crossdoc_ngram_overlap(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0


def test_source_overlap_matrix_broadcasts_only_diagonal(spark, sf_dir):
    """The gram relation is corpus-sized and the per-gram source sets
    are vocabulary-sized — neither may pin a broadcast; the only
    pinned broadcast is the |sources|-row diagonal."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.source_overlap_matrix(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 1


def test_gram_novelty_broadcasts_nothing(spark, sf_dir):
    """Same contract as crossdoc: the per-gram first-doc relation is
    vocabulary-sized (unbounded at 100 TB) and the exploded relation
    is corpus-sized — no pinned broadcast may appear anywhere."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.gram_novelty_profile(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0


def test_knn_ivf_broadcasts_codebook_and_probes(spark, sf_dir):
    df = similarity.knn_ivf(load_table(spark, "embeddings", sf_dir))
    assert px.broadcast_join_count(df) >= 2
    assert px.sortmerge_join_count(df) == 0


def test_asof_join_is_single_pass(spark, sf_dir):
    """Union + window: the as-of itself adds exactly one shuffle (the
    hash partition by key); no join operator at all."""
    from flink_kafka_filter_transform_spark.operators import asof

    df = asof.events_last_purchase(load_table(spark, "events", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert px.count_shuffles(df) <= 2  # purchase-dedup agg + asof window


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed rewrite must hash-join; a naive range join would
    appear as BroadcastNestedLoopJoin / CartesianProduct."""
    from flink_kafka_filter_transform_spark.operators import rangejoin

    df = rangejoin.purchases_with_recent_clicks(load_table(spark, "events", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_hll_is_two_phase_aggregation(spark, sf_dir):
    """The sketch must partial-aggregate map-side at both levels: the
    shuffle carries at most m register rows per group, never raw keys."""
    from flink_kafka_filter_transform_spark.operators import sketch

    df = sketch.hll_distinct_users(load_table(spark, "events", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "partial_max" in plan  # register max combines before shuffle
    assert px.sortmerge_join_count(df) == 0


def test_q14_part_dimension_broadcasts(spark, sf_dir):
    df = relational.q14_promo_revenue(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )
    assert px.has_broadcast_join(df)
    assert any("l_shipdate" in f for f in px.pushed_filters(df)), px.pushed_filters(df)


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """r14: assignment is a SINGLE map stage — the frozen (k x dim)
    codebook rides the plan as literals (bounded by
    CODEBOOK_LITERAL_CAP; bigger codebooks broadcast), so the corpus is
    never shuffled, never joined and never window-sorted to find its
    nearest centroid. The pre-r14 gate asserted a codebook broadcast
    join; the new shape is strictly tighter: no join of any kind."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    df = kmeans.kmeans_clusters(load_table(spark, "embeddings", sf_dir), iters=1)
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert px.count_shuffles(df) == 0


def test_sampling_is_shuffle_free(spark, sf_dir):
    """Hash sampling and split labeling are pure map plans."""
    from flink_kafka_filter_transform_spark.operators import sampling

    docs = load_table(spark, "documents", sf_dir)
    assert px.count_shuffles(sampling.hash_sample(docs, "doc_id", 0.1)) == 0
    assert px.count_shuffles(sampling.train_val_test(docs, "doc_id")) == 0


def test_materialize_latest_partial_aggregates(spark, sf_dir):
    """Changelog compaction: one shuffle grouped by entity key with
    map-side partial max_by (each mapper pre-compacts), never a window
    over the full changelog."""
    df = cdc.materialize_latest(cdc.parse_envelope(cdc_events_df(spark, sf_dir)))
    plan = px.explain_str(df, "simple")
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert px.count_shuffles(df) == 1


def test_text_quality_ops_are_shuffle_free(spark, sf_dir):
    """Repetition ratios and PII redaction are pure map plans."""
    from flink_kafka_filter_transform_spark.operators import text

    docs = load_table(spark, "documents", sf_dir)
    assert px.count_shuffles(text.repetition_ratios(docs)) == 0
    assert px.count_shuffles(text.pii_redact(docs)) == 0
    assert px.codegen_stage_count(text.pii_redact(docs)) >= 1


def test_contamination_check_broadcasts_eval_grams(spark, sf_dir):
    """The eval-set n-gram relation must broadcast (benchmarks are tiny
    next to a corpus); the training side aggregates per doc with ONE
    shuffle of fixed-width count rows."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.contamination_check(load_table(spark, "documents", sf_dir))
    assert px.has_broadcast_join(df)
    assert px.sortmerge_join_count(df) == 0
    assert px.count_shuffles(df) <= 2  # eval-gram distinct + per-doc agg


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """The engine enables Spark's runtime bloom-filter join pruning:
    when a shuffle join has a selective build side, the optimizer must
    inject bloom_filter_agg (build) + might_contain (probe) so the
    probe side is pre-filtered BEFORE its shuffle — semi-join reduction
    without shipping the dimension. Size thresholds are relaxed here
    because test inputs are tiny; at scale the defaults gate it."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k) for k in confs}
    # InjectRuntimeFilter pattern-matches a scan-shaped application
    # side; the toy-scale ingest rebalance would sit between scan and
    # join and block it. At real scale the rebalance never fires (size
    # guard) and the scan is bare — assert THAT shape.
    os.environ["SPARK_GRAFT_REBALANCE"] = "0"
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, "orders", sf_dir)
        cust = load_table(spark, "customer", sf_dir).filter(F.col("c_acctbal") > 9000)
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        plan = px.explain_str(j, "simple")
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert j.count() > 0
    finally:
        os.environ.pop("SPARK_GRAFT_REBALANCE", None)
        for k, v in old.items():
            spark.conf.set(k, v)


def test_bucketed_join_no_exchange_under_the_join(spark, sf_dir):
    """Storage bucketing deletes the fact-to-fact join shuffle: with
    broadcast disabled (the at-scale reality — neither fact side is
    broadcastable at 100 TB), the orders/lineitem join over the
    bucketed twins must compile to a SortMergeJoin whose BOTH inputs
    read bucketed scans with NO Exchange between scan and join — and
    the bucket clustering keeps paying downstream: the countDistinct
    partial on (priority, orderkey) is satisfied by the orderkey
    bucketing too, so the WHOLE query runs on ONE shuffle (the final
    5-row priority rollup). The unbucketed plan under the same confs
    pays two more (one per join input) — the delta bucketing pays for
    at write time."""
    from flink_kafka_filter_transform_spark.operators import relational

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = relational.bucketed_join_revenue(spark, sf_dir)
        plan = px.explain_str(df, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "SelectedBucketsCount" in plan  # bucketed scans in play
        assert px.count_shuffles(df) == 1  # final priority rollup only

        # contrast: the same join off the plain parquet pays 2 more
        o = load_table(spark, "orders", sf_dir)
        li = load_table(spark, "lineitem", sf_dir)
        plain = (
            o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.countDistinct("o_orderkey").alias("n_orders"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )
        assert px.count_shuffles(plain) == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_layout_twins_survive_face_cleanup_and_self_heal(spark, sf_dir):
    """The session-lived layout twins must NOT be registered in the
    face-scratch cleanup list (bench reclaims face scratch after EVERY
    query — registering the twins there deletes their files out from
    under the session catalog, the FAILED_READ_FILE found by the r9
    bench run), and if an external cleaner deletes the files anyway,
    the memo must self-heal by rematerializing."""
    import shutil

    from flink_kafka_filter_transform_spark.operators import relational
    from flink_kafka_filter_transform_spark.streaming import pipeline as sp

    # materialize, then reclaim all face scratch — twins must survive
    relational.bucketed_join_revenue(spark, sf_dir).collect()
    sp.cleanup_face_scratch(spark)
    assert relational.bucketed_join_revenue(spark, sf_dir).count() == 5

    # delete the twin files behind the catalog's back — must self-heal
    t_orders, _ = relational._bucketed_twin_tables(spark, sf_dir)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {t_orders}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    )
    shutil.rmtree(loc.replace("file:", ""), ignore_errors=True)
    assert relational.bucketed_join_revenue(spark, sf_dir).count() == 5


def test_cleanup_layout_scratch_drops_twin_under_configured_root(spark, tmp_path):
    """A layout twin materialized under a configured scratch root (a
    URI, as a cluster deployment sets it) is reclaimed by
    cleanup_layout_scratch: its table is dropped and its dir deleted
    through the Hadoop FileSystem API."""
    from flink_kafka_filter_transform_spark.streaming import pipeline as sp

    root = f"file://{tmp_path}/layout_root"
    table = "sgraft_test_layout_twin"

    def write(path: str) -> None:
        spark.range(3).write.option("path", path).mode("overwrite").format(
            "parquet"
        ).saveAsTable(table)

    spark.conf.set(sp.FACE_SCRATCH_ROOT_CONF, root)
    try:
        relational._ensure_layout_table(spark, table, "sgraft_test_layout_", write)
    finally:
        spark.conf.unset(sp.FACE_SCRATCH_ROOT_CONF)
    (scratch,) = [d for t, d in relational._LAYOUT_SCRATCH if t == table]
    local = scratch[len("file://") :]
    assert scratch.startswith(root) and os.path.isdir(local)
    assert spark.table(table).count() == 3
    assert scratch in relational.cleanup_layout_scratch(spark)
    assert not spark.catalog.tableExists(table)
    assert not os.path.exists(local)
    assert relational._LAYOUT_SCRATCH == []


def test_partitioned_scan_prunes_to_one_day(spark, sf_dir):
    """The day predicate must resolve at PLANNING time against the
    partition directories: the scan carries a day PartitionFilter and
    reads exactly 1 of the ~30 day partitions; the other 29 are never
    opened. One shuffle total (the per-type rollup)."""
    from flink_kafka_filter_transform_spark.operators import relational

    df = relational.partitioned_daily_revenue(spark, sf_dir)
    plan = px.explain_str(df, "simple")
    scan = plan[plan.index("FileScan") :].split("\n")[0]
    assert "PartitionFilters" in scan
    assert relational.PARTITION_PRUNE_DAY in scan  # pushed to directories
    assert px.count_shuffles(df) == 1
    assert df.count() > 0


def test_audio_frame_features_is_shuffle_free(spark, sf_dir):
    """Frame-level PCM features are map-only by construction: decode,
    framing, energy and zero-crossing folds all happen inside ONE
    Arrow-batched mapInPandas stage — frame rows must never travel. A
    shuffle appearing here by regression (e.g. a groupBy sneaking into
    the frame fold) would ship O(samples/frame_len) rows; catch it by
    name like the other multimodal decode plans (VERDICT r8 item 4)."""
    from flink_kafka_filter_transform_spark.operators import multimodal

    df = multimodal.audio_frame_features(load_table(spark, "documents", sf_dir))
    assert px.count_shuffles(df) == 0
    plan = px.explain_str(df, "simple")
    assert "MapInPandas" in plan  # the Arrow boundary, not per-row Python


def _assert_single_decode_bucket_pair_plan(df):
    """Shared contract of the hamming_chunk_pairs callers after the r9
    one-pass rework: nothing pinned broadcast; NO join operator at all
    (pairs expand map-side from capped collect_list buckets — a
    self-join would re-evaluate the Arrow decode stage on both sides);
    the bucket agg survives; and the decode pipeline appears EXACTLY
    once (2 MapInPandas stages: synth + hash), the corpus-decoded-once
    property the substring study made a repo rule."""
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "collect_list" in plan  # the capped bucket agg survived
    assert plan.count("MapInPandas") == 2  # decoded exactly once


def test_image_phash_pairs_single_decode_bucket_pairs(spark, sf_dir):
    from flink_kafka_filter_transform_spark.operators import multimodal

    _assert_single_decode_bucket_pair_plan(
        multimodal.image_phash_pairs(load_table(spark, "documents", sf_dir))
    )


def test_audio_fingerprint_pairs_single_decode_bucket_pairs(spark, sf_dir):
    from flink_kafka_filter_transform_spark.operators import multimodal

    _assert_single_decode_bucket_pair_plan(
        multimodal.audio_fingerprint_pairs(load_table(spark, "documents", sf_dir))
    )


def test_video_frame_match_pairs_single_decode_bucket_pairs(spark, sf_dir):
    from flink_kafka_filter_transform_spark.operators import multimodal

    _assert_single_decode_bucket_pair_plan(
        multimodal.video_frame_match_pairs(load_table(spark, "documents", sf_dir))
    )


def test_simhash_pairs_no_join_no_cartesian(spark, sf_dir):
    """simhash_pairs shares hamming_chunk_pairs: same no-join map-side
    pair expansion (its upstream is the shingle pipeline, not a decode
    stage, so the MapInPandas count does not apply)."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.simhash_pairs(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "collect_list" in plan


def test_array_showcase_is_single_codegen_map(spark, sf_dir):
    df = relational.array_function_showcase(load_table(spark, "documents", sf_dir))
    assert px.count_shuffles(df) == 0
    assert px.codegen_stage_count(df) >= 1



def test_q15_max_is_broadcast_not_window(spark, sf_dir):
    """Q15's scalar-subquery max must be a 1-row broadcast joined back
    onto the supplier-revenue view — NOT a window max over the view
    (which would add a full sort) and NOT a sort of the view."""
    df = relational.q15_top_supplier(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "supplier", sf_dir)
    )
    plan = px.explain_str(df, "simple")
    assert "Window" not in plan
    assert px.broadcast_join_count(df) == 2  # 1-row max + supplier dim
    assert px.sortmerge_join_count(df) == 0


def test_q19_part_disjunction_prunes_before_join(spark, sf_dir):
    """The OR'd (brand, size) branches must shrink part BEFORE the
    join (broadcast), leaving only the quantity residual per joined
    row: the fact table is never shuffled — its only exchange is the
    final 1-row aggregate's."""
    df = relational.q19_discounted_revenue(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )
    assert px.broadcast_join_count(df) == 1
    assert px.sortmerge_join_count(df) == 0
    assert px.count_shuffles(df) <= 1  # the single-partition final agg
    # the part-side filter must reach the part scan as a pushed filter
    plan = px.explain_str(df, "formatted")
    assert "PushedFilters" in plan


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_dir):
    """The NOT IN supplier exclusion must compile to a broadcast ANTI
    join (tiny build side), never a shuffled NOT-IN; part attributes
    broadcast onto the fact scan."""
    df = relational.q16_supplier_part_variety(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "part", sf_dir),
        load_table(spark, "supplier", sf_dir),
    )
    plan = px.explain_str(df, "simple")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert px.sortmerge_join_count(df) == 0


def test_q21_decorrelation_never_self_joins_raw_fact(spark, sf_dir):
    """Q21's EXISTS / NOT-EXISTS pair must be ONE per-order aggregate
    joined back — not two correlated self-joins of the raw fact table
    (the plan has no nested-loop join and no window)."""
    df = relational.q21_waiting_orders(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )
    plan = px.explain_str(df, "simple")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_q8_single_fact_fact_shuffle(spark, sf_dir):
    """Q8's 7-table join: every dimension (type-filtered part, region-
    restricted nation set, supplier, supplier-nation) broadcasts; the
    only data-sized joins are lineitem x orders x customer, and the
    share is a conditional sum in ONE year-grouped aggregate (no
    second pass, no window)."""
    df = relational.q8_market_share(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "region", sf_dir),
        load_table(spark, "part", sf_dir),
    )
    plan = px.explain_str(df, "simple")
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 8  # nation scans twice (cust + supp roles)
    assert px.broadcast_join_count(df) >= 4
    assert px.sortmerge_join_count(df) == 0


def test_segment_dedup_broadcasts_nothing(spark, sf_dir):
    """Segment hashes and their distinct-doc counts are both corpus-
    sized at 100 TB — no pinned broadcast anywhere; text never joins,
    only 8-byte hashes."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.segment_dedup_stats(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "Window" not in plan


def test_trigram_gini_is_map_only(spark, sf_dir):
    """Per-doc diversity stats are a pure projection: zero shuffles,
    no vocabulary state, one codegen stage over the scan."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.trigram_gini_diversity(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.count_shuffles(df) == 0


def test_label_outliers_broadcasts_stats_both_passes(spark, sf_dir):
    """Label cardinality is tiny vs corpus: the centroid relation and
    the per-label stats must BROADCAST back onto the vector scan —
    never a corpus-side shuffle join."""
    from flink_kafka_filter_transform_spark.operators import vectorprep

    df = vectorprep.embedding_label_outliers(load_table(spark, "embeddings", sf_dir))
    # 3 = centroid join on BOTH corpus passes (stats pass + flag pass;
    # the distance relation is recomputed, not cached) + the stats join
    assert px.broadcast_join_count(df) == 3
    assert px.sortmerge_join_count(df) == 0


def test_knn_pq_adc_broadcasts_codebook_and_lut(spark, sf_dir):
    """ADC search scans the ENCODED corpus only: the per-query lookup
    tables and every codebook/centroid relation broadcast; the raw
    vectors never join the search side, and there is no nested-loop
    join over the corpus."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    df = kmeans.knn_pq_adc(load_table(spark, "embeddings", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert px.sortmerge_join_count(df) == 0
    assert px.broadcast_join_count(df) >= 1


def test_q2_catalog_built_once_and_dims_broadcast(spark, sf_dir):
    """Q2's correlated-min: the observed-supply catalog is built with
    ONE fact shuffle; the part filter and the regional supplier set
    broadcast onto it, and the per-part min joins back by broadcast —
    the catalog is never re-shuffled and never windowed."""
    df = relational.q2_min_cost_supplier(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "part", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "region", sf_dir),
    )
    plan = px.explain_str(df, "simple")
    assert "Window" not in plan
    assert px.sortmerge_join_count(df) == 0
    assert px.broadcast_join_count(df) >= 4  # part, rs(nation+region), min-back
    # fact shuffles: the (partkey,suppkey) catalog agg + the tiny
    # per-part min agg + the final TakeOrdered exchange
    assert px.count_shuffles(df) <= 3


def test_q11_total_is_broadcast_not_window(spark, sf_dir):
    """Q11's HAVING-vs-grand-total must be a 1-row broadcast joined
    back onto the per-part values — never a window over all parts; the
    nation's supplier set broadcasts onto the fact scan, so the only
    fact shuffle is the part-keyed aggregate."""
    df = relational.q11_important_parts(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )
    plan = px.explain_str(df, "simple")
    assert "Window" not in plan
    assert px.sortmerge_join_count(df) == 0
    assert px.broadcast_join_count(df) >= 3  # nation, supplier set, 1-row total


def test_semdedup_centroids_broadcast_pairs_cluster_blocked(spark, sf_dir):
    """SemDeDup: every centroid-sized relation (codebook per Lloyd
    step, cent_sim join) is a pinned broadcast; the pair join is
    cluster-blocked (plain equi-join on cid — shuffles, correctly: both
    sides are corpus-sized at 100 TB); nothing degenerates to a
    cartesian product."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.semdedup_prune(load_table(spark, "embeddings", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    # r14: the codebook is frozen to plan literals, so NO pinned
    # broadcast remains anywhere (the pre-r14 gate counted >= 3 codebook
    # broadcast hints); assignment + cent_sim run in one map stage
    # (no window), and the only wide joins are the cluster-blocked pair
    # join and the prune rollup
    assert px.broadcast_hint_count(df) == 0
    assert "Window" not in plan
    assert px.count_shuffles(df) <= 4


def test_semdedup_text_prune_plan(spark, sf_dir):
    """The text variant inherits semdedup_prune's gated shape through
    the checkpointed dense relation: the embedding chain is evaluated
    ONCE (the visible plan reads checkpointed rows, no documents scan
    downstream of the densify), centroid relations broadcast, and the
    pair join stays cluster-blocked — no cartesian."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.semdedup_text_prune(load_table(spark, "documents", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    # the localCheckpoint swallowed the tokenize/hash/densify lineage:
    # every downstream consumer reads the checkpointed RDD, so the raw
    # corpus is not re-scanned per consumer. Both directions asserted
    # (r11 ADVICE): zero parquet scans AND the checkpointed-RDD scan
    # node present — if a Spark bump renames either node, the gate
    # fails closed instead of silently passing with scans relabeled.
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    # r14: codebooks are plan literals — zero pinned broadcasts
    assert px.broadcast_hint_count(df) == 0


def test_temperature_mixture_single_corpus_scan(spark, sf_dir):
    """The corpus is scanned once and never shuffled for the report:
    one source-keyed aggregate, then the 1-row (total, max) broadcast
    back onto source-cardinality rows."""
    from flink_kafka_filter_transform_spark.operators import sampling

    df = sampling.temperature_mixture_report(load_table(spark, "documents", sf_dir))
    plan = px.explain_str(df, "simple")
    # the corpus scan happens once, at the pinned per-source aggregate;
    # the visible plan reads only checkpointed source-cardinality rows
    # (positive node assertion per the r11 ADVICE fail-closed rule)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert px.broadcast_hint_count(df) == 1  # the 1-row totals only
    assert "Window" not in plan


def test_pagerank_loop_reads_cached_graph_only(spark, sf_dir):
    """The edge list and vertex set are persisted (cache keeps the
    src-hash partitioning visible, unlike a checkpoint's ExistingRDD),
    so the iteration plan reads in-memory relations and never re-scans
    parquet; short fixed loops carry no per-round checkpoint barrier."""
    from flink_kafka_filter_transform_spark.operators import graph

    # release_caches=False keeps the loop plan visible (the default
    # eagerly checkpoints the result and unpersists the graph so a
    # long session cannot accumulate storage blocks)
    df = graph.supply_chain_pagerank(
        load_table(spark, "lineitem", sf_dir), iters=2, release_caches=False
    )
    plan = px.explain_str(df, "simple")
    # cached graph relations feed every round ("Scan parquet" strings
    # inside the printed InMemoryRelation DEFINITIONS don't count —
    # they describe how the cache was built, not per-round work)
    assert plan.count("InMemoryTableScan") >= 2
    # per round: one rank exchange for the src join + the insum agg;
    # the cached edge partitioning is never re-exchanged
    assert px.count_shuffles(df) <= 2 * 2
    assert "CartesianProduct" not in plan


def test_dsir_buckets_broadcast_corpus_never_rebucketed(spark, sf_dir):
    """DSIR scoring: exactly two pinned broadcasts (the 1-row totals
    into the 64-row bucket table, the bucket table onto the doc-bucket
    counts); the doc-keyed score join is a plain equi-join (corpus-
    sized at 100 TB — AQE decides); no windows anywhere."""
    from flink_kafka_filter_transform_spark.operators import sampling

    df = sampling.dsir_proxy_weights(load_table(spark, "documents", sf_dir))
    plan = px.explain_str(df, "simple")
    assert px.broadcast_hint_count(df) == 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_adds_zero_shuffles_over_training(spark, sf_dir):
    """ENCODE = the trained merge table applied map-only. Since the
    r12 lineage fix the merge loop eagerly checkpoints the corpus per
    step, so the operator's VISIBLE plan is the final per-doc select
    only: a pure map over the last checkpointed rewrite — ZERO
    shuffles, zero joins, no parquet re-scan (both node directions
    asserted, the fail-closed rule). The training aggregates run
    inside the loop exactly as bpe_merges' do; their shape is pinned
    by bpe_merges' own differential gate and the encode/train
    equivalence property test."""
    from flink_kafka_filter_transform_spark.operators import text

    docs = load_table(spark, "documents", sf_dir, rebalance=False)
    enc = text.bpe_encode_report(docs)
    plan = px.explain_str(enc, "simple")
    assert px.count_shuffles(enc) == 0
    assert px.sortmerge_join_count(enc) == 0
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan


def test_bloom_probe_is_broadcast_only(spark, sf_dir):
    """The Bloom filter is a fixed <=64-row relation: both probe-
    position joins AND the exact comparison set must broadcast — the
    corpus-side gram stream never shuffles until the per-doc counter
    aggregation. Shuffle budget: eval-gram distinct x2 (the sketch and
    the exact set are independent small-side subtrees), the register
    bit_or, and the final doc-keyed agg."""
    from flink_kafka_filter_transform_spark.operators import sketch

    df = sketch.bloom_contamination(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.broadcast_join_count(df) == 3
    assert px.sortmerge_join_count(df) == 0
    assert px.count_shuffles(df) <= 6


def test_quality_classifier_is_zero_shuffle(spark, sf_dir):
    """The hashed linear classifier folds weights in-row: a pure map
    over the corpus — no vocabulary state, no explode, no exchange."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.quality_classifier_score(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.count_shuffles(df) == 0


def test_bigram_lift_never_pins_vocabulary_broadcast(spark, sf_dir):
    """Lift joins the pair-count relation to the unigram VOCABULARY
    twice — corpus-vocabulary-sized at 100 TB, so no explicit broadcast
    is allowed there (AQE may still elect one at small SF from real
    sizes; that is runtime's call, not a pinned hint). The only pinned
    broadcast is the 1-row (T, N) totals relation."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.bigram_lift_top(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.broadcast_hint_count(df) == 1
    assert "Window" not in px.explain_str(df, "simple")


def test_survivors_quality_adds_no_pinned_broadcast(spark, sf_dir):
    """Quality-aware survivor selection composes the CC clusters with
    the zero-shuffle classifier: the composition must not pin any NEW
    broadcast (the doc_id join is corpus-sized on both sides) and the
    winner is one integer struct-max aggregation — no window."""
    from flink_kafka_filter_transform_spark.operators import graph

    docs = load_table(spark, "documents", sf_dir, rebalance=False)
    dq = graph.dedup_survivors_quality(docs)
    base = graph.neardup_clusters(docs)
    assert px.broadcast_hint_count(dq) == px.broadcast_hint_count(base)
    assert "Window" not in px.explain_str(dq, "simple")


def test_adaptive_length_filter_never_sorts_corpus(spark, sf_dir):
    """Exact per-source length quantiles must come from the value-count
    grid: the only Sort/Window in the plan runs over grid rows (post-
    aggregation), never over corpus rows — i.e. every Sort sits above
    an aggregation, and the cutoff relation joins back via broadcast."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.adaptive_length_filter(load_table(spark, "documents", sf_dir, rebalance=False))
    plan = px.explain_str(df, "simple")
    # the corpus side must reach its aggregations without a sort: the
    # single window (grid cumsum) implies exactly one Sort in the plan
    assert plan.count("Sort ") <= 1
    assert px.broadcast_join_count(df) >= 2  # totals + cutoffs ride broadcast
    assert px.sortmerge_join_count(df) == 0


def test_event_path_single_user_partitioning(spark, sf_dir):
    """Both session windows and the per-session collect must ride ONE
    user_id hash partitioning — sessionization plus path extraction
    may not re-shuffle the event stream per step. Budget: the user
    exchange, the per-session group (same key prefix, AQE-reusable),
    and the tiny path-count aggregation."""
    from flink_kafka_filter_transform_spark.operators import relational

    df = relational.event_path_report(load_table(spark, "events", sf_dir))
    assert px.count_shuffles(df) <= 3
    assert px.sortmerge_join_count(df) == 0


def test_triangle_census_broadcasts_only_counters(spark, sf_dir):
    """The edge relation is corpus-pair-sized: wedge and closure joins
    must be shuffle joins on the edge keys; the only broadcasts are
    the three 1-row counter relations."""
    from flink_kafka_filter_transform_spark.operators import graph

    df = graph.neardup_triangles(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.broadcast_hint_count(df) == 2  # the two pinned 1-row counters


def test_source_quality_matrix_single_pass(spark, sf_dir):
    """Every quality flag plus the classifier fold must ride ONE map
    pass into a single source-keyed aggregation — no joins, no second
    corpus scan, exactly one shuffle."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.source_quality_matrix(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.count_shuffles(df) == 1
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_knn_ivf_pq_candidates_before_adc(spark, sf_dir):
    """IVF-PQ must restrict candidates BEFORE scoring: coarse codebook,
    probe set, sub-codebooks, and LUTs all ride broadcasts; the ONLY
    permissible sort-merge join is candidates x encoded-corpus on
    vec_id — both sides corpus-sized, so broadcasting either would be
    the scale bug."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    df = kmeans.knn_ivf_pq(load_table(spark, "embeddings", sf_dir))
    assert px.sortmerge_join_count(df) <= 1
    # r14: codebooks are plan literals (no broadcast needed); the probe
    # set and the LUT still ride pinned broadcasts
    assert px.broadcast_hint_count(df) >= 2
    assert px.count_shuffles(df) <= 4


def test_knn_ivf_pq_residual_candidates_before_adc(spark, sf_dir):
    """Residual IVF-PQ keeps knn_ivf_pq's shape: coarse codebook,
    probe set, per-probed-cell residual LUTs, and sub-codebooks all
    ride broadcasts; the candidates x encoded-corpus join stays a
    shuffle join (both sides corpus-sized — broadcasting either would
    be the scale bug); the residual subtraction itself is map-side
    (the coarse codebook join)."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    df = kmeans.knn_ivf_pq_residual(load_table(spark, "embeddings", sf_dir))
    assert px.sortmerge_join_count(df) <= 1
    # r14: coarse + sub-codebooks are plan literals; probe set + LUT
    # broadcasts remain
    assert px.broadcast_hint_count(df) >= 2
    assert px.count_shuffles(df) <= 8


def test_no_unreduced_big_table_broadcast_hints(spark, sf_dir):
    """100 TB hazard gate (VERDICT r5 item 3): no registered relational
    query may pin an SF-proportional table (supplier/customer/part/
    orders/lineitem) with an explicit broadcast hint unless a
    row-reducing node (Filter/Aggregate/...) sits between the hint and
    the scan. nation/region (fixed 25/5 rows) and size-based AQE
    broadcasts are exempt — those either can't grow or re-decide per
    run. Covers the whole lazy relational/asof/rangejoin surface, which
    is where the r5 offenders (q8/q15/q20/q21 pinning full supplier)
    lived."""
    import __spark_entry__ as entry

    lazy_relational = [
        n
        for n in entry.queries()
        if n.startswith(("q", "events_", "orders_", "users_", "customers_",
                         "daily_", "revenue_", "cdc_"))
        or n in {
            "salted_event_counts", "value_outliers_by_type",
            "top_customers_per_segment", "window_function_showcase",
            "scalar_function_showcase", "order_priority_stats",
            "weighted_avg_by_type", "purchases_with_recent_clicks",
            "user_value_moving_avg", "event_path_report", "orders_top10",
            "event_value_percentiles",
        }
    ]
    assert len(lazy_relational) >= 40  # the net must actually cover the family
    qs = entry.queries()
    bad = {}
    for name in lazy_relational:
        offenders = px.unreduced_big_table_broadcast_hints(qs[name](spark, sf_dir))
        if offenders:
            bad[name] = offenders
    assert not bad, f"pinned full-table broadcasts: {bad}"


def test_bm25_broadcasts_query_terms_below_tf_agg(spark, sf_dir):
    """bm25_top_docs pins exactly two broadcasts — the bounded
    query-term relation and the 1-row corpus stats — and the query-term
    semi-join sits BELOW the tf aggregation (the only (doc, term)
    shuffle carries query-term postings, never the full vocabulary:
    that full-vocab tf would be the dominant 100 TB shuffle)."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.bm25_top_docs(load_table(spark, "documents", sf_dir))
    # qterms is hinted at both consumption sites (term set for the
    # semi-join, (q_doc, term) for scoring) + the 1-row stats; every
    # pinned relation is bounded by the query-workload contract
    assert px.broadcast_hint_count(df) >= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the tf HashAggregate's subtree must contain the qterms broadcast
    # join: find the first aggregate keyed (doc_id, term) and assert a
    # BroadcastHashJoin appears below it (toString order = top-down)
    tf_aggs = [i for i, line in enumerate(plan.splitlines())
               if "HashAggregate" in line and "doc_id" in line and "term" in line]
    bj = [i for i, line in enumerate(plan.splitlines())
          if "BroadcastHashJoin" in line]
    assert tf_aggs and bj and min(bj) > min(tf_aggs)


def test_unigram_surprisal_scoring_join_is_shuffle_hash(spark, sf_dir):
    """The scoring join (token stream x vocabulary bits) must be a
    SHUFFLE_HASH join: neither side is broadcastable at 100 TB, and the
    static planner would otherwise pick the corpus-sized token stream
    itself as a broadcast build at test SF (the exact OOM the pinned
    hint forestalls). Only the 1-row total rides a broadcast hint."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.unigram_surprisal(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 1  # the 1-row total only
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan


def test_bm25_output_invariants(spark, sf_dir):
    """Structural invariants of the retrieval output: contiguous ranks
    from 1, scores non-increasing down each ranking, a query never
    retrieves itself, and only contract query docs appear."""
    from flink_kafka_filter_transform_spark.operators import text

    rows = text.bm25_top_docs(load_table(spark, "documents", sf_dir)).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.q_doc % 200 == 0 and r.q_doc != r.doc_id
        assert r.n_matched_terms >= 1 and r.bm25 > 0.0
        by_q.setdefault(r.q_doc, []).append((r.rank, r.bm25, r.doc_id))
    for q, lst in by_q.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        for (_, s1, d1), (_, s2, d2) in zip(lst, lst[1:]):
            assert s1 > s2 or (s1 == s2 and d1 < d2)  # the window tie-break


def test_unigram_surprisal_output_invariants(spark, sf_dir):
    """Bit-surprisal bounds and consistency: n_tokens matches the
    shared tokenizer's count per doc, 0 <= mean <= 60 (T // c >= 1 and
    fits the 60-bit hash-free integer range), and the mean is exactly
    sum_bits / n_tokens."""
    from flink_kafka_filter_transform_spark.operators import text

    docs = load_table(spark, "documents", sf_dir)
    sur = {r.doc_id: r for r in text.unigram_surprisal(docs).collect()}
    ws = {r.doc_id: r.n_ws_tokens for r in text.token_counts(docs).collect()}
    assert sur
    for doc_id, r in sur.items():
        assert r.n_tokens == ws[doc_id] > 0
        assert 0 <= r.mean_surprisal_bits <= 60
        assert abs(r.mean_surprisal_bits - r.sum_bits / r.n_tokens) < 1e-12


def test_bigram_surprisal_only_total_broadcasts(spark, sf_dir):
    """The vocabulary, pair-count, and context relations are all
    unbounded at 100 TB — the only broadcasts allowed are the TWO
    1-row grand-total relations (IdentityBroadcastMode cross joins;
    term_bits is derived once per consumer). Every scoring join must
    be the pinned shuffle-hash (the tfidf rule: at test SF the static
    planner would otherwise broadcast the token stream itself)."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.bigram_surprisal(load_table(spark, "documents", sf_dir))
    plan = px.explain_str(df, "simple")
    assert plan.count("BroadcastExchange") == 2
    assert plan.count("IdentityBroadcastMode") == 2  # both are 1-row totals
    assert plan.count("ShuffledHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_bigram_surprisal_output_invariants(spark, sf_dir):
    """n_tokens matches the shared tokenizer's count per doc, backoff
    positions are a subset of scored positions, bounds hold (a backoff
    adds at most 2 bits over the 60-bit unigram ceiling), and the mean
    is exactly sum_bits / n_tokens."""
    from flink_kafka_filter_transform_spark.operators import text

    docs = load_table(spark, "documents", sf_dir)
    sur = {r.doc_id: r for r in text.bigram_surprisal(docs).collect()}
    ws = {r.doc_id: r.n_ws_tokens for r in text.token_counts(docs).collect()}
    assert sur
    for doc_id, r in sur.items():
        assert r.n_tokens == ws[doc_id] > 0
        assert 0 <= r.n_backoff <= max(r.n_tokens - 1, 0)
        assert 0 <= r.mean_surprisal_bits <= 62
        assert abs(r.mean_surprisal_bits - r.sum_bits / r.n_tokens) < 1e-12


def test_substring_dedup_broadcasts_nothing(spark, sf_dir):
    """Window hashes and their distinct-doc counts are both corpus-
    sized at 100 TB — no pinned broadcast; text never shuffles, only
    8-byte hashes and positions."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.substring_dedup_stats(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0


def test_substring_dedup_stats_strategy_plans(spark, sf_dir):
    """Hot-key study outcome (VERDICT r8 item 3 + the A/B in
    BENCH_substring_boiler.json): the DEFAULT plan is the measured
    winner — the gh-window shared mark, ONE pass over the stride-1
    position rows (exactly one posexplode Generate in the plan; the
    rejected rework re-evaluated it twice). The skew_safe=True
    strategy is the structural escape hatch for universal-boilerplate
    corpora: the shared flag becomes a groupBy(gh) min/max aggregate
    (partial_min/partial_max run map-side so a hot key reaches the
    reducer pre-combined) rejoined on gh where AQE can split a
    degenerate key — and NO gh window survives in that plan."""
    from flink_kafka_filter_transform_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir)
    # default: one-pass window plan — a gh window AND a doc_id window,
    # and the corpus posexplode appears exactly once
    plan = px.explain_str(dedup.substring_dedup_stats(docs), "simple")
    # min and max share ONE Window node over gh (the spec string
    # appears once per window function); one islands window over doc_id
    assert plan.count("windowspecdefinition(gh") == 2
    assert plan.count("windowspecdefinition(doc_id") == 1
    assert plan.count("posexplode") == 1
    assert "partial_min(doc_id" not in plan
    # skew_safe: map-side-combined aggregate + rejoin, no gh window
    plan = px.explain_str(
        dedup.substring_dedup_stats(docs, skew_safe=True), "simple"
    )
    assert plan.count("windowspecdefinition(gh") == 0
    assert plan.count("windowspecdefinition(doc_id") == 1
    assert "partial_min(doc_id" in plan and "partial_max(doc_id" in plan


def test_substring_dedup_stats_strategies_agree(spark, sf_dir):
    """Both strategies are plans over the same semantics: identical
    rows (the CI oracle parity run covers the default; this pins the
    escape hatch to it)."""
    from flink_kafka_filter_transform_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir)
    a = dedup.substring_dedup_stats(docs).orderBy("doc_id").collect()
    b = (
        dedup.substring_dedup_stats(docs, skew_safe=True)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b and len(a) > 0


def test_winnowing_overlap_broadcasts_nothing(spark, sf_dir):
    """Fingerprints and their distinct-doc counts are corpus-sized at
    100 TB — no pinned broadcast; only 8-byte hashes shuffle (the
    text stays in the map stage)."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.winnowing_overlap(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_prunes_before_gram_arrays_join(spark, sf_dir):
    """The r8 length-bound prune must sit BELOW the gram-array joins:
    in the optimized plan the min/max ratio filter appears, and no
    pinned broadcast exists anywhere (candidates and grams are both
    corpus-sized at scale)."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.ngram_jaccard_pairs(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "least(" in plan and "greatest(" in plan  # the prune survived


def test_containment_pairs_no_broadcast_no_cartesian_prefix_filter_present(spark, sf_dir):
    """The posting index, df relation, and prefix probes are all
    corpus-sized at 100 TB — nothing may be pinned broadcast, and the
    candidate step must be an equi-join on the shingle key (never a
    cartesian). The integer size-bound prune (n_b*DEN >= n_a*NUM) must
    survive into the optimized plan below the gram-array joins."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.containment_pairs(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "row_number" in plan  # the prefix selection window survived
    # the integer size-bound prune survives into the optimized plan as
    # a join-level predicate (r8 ADVICE: the docstring promised it but
    # the test never looked)
    import re

    assert re.search(r"\(n_b#\d+L? \* 5\) >= \(n_a#\d+L? \* 4\)", plan)
    # the prefix length stays in BIGINT: the `div` operator, not a
    # float floor-division (r8 ADVICE item 1)
    assert re.search(r"div 5", plan)


def test_split_leakage_adds_no_pinned_broadcast_over_clusters(spark, sf_dir):
    """The leakage report composes CC clusters with the map-only split
    assignment and three doc-keyed joins — all corpus-sized at 100 TB,
    so the composition must pin no NEW broadcast beyond what the
    cluster computation itself pins, and the report aggregations must
    not introduce a window."""
    from flink_kafka_filter_transform_spark.operators import graph, sampling

    docs = load_table(spark, "documents", sf_dir, rebalance=False)
    rep = sampling.split_leakage_report(docs)
    base = graph.neardup_clusters(docs)
    # r15: the report materializes the pair list and the per-doc split
    # verdict (both bounded-width), so the cluster computation — and
    # with it the CC remap's own bounded broadcast — sits BEHIND a
    # checkpoint and out of the declared plan; the report may only
    # ever pin fewer broadcasts than the raw cluster computation.
    assert px.broadcast_hint_count(rep) <= px.broadcast_hint_count(base)
    # the only windows in the plan are the LSH band-bucket caps the
    # pair relation always carries (neardup_clusters hides them behind
    # its checkpoint) — the report itself adds none
    plan = px.explain_str(rep, "simple")
    assert plan.count("windowspecdefinition(") == plan.count(
        "windowspecdefinition(band_idx"
    )


def test_winnowing_pairs_capped_join_and_take_ordered(spark, sf_dir):
    """The fp self-join must be bucket-capped (no N^2 path), nothing
    may be pinned broadcast (fingerprint relation is corpus-sized at
    100 TB), and the top-N ranking must compile to
    TakeOrderedAndProject — never a global Sort or a single-partition
    window."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.winnowing_pairs(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition(doc_a" not in plan  # no ranking window


def test_audio_silence_segments_is_map_only(spark, sf_dir):
    """VAD segmentation never shuffles: a clip's samples arrive
    together in its blob, so decode + framing + energy + threshold +
    the run-length fold all complete inside the Arrow batch — zero
    exchanges, like video_scene_cuts."""
    from flink_kafka_filter_transform_spark.operators import multimodal

    df = multimodal.audio_silence_segments(load_table(spark, "documents", sf_dir))
    assert px.count_shuffles(df) == 0
    plan = px.explain_str(df, "simple")
    assert "MapInPandas" in plan


def test_video_scene_cuts_is_map_only(spark, sf_dir):
    """Scene segmentation never shuffles: a video's frames arrive
    together in its blob, so demux + decode + dHash + adjacent-frame
    Hamming + the run-length fold all complete inside the Arrow batch
    — zero exchanges, like its multimodal map-only siblings."""
    from flink_kafka_filter_transform_spark.operators import multimodal

    df = multimodal.video_scene_cuts(load_table(spark, "documents", sf_dir))
    assert px.count_shuffles(df) == 0
    plan = px.explain_str(df, "simple")
    assert "MapInPandas" in plan


def test_gopher_quality_rules_single_pass(spark, sf_dir):
    """All five Gopher flags plus the survivor conjunction ride ONE
    map pass into a single global aggregation — no joins, no second
    corpus scan, exactly one shuffle (the 1-row agg exchange)."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.gopher_quality_rules(load_table(spark, "documents", sf_dir, rebalance=False))
    assert px.count_shuffles(df) == 1
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_vocab_growth_curve_explodes_corpus_once(spark, sf_dir):
    """The exploded (token, doc_id) relation is shuffled exactly once
    (the token-keyed min(doc_id) aggregate, map-side combined): the
    plan carries ONE Generate(explode) node, every post-rollup
    relation is <= n_buckets rows, and the only pinned broadcasts are
    the 1-row max-doc_id aggregate feeding both branches."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.vocab_growth_curve(load_table(spark, "documents", sf_dir, rebalance=False))
    plan = px.explain_str(df, "simple")
    assert plan.count("Generate explode") == 1
    # no corpus-sized relation may broadcast: the hints are the 1-row
    # max aggregate (x2) only
    assert not px.unreduced_big_table_broadcast_hints(df)
    # the cumulative window and the bucket join run over <= n_buckets
    # rows; the whole plan stays within a fixed exchange budget
    assert px.count_shuffles(df) <= 8


def test_knn_ivf_pq_rerank_shortlist_rides_broadcasts(spark, sf_dir):
    """The refine stage must NOT rescan or reshuffle the corpus: the
    shortlist (<= queries x shortlist rows by construction) and the
    query vectors join the true-vector scan as broadcasts, so the only
    permissible sort-merge join remains the inner ADC candidates x
    encoded-corpus join inherited from knn_ivf_pq."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    df = kmeans.knn_ivf_pq_rerank(load_table(spark, "embeddings", sf_dir))
    assert px.sortmerge_join_count(df) <= 1
    # knn_ivf_pq's probe/LUT broadcasts + shortlist + queries (the
    # codebooks themselves are r14 plan literals)
    assert px.broadcast_hint_count(df) >= 4


def test_knn_sq8_trains_one_row_and_scans_codes_once(spark, sf_dir):
    """SQ8 discipline: the per-dim training statistics collapse to a
    single broadcast row (mins/maxs/spans2 arrays) and search is one
    pass over the code table with the query codes broadcast — no
    sort-merge join anywhere (knn_brute's shape on 1/8-width rows)."""
    from flink_kafka_filter_transform_spark.operators import similarity

    df = similarity.knn_sq8(load_table(spark, "embeddings", sf_dir))
    assert px.sortmerge_join_count(df) == 0
    assert px.broadcast_hint_count(df) >= 2  # stats row + query codes
    assert not px.unreduced_big_table_broadcast_hints(df)


def test_neardup_kcore_output_matches_peeling_semantics(spark, sf_dir):
    """Every in-core vertex must report core_degree >= k (that IS the
    fixpoint condition), every out-of-core vertex reports 0, and the
    core must be closed: recomputing degrees over the reported core
    members from the raw pair list reproduces core_degree exactly."""
    from flink_kafka_filter_transform_spark.operators import graph
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, "documents", sf_dir, rebalance=False)
    rows = graph.neardup_kcore(docs, k=2).collect()
    core = {r["doc_id"] for r in rows if r["in_kcore"]}
    for r in rows:
        if r["in_kcore"]:
            assert r["core_degree"] >= 2
        else:
            assert r["core_degree"] == 0
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b").collect()
    from collections import Counter

    deg = Counter()
    for p in pairs:
        if p["doc_a"] in core and p["doc_b"] in core:
            deg[p["doc_a"]] += 1
            deg[p["doc_b"]] += 1
    for r in rows:
        assert deg.get(r["doc_id"], 0) == r["core_degree"]


def test_knn_ivf_filtered_predicate_inside_candidate_join(spark, sf_dir):
    """Filtered IVF: the label predicate must run THROUGH the index —
    inside the broadcast probed-cells join, not as a post-filter scan.
    The plan keeps knn_ivf_kmeans's shape (codebook/probe broadcasts,
    corpus scanned once, assignment join the only wide join) and adds
    NO extra exchange or scan for the filter."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    emb = load_table(spark, "embeddings", sf_dir)
    plain = kmeans.knn_ivf_kmeans(emb)
    filt = kmeans.knn_ivf_filtered(emb)
    assert px.count_shuffles(filt) <= px.count_shuffles(plain) + 1
    # r14: the codebook is a plan literal; the probe set still rides a
    # pinned broadcast
    assert px.broadcast_hint_count(filt) >= 1
    assert not px.unreduced_big_table_broadcast_hints(filt)


def test_knn_mrl_truncates_in_scan_and_never_sortmerges(spark, sf_dir):
    """MRL search keeps knn_brute's one-scan shape: the prefix slice
    happens in the scan projection (no second pass, no stored copy),
    queries ride a broadcast, and no sort-merge join exists."""
    from flink_kafka_filter_transform_spark.operators import similarity

    df = similarity.knn_mrl(load_table(spark, "embeddings", sf_dir))
    assert px.sortmerge_join_count(df) == 0
    assert px.broadcast_hint_count(df) >= 1
    assert not px.unreduced_big_table_broadcast_hints(df)


def test_events_hopping_window_expands_map_side(spark, sf_dir):
    """The hopping-window expansion must be the map-side Expand the
    native F.window generator plans (x overlap-factor rows, no shuffle
    of its own, no join): exactly one aggregate exchange."""
    from flink_kafka_filter_transform_spark.operators import relational

    df = relational.events_hopping_window(load_table(spark, "events", sf_dir, rebalance=False))
    assert px.count_shuffles(df) == 1
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert "Expand" in plan or "explode" in plan


def test_retention_cohorts_join_reuses_user_partitioning(spark, sf_dir):
    """The first-seen relation joins back on the SAME user_id key its
    aggregate just shuffled by — no broadcast hint (the relation is
    user-cardinality, corpus-scale), no extra scan beyond the two
    branches, bounded output."""
    from flink_kafka_filter_transform_spark.operators import relational

    df = relational.events_retention_cohorts(
        load_table(spark, "events", sf_dir, rebalance=False)
    )
    assert px.broadcast_hint_count(df) == 0
    assert not px.unreduced_big_table_broadcast_hints(df)
    plan = px.explain_str(df, "simple")
    assert plan.count("FileScan") <= 2


def test_doc_text_knn_sparse_join_never_cross_joins(spark, sf_dir):
    """The sparse idx equi-join IS the candidate generator: no
    cartesian/nested-loop over the corpus, the 5 query docs' sparse
    rows and norms ride broadcasts, the corpus-side embedding
    aggregate is the only wide shuffle family."""
    from flink_kafka_filter_transform_spark.operators import text

    df = text.doc_text_knn(load_table(spark, "documents", sf_dir, rebalance=False))
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert px.broadcast_hint_count(df) >= 2  # query rows + query norms
    assert not px.unreduced_big_table_broadcast_hints(df)


def test_substring_rewrite_plan_discipline(spark, sf_dir):
    """The rewrite inherits the stats op's measured discipline: the
    corpus posexplode runs ONCE, the shared-mark is a single gh window
    (min only — first-occurrence needs no max), the islands lag/cumsum
    windows run over doc_id partitions of CUT rows only, and nothing
    broadcasts (window hashes and documents are both corpus-sized).
    skew_safe=True swaps the gh window for the map-side-combined
    min aggregate + rejoin and re-evaluates the posexplode on the
    probe side — the structural trade the A/B measured."""
    from flink_kafka_filter_transform_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir)
    df = dedup.substring_dedup_rewrite(docs, skew_safe=False)
    plan = px.explain_str(df, "simple")
    assert plan.count("posexplode") == 1
    assert plan.count("windowspecdefinition(gh") == 1  # min only
    assert px.broadcast_hint_count(df) == 0
    safe = dedup.substring_dedup_rewrite(docs, skew_safe=True)
    plan_safe = px.explain_str(safe, "simple")
    assert plan_safe.count("windowspecdefinition(gh") == 0
    assert "partial_min(doc_id" in plan_safe
    assert px.broadcast_hint_count(safe) == 0


def test_substring_auto_gate_flips_on_hot_gram(spark):
    """The r10 AUTO strategy gate (VERDICT r9 item 5): on a
    boilerplate corpus whose hottest gram's extrapolated position
    count exceeds the threshold, the operator must SELECT the
    skew-safe aggregate plan; with the production threshold the same
    corpus stays on the measured-faster window plan. Values are
    identical either way (test_substring_dedup_stats_strategies_agree
    / test_substring_rewrite_strategies_agree pin that)."""
    from flink_kafka_filter_transform_spark.operators import dedup

    boiler = "EVERY-DOC-CARRIES-THIS-EXACT-BOILERPLATE-HEADER-BLOCK!!"
    rows = [(i, boiler + f" tail {i} " + "pad" * 10) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    flipped = dedup.substring_dedup_stats(
        docs, hot_gram_threshold=10, probe_fraction=1.0
    )
    plan = px.explain_str(flipped, "simple")
    assert "partial_min(doc_id" in plan
    assert plan.count("windowspecdefinition(gh") == 0
    stays = dedup.substring_dedup_stats(docs, probe_fraction=1.0)
    plan = px.explain_str(stays, "simple")
    assert plan.count("windowspecdefinition(gh") == 2
    # the rewrite shares the same gate
    flipped = dedup.substring_dedup_rewrite(
        docs, hot_gram_threshold=10, probe_fraction=1.0
    )
    assert "partial_min(doc_id" in px.explain_str(flipped, "simple")


def test_url_family_broadcasts_nothing(spark, sf_dir):
    """canonical_url and host are corpus-cardinality keys at 100 TB
    (a crawl's URL set IS the corpus): both profile queries must be
    pure map + one keyed aggregate — no broadcast hint, no join, and
    exactly one exchange up to the aggregate's partial/final split."""
    from flink_kafka_filter_transform_spark.operators import web

    docs = load_table(spark, "documents", sf_dir)
    for fn in (
        web.url_canonical_dedup,
        web.host_profile,
        web.url_blocklist_report,
    ):
        df = fn(docs)
        assert px.broadcast_hint_count(df) == 0
        plan = px.explain_str(df, "simple")
        assert "Join" not in plan  # map + aggregate only


def test_html_extract_is_pure_map(spark, sf_dir):
    """The boilerplate extractor must stay a single map stage at any
    corpus size — regexp + array HOFs only: no join, no broadcast,
    and no exchange at all (blocks never explode into rows). The
    funnel adds exactly the global aggregate's partial/final pair."""
    from flink_kafka_filter_transform_spark.operators import web

    docs = load_table(spark, "documents", sf_dir)
    e = web.html_boilerplate_extract(docs)
    assert px.broadcast_hint_count(e) == 0
    plan = px.explain_str(e, "simple")
    # count_shuffles, not a raw "Exchange" grep: the ingest-side
    # rebalance exchange fires on 32-core sessions and is excluded by
    # policy — the ALGORITHMIC shuffle inventory must be zero
    assert "Join" not in plan and px.count_shuffles(e) == 0
    f = web.html_extract_quality_funnel(docs)
    fplan = px.explain_str(f, "simple")
    assert "Join" not in fplan


def test_normalized_exact_dedup_plan(spark, sf_dir):
    """Normalize-then-hash dedup keeps exact_dedup's shape: the regex
    chain is a map stage, ONE hash-keyed aggregate, no join, no
    broadcast; the raw text column never appears in an exchange."""
    from flink_kafka_filter_transform_spark.operators import dedup

    df = dedup.normalized_exact_dedup(load_table(spark, "documents", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan


def test_orders_profile_single_scan_no_join(spark, sf_dir):
    """Every per-column statistic folds into one aggregate over ONE
    scan of the table — no join, no window, no broadcast; the
    count-distinct columns expand into Spark's standard multi-phase
    partial aggregation, not per-column scans."""
    from flink_kafka_filter_transform_spark.operators import relational

    df = relational.table_profile(load_table(spark, "orders", sf_dir))
    assert px.broadcast_hint_count(df) == 0
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") + plan.count("Scan parquet") <= 2


def test_interval_overlap_join_is_equi_bucketed(spark, sf_dir):
    """The interval-overlap join must reach the executor as an EQUI
    join on (supplier, day-bucket) — never a nested loop over the raw
    inequality predicate — and PINNED to a shuffled hash join: both
    sides are the corpus by construction, and Catalyst's size estimate
    through the explode is unreliable enough to broadcast 12M rows at
    sf1 (the measured 22.9 s cliff the hint deletes). The overlap +
    ownership predicates ride the equi-join as post-filters."""
    from flink_kafka_filter_transform_spark.operators import rangejoin

    df = rangejoin.interval_overlap_pairs(load_table(spark, "lineitem", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert px.broadcast_hint_count(df) == 0
    assert not px.has_broadcast_join(df)
    assert "ShuffledHashJoin" in plan


def test_interval_overlap_fanout_bounded(spark, sf_dir):
    """Bucket width exceeds the max interval length, so the explode
    fan-out is provably <= 2 rows per interval — measured on the real
    relation, not assumed."""
    from flink_kafka_filter_transform_spark.operators import rangejoin

    iv = rangejoin.lineitem_transit_intervals(load_table(spark, "lineitem", sf_dir))
    B = rangejoin.OVERLAP_BUCKET_DAYS
    worst = iv.select(
        (
            F.expr(f"floor(end_day / {B})") - F.expr(f"floor(start_day / {B})") + 1
        ).alias("n")
    ).agg(F.max("n")).collect()[0][0]
    assert worst <= 2


def test_name_edit_neighbors_plan(spark, sf_dir):
    """Symmetric-delete linkage is generate/verify with NO join
    operator at all: explode variants, ONE variant-keyed aggregate
    into capped blocks, map-side pair expansion, distinct, levenshtein
    filter. Nothing broadcasts; the naive quadratic join never appears
    in the plan."""
    from flink_kafka_filter_transform_spark.operators import linkage

    df = linkage.name_edit_neighbors(load_table(spark, "customer", sf_dir))
    plan = px.explain_str(df, "simple")
    assert "Join" not in plan
    assert px.broadcast_hint_count(df) == 0
    assert "levenshtein" in plan


def test_respread_keeps_inputs_over_the_size_bound(spark, sf_dir, monkeypatch):
    """respread_if_underpartitioned re-spreads an under-partitioned
    frame only when the files it scans fit under _REBALANCE_MAX_BYTES,
    the guard load_table applies: with the bound at 0 bytes a
    file-backed frame comes back unchanged."""
    from flink_kafka_filter_transform_spark.sources import parquet

    orders = load_table(spark, "orders", sf_dir)
    assert orders.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert parquet.respread_if_underpartitioned(orders) is not orders
    monkeypatch.setattr(parquet, "_REBALANCE_MAX_BYTES", 0)
    assert parquet.respread_if_underpartitioned(orders) is orders


def test_supplier_customer_linkage_plan(spark, sf_dir):
    """Two-relation linkage is index-and-probe: the supplier side
    aggregates into capped variant blocks (ONE shuffle), the customer
    side explodes variants and equi-joins the index — Catalyst
    broadcasts the small block index unhinted (no pin: at a different
    size ratio AQE may legitimately shuffle instead), the naive
    quadratic join never appears, and the only other exchange is the
    candidate-pair distinct. Each raw relation is scanned exactly
    once; the levenshtein verify stays JVM-side."""
    from flink_kafka_filter_transform_spark.operators import linkage

    df = linkage.supplier_customer_linkage(
        load_table(spark, "customer", sf_dir), load_table(spark, "supplier", sf_dir)
    )
    plan = px.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert px.sortmerge_join_count(df) == 0
    assert px.broadcast_hint_count(df) == 0
    assert px.count_shuffles(df) <= 2
    assert "levenshtein" in plan
    # "Scan parquet" also substring-matches "FileScan parquet"
    assert plan.count("Scan parquet") == 2


def test_zordered_box_scan_pushes_both_dims_and_skips_files(spark, sf_dir):
    """Both box predicates must reach the parquet reader as
    PushedFilters, and — measured from the REAL footers, the
    test_sinks discipline — the Z-ordered layout must leave some files
    whose (part, day) bounding box misses the query box entirely (the
    files min/max pruning skips). A single-column sort would nail one
    dimension and leave the other spanning the full domain in every
    file."""
    import glob

    import pyarrow.parquet as pq

    from flink_kafka_filter_transform_spark.operators import relational as rel

    df = rel.zordered_box_scan(spark, sf_dir)
    pf = " ".join(px.pushed_filters(df))
    assert "l_partkey" in pf and "ship_day" in pf

    t = rel._zordered_lineitem_table(spark, sf_dir)
    location = None
    for row in spark.sql(f"DESCRIBE FORMATTED {t}").collect():
        if row[0].strip().lower() == "location":
            location = row[1]
    assert location
    # urlparse, not str.replace (r10 ADVICE): "file:" anywhere else in
    # the string must not be stripped, and file:// URIs with authority
    # components need .path, not a prefix chop.
    from urllib.parse import urlparse

    parsed = urlparse(location)
    local = parsed.path if parsed.scheme else location
    files = glob.glob(local + "/*.parquet")
    assert len(files) > 1
    overlapping = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        p_mn = min(md.row_group(g).column(cols["l_partkey"]).statistics.min for g in range(md.num_row_groups))
        p_mx = max(md.row_group(g).column(cols["l_partkey"]).statistics.max for g in range(md.num_row_groups))
        d_mn = min(md.row_group(g).column(cols["ship_day"]).statistics.min for g in range(md.num_row_groups))
        d_mx = max(md.row_group(g).column(cols["ship_day"]).statistics.max for g in range(md.num_row_groups))
        if (
            p_mx >= rel.ZBOX_PART_LO
            and p_mn <= rel.ZBOX_PART_HI
            and d_mx >= rel.ZBOX_DAY_LO
            and d_mn <= rel.ZBOX_DAY_HI
        ):
            overlapping += 1
    assert 0 < overlapping < len(files), (
        f"{overlapping}/{len(files)} files overlap the box — Z-order "
        "should leave skippable files"
    )

