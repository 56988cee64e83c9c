"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the smoke check: the reference's full CDC data path
over sf0.001. ``queries()`` maps each query name to a function
``(spark, sf_dir) -> DataFrame``, and ``oracle_sql()`` maps the same
names to a DuckDB twin. A verifier runs every query at sf=0.01 and
compares it with its oracle (row count, schema and an order-insensitive
value hash). The contract is the names, the functions and the oracles;
``queries()`` lists them in registration order.

Engine code lives in ``flink_kafka_filter_transform_spark``; this file
only wires queries to oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_kafka_filter_transform_spark import oracles
from flink_kafka_filter_transform_spark.operators import (
    asof,
    cdc,
    dedup,
    extensibility,
    graph,
    kmeans,
    linkage,
    multimodal,
    rangejoin,
    relational,
    sampling,
    similarity,
    sketch,
    text,
    vectorprep,
    web,
)
from flink_kafka_filter_transform_spark.sources.cdc_fixture import RULES, cdc_events_df
from flink_kafka_filter_transform_spark.sources.parquet import load_table
from flink_kafka_filter_transform_spark.streaming import pipeline as streaming_pipeline

QueryFn = Callable[[SparkSession, str], DataFrame]


# ---------------------------------------------------------------------------
# CDC parity queries (SURVEY.md §2 O2-O10) over the deterministic CDC
# fixture derived from the events table (sources.cdc_fixture).
# ---------------------------------------------------------------------------


def _cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_events_df(spark, sf_dir)


def q_cdc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cdc.parse_envelope(_cdc(spark, sf_dir))
    return df.select("msg_id", "op", "db", "table_name", "parse_ok")


def q_cdc_filter_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cdc.filter_deletes(cdc.parse_envelope(_cdc(spark, sf_dir)))
    return df.select("msg_id", "topic", "key", "op", "db", "table_name")


def q_cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cdc.route_when_chain(cdc.filter_deletes(cdc.parse_envelope(_cdc(spark, sf_dir))), RULES)
    return cdc.drop_unrouted(df).select("msg_id", "topic", "db", "table_name", "op", "target_topic")


def q_cdc_counts_inbound(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.inbound_counts(cdc.parse_envelope(_cdc(spark, sf_dir)))


def q_cdc_counts_outbound(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.cdc_pipeline(_cdc(spark, sf_dir), RULES)


def q_cdc_outgoing(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = cdc.drop_unrouted(
        cdc.route_when_chain(cdc.filter_deletes(cdc.parse_envelope(_cdc(spark, sf_dir))), RULES)
    )
    return cdc.project_outgoing(routed)


# ---------------------------------------------------------------------------
# Extension + relational queries
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's full data path (parse -> filter ->
    route -> outbound counts) over sf0.001."""
    return q_cdc_counts_outbound(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    """Every registered query by name, in registration order.

    The contract is the names, the functions and their ``oracle_sql()``
    twins; the order carries no meaning beyond registration."""
    return {
        "orders_top10": lambda s, d: relational.orders_top10(load_table(s, "orders", d)),
        "embedding_normalized_norms": lambda s, d: vectorprep.embedding_normalized_norms(
            _emb(s, d)
        ),
        "embedding_quantize": lambda s, d: vectorprep.embedding_quantize(_emb(s, d)),
        "jl_projection_distortion": lambda s, d: vectorprep.jl_projection_distortion(
            _emb(s, d)
        ),
        "knn_jl": lambda s, d: similarity.knn_jl(_emb(s, d)),
        "knn_jl_recall": lambda s, d: similarity.knn_jl_recall(_emb(s, d)),
        "salted_event_counts": lambda s, d: relational.salted_event_counts(
            load_table(s, "events", d)
        ),
        "event_value_percentiles": lambda s, d: relational.event_value_percentiles(
            load_table(s, "events", d)
        ),
        "revenue_rollup": lambda s, d: relational.revenue_rollup(load_table(s, "lineitem", d)),
        "revenue_cube": lambda s, d: relational.revenue_cube(load_table(s, "lineitem", d)),
        "revenue_grouping_sets": lambda s, d: relational.revenue_grouping_sets(
            load_table(s, "lineitem", d)
        ),
        "lang_id": lambda s, d: text.lang_id(_docs(s, d)),
        "token_counts": lambda s, d: text.token_counts(_docs(s, d)),
        "normalize_text": lambda s, d: text.normalize_text(_docs(s, d)),
        "doc_fingerprint": lambda s, d: text.doc_fingerprint(_docs(s, d)),
        "text_stats": lambda s, d: text.text_stats(_docs(s, d)),
        "pii_redact": lambda s, d: text.pii_redact(_docs(s, d)),
        "repetition_ratios": lambda s, d: text.repetition_ratios(_docs(s, d)),
        # integer-exact rework (sum of counts / (total*n), one division)
        "token_frequency_score": lambda s, d: text.token_frequency_score(_docs(s, d)),
        # codebook cardinality now data-adaptive: ceil(N/256) on both engines
        "embedding_neardup_refined": lambda s, d: dedup.embedding_neardup_refined(
            _emb(s, d)
        ),
        # lsh_candidates across the whole n_bands range, default included
        "minhash_band_sweep": lambda s, d: dedup.minhash_band_sweep(_docs(s, d)),
        # the BPE encode pass, the Bloom membership sketch, the hashed
        # linear quality classifier, collocation lift
        "bpe_encode_report": lambda s, d: text.bpe_encode_report(_docs(s, d)),
        "bloom_contamination": lambda s, d: sketch.bloom_contamination(_docs(s, d)),
        "quality_classifier_score": lambda s, d: text.quality_classifier_score(
            _docs(s, d)
        ),
        "bigram_lift_top": lambda s, d: text.bigram_lift_top(_docs(s, d)),
        "dedup_survivors_quality": lambda s, d: graph.dedup_survivors_quality(
            _docs(s, d)
        ),
        "adaptive_length_filter": lambda s, d: text.adaptive_length_filter(
            _docs(s, d)
        ),
        "event_path_report": lambda s, d: relational.event_path_report(
            load_table(s, "events", d)
        ),
        "neardup_triangles": lambda s, d: graph.neardup_triangles(_docs(s, d)),
        # k-core of the near-dup graph (late r9): iterative peeling —
        # where transitive-closure clustering is structurally safe ===
        "neardup_kcore": lambda s, d: graph.neardup_kcore(_docs(s, d)),
        "q8_market_share": lambda s, d: relational.q8_market_share(
            load_table(s, "lineitem", d),
            load_table(s, "orders", d),
            load_table(s, "customer", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
            load_table(s, "region", d),
            load_table(s, "part", d),
        ),
        "q12_shipping_delay": lambda s, d: relational.q12_shipping_delay(
            load_table(s, "lineitem", d), load_table(s, "orders", d)
        ),
        "q15_top_supplier": lambda s, d: relational.q15_top_supplier(
            load_table(s, "lineitem", d), load_table(s, "supplier", d)
        ),
        "q16_supplier_part_variety": lambda s, d: relational.q16_supplier_part_variety(
            load_table(s, "lineitem", d),
            load_table(s, "part", d),
            load_table(s, "supplier", d),
        ),
        "q19_discounted_revenue": lambda s, d: relational.q19_discounted_revenue(
            load_table(s, "lineitem", d), load_table(s, "part", d)
        ),
        "q21_waiting_orders": lambda s, d: relational.q21_waiting_orders(
            load_table(s, "lineitem", d),
            load_table(s, "orders", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
        ),
        "q2_min_cost_supplier": lambda s, d: relational.q2_min_cost_supplier(
            load_table(s, "lineitem", d),
            load_table(s, "part", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
            load_table(s, "region", d),
        ),
        "q11_important_parts": lambda s, d: relational.q11_important_parts(
            load_table(s, "lineitem", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
        ),
        "segment_dedup_stats": lambda s, d: dedup.segment_dedup_stats(_docs(s, d)),
        "semdedup_prune": lambda s, d: dedup.semdedup_prune(_emb(s, d)),
        # SemDeDup straight from text: hashing-trick vectors densified
        # and pruned — no embedding model/table in the loop (r11,
        # VERDICT r10 item 6)
        "semdedup_text_prune": lambda s, d: dedup.semdedup_text_prune(_docs(s, d)),
        "temperature_mixture_report": lambda s, d: sampling.temperature_mixture_report(
            _docs(s, d)
        ),
        "supply_chain_pagerank": lambda s, d: graph.supply_chain_pagerank(
            load_table(s, "lineitem", d)
        ),
        "dsir_proxy_weights": lambda s, d: sampling.dsir_proxy_weights(_docs(s, d)),
        "knn_filtered": lambda s, d: similarity.knn_filtered(_emb(s, d)),
        "trigram_gini_diversity": lambda s, d: text.trigram_gini_diversity(
            _docs(s, d)
        ),
        "embedding_label_outliers": lambda s, d: vectorprep.embedding_label_outliers(
            _emb(s, d)
        ),
        "pq_train_report": lambda s, d: kmeans.pq_train_report(_emb(s, d)),
        "knn_pq_adc": lambda s, d: kmeans.knn_pq_adc(_emb(s, d)),
        "knn_pq_recall": lambda s, d: kmeans.knn_pq_recall(_emb(s, d)),
        "jpeg_decode": lambda s, d: multimodal.jpeg_decode(_docs(s, d)),
        "jpeg_color_decode": lambda s, d: multimodal.jpeg_color_decode(_docs(s, d)),
        "source_quality_matrix": lambda s, d: text.source_quality_matrix(
            _docs(s, d)
        ),
        "knn_ivf_pq": lambda s, d: kmeans.knn_ivf_pq(_emb(s, d)),
        "knn_ivf_pq_recall": lambda s, d: kmeans.knn_ivf_pq_recall(_emb(s, d)),
        # residual-encoded IVF-PQ (late r9): the FAISS IVFPQ design —
        # PQ quantizes x - centroid(cell(x)); per-probed-cell LUTs ===
        "knn_ivf_pq_residual": lambda s, d: kmeans.knn_ivf_pq_residual(
            _emb(s, d)
        ),
        "knn_ivf_pq_residual_recall": lambda s, d: (
            kmeans.knn_ivf_pq_residual_recall(_emb(s, d))
        ),
        # refine-stage IVF-PQ (late r9): ADC shortlist -> exact L2
        # re-rank over ONLY the shortlist's true vectors (the FAISS
        # refine step); the recall twin closes the triple with
        # knn_pq_recall / knn_ivf_pq_recall ===
        "knn_ivf_pq_rerank": lambda s, d: kmeans.knn_ivf_pq_rerank(
            _emb(s, d)
        ),
        "knn_ivf_pq_rerank_recall": lambda s, d: (
            kmeans.knn_ivf_pq_rerank_recall(_emb(s, d))
        ),
        # SQ8 scalar-quantizer search (late r9): per-dim [min,max]
        # trained corpus-wide, search entirely on 1-byte codes — the
        # quantizer tier between raw vectors and PQ ===
        "knn_sq8": lambda s, d: similarity.knn_sq8(_emb(s, d)),
        "knn_sq8_recall": lambda s, d: similarity.knn_sq8_recall(_emb(s, d)),
        # filtered IVF (late r9): the WHERE clause runs THROUGH the
        # index — label predicate in the probed-cell candidate join,
        # widened probing as the selectivity compensation; recall twin
        # reads against the exact FILTERED top-k ===
        "knn_ivf_filtered": lambda s, d: kmeans.knn_ivf_filtered(_emb(s, d)),
        "knn_ivf_filtered_recall": lambda s, d: (
            kmeans.knn_ivf_filtered_recall(_emb(s, d))
        ),
        # Matryoshka prefix-dim search (late r9): cosine over the first
        # 16 coordinates — the MRL truncated-index shortcut; the recall
        # pair vs knn_jl_recall measures prefix-vs-projection at the
        # same 64 -> 16 budget ===
        "knn_mrl": lambda s, d: similarity.knn_mrl(_emb(s, d)),
        "knn_mrl_recall": lambda s, d: similarity.knn_mrl_recall(_emb(s, d)),
        "minhash_lsh_pairs": lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)),
        "knn_ivf_kmeans": lambda s, d: kmeans.knn_ivf_kmeans(_emb(s, d)),
        "embedding_neardup_fps": lambda s, d: dedup.embedding_neardup_refined(
            _emb(s, d), seeding="farthest"
        ),
        # agg-first plan: its groupBy-on-scan provides the parallelism
        # the ingest rebalance would otherwise buy with a raw-row
        # shuffle (r4 collateral: 0.36 -> 1.13 s cold)
        "exact_dedup": lambda s, d: dedup.exact_dedup(
            load_table(s, "documents", d, rebalance=False)
        ),
        "neardup_clusters": lambda s, d: graph.neardup_clusters(_docs(s, d)),
        "dedup_survivors": lambda s, d: graph.dedup_survivors(_docs(s, d)),
        "kmeans_clusters": lambda s, d: kmeans.kmeans_clusters(_emb(s, d)),
        "kmeans_cluster_sizes": lambda s, d: kmeans.kmeans_cluster_sizes(_emb(s, d)),
        "q6_forecast_revenue": lambda s, d: relational.q6_forecast_revenue(
            load_table(s, "lineitem", d)
        ),
        "knn_brute": lambda s, d: similarity.knn_brute(_emb(s, d)),
        "simhash_pairs": lambda s, d: dedup.simhash_pairs(_docs(s, d)),
        # mh0-blocked via _mh/_hash_pairs, not lsh_candidates
        "ngram_jaccard_pairs": lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d)),
        # LABELED ANTI-PATTERN BASELINE (quadratic at scale; SCALING.md):
        # kept only as the measured comparator for the _refined variant
        "embedding_neardup": lambda s, d: dedup.embedding_neardup(_emb(s, d)),
        "knn_ivf": lambda s, d: similarity.knn_ivf(_emb(s, d)),
        "knn_ivf_recall": lambda s, d: similarity.knn_ivf_recall(_emb(s, d)),
        "knn_ivf_probe_sweep": lambda s, d: similarity.knn_ivf_probe_sweep(_emb(s, d)),
        "q7_volume_shipping": lambda s, d: relational.q7_volume_shipping(
            load_table(s, "lineitem", d),
            load_table(s, "orders", d),
            load_table(s, "customer", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
        ),
        "q9_product_nation_profit": lambda s, d: relational.q9_product_nation_profit(
            load_table(s, "lineitem", d),
            load_table(s, "part", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
        ),
        "q10_returned_items": lambda s, d: relational.q10_returned_items(
            load_table(s, "lineitem", d),
            load_table(s, "orders", d),
            load_table(s, "customer", d),
        ),
        "q18_large_volume_orders": lambda s, d: relational.q18_large_volume_orders(
            load_table(s, "orders", d),
            load_table(s, "lineitem", d),
            load_table(s, "customer", d),
        ),
        "q13_customer_distribution": lambda s, d: relational.q13_customer_distribution(
            load_table(s, "customer", d), load_table(s, "orders", d)
        ),
        "events_group_reservoir": lambda s, d: sampling.events_group_reservoir(
            load_table(s, "events", d)
        ),
        "bigram_top_pairs": lambda s, d: text.bigram_top_pairs(_docs(s, d)),
        "training_mixture_report": lambda s, d: sampling.training_mixture_report(
            _docs(s, d)
        ),
        "media_resize": lambda s, d: multimodal.media_resize(_docs(s, d)),
        "doc_chunks": lambda s, d: text.doc_chunks(_docs(s, d)),
        "mixture_sample_summary": lambda s, d: sampling.mixture_sample_summary(
            _docs(s, d)
        ),
        "crossdoc_ngram_overlap": lambda s, d: dedup.crossdoc_ngram_overlap(
            _docs(s, d)
        ),
        "gram_novelty_profile": lambda s, d: dedup.gram_novelty_profile(
            _docs(s, d)
        ),
        "source_overlap_matrix": lambda s, d: dedup.source_overlap_matrix(
            _docs(s, d)
        ),
        "token_pack_report": lambda s, d: text.token_pack_report(_docs(s, d)),
        "source_vocab_divergence": lambda s, d: text.source_vocab_divergence(
            _docs(s, d)
        ),
        "daily_funnel": lambda s, d: relational.daily_funnel(load_table(s, "events", d)),
        "bpe_merges": lambda s, d: text.bpe_merges(_docs(s, d)),
        "daily_reconciliation": lambda s, d: relational.daily_reconciliation(
            load_table(s, "orders", d), load_table(s, "lineitem", d)
        ),
        "value_outliers_by_type": lambda s, d: relational.value_outliers_by_type(
            load_table(s, "events", d)
        ),
        "png_decode": lambda s, d: multimodal.png_decode(_docs(s, d)),
        "q17_small_quantity": lambda s, d: relational.q17_small_quantity(
            load_table(s, "lineitem", d), load_table(s, "part", d)
        ),
        "q20_potential_promotion": lambda s, d: relational.q20_potential_promotion(
            load_table(s, "lineitem", d),
            load_table(s, "part", d),
            load_table(s, "supplier", d),
            load_table(s, "nation", d),
        ),
        "q22_idle_rich_customers": lambda s, d: relational.q22_idle_rich_customers(
            load_table(s, "customer", d), load_table(s, "orders", d)
        ),
        "media_decode": lambda s, d: multimodal.media_decode(_docs(s, d)),
        "cdc_parse": q_cdc_parse,
        "cdc_filter_deletes": q_cdc_filter_deletes,
        "cdc_route": q_cdc_route,
        "cdc_counts_inbound": q_cdc_counts_inbound,
        "cdc_counts_outbound": q_cdc_counts_outbound,
        "cdc_outgoing": q_cdc_outgoing,
        "cdc_materialize": lambda s, d: cdc.materialize_latest(
            cdc.parse_envelope(_cdc(s, d))
        ),
        "cdc_scd2_history": lambda s, d: cdc.scd2_history(
            cdc.parse_envelope(_cdc(s, d))
        ),
        "events_daily": lambda s, d: relational.events_daily(load_table(s, "events", d)),
        # hopping-window rollup (late r9): native F.window, 1 h size /
        # 30 min hop — each event in exactly 2 windows ===
        "events_hopping_window": lambda s, d: relational.events_hopping_window(
            load_table(s, "events", d)
        ),
        # cohort retention triangle (late r9): first-seen-day cohorts,
        # per-(cohort, k) distinct active users ===
        "events_retention_cohorts": lambda s, d: (
            relational.events_retention_cohorts(load_table(s, "events", d))
        ),
        "events_daily_gapfilled": lambda s, d: relational.events_daily_gapfilled(
            load_table(s, "events", d)
        ),
        "events_pivot": lambda s, d: relational.events_pivot(load_table(s, "events", d)),
        "events_unpivot": lambda s, d: relational.events_unpivot(load_table(s, "events", d)),
        "events_last_purchase": lambda s, d: asof.events_last_purchase(
            load_table(s, "events", d)
        ),
        "users_purchase_except_error": lambda s, d: relational.users_purchase_except_error(
            load_table(s, "events", d)
        ),
        "users_purchase_intersect_error": lambda s, d: relational.users_purchase_intersect_error(
            load_table(s, "events", d)
        ),
        "quality_filter_funnel": lambda s, d: text.quality_filter_funnel(_docs(s, d)),
        "tfidf_top_terms": lambda s, d: text.tfidf_top_terms(_docs(s, d)),
        "contamination_check": lambda s, d: dedup.contamination_check(_docs(s, d)),
        "hll_distinct_users": lambda s, d: sketch.hll_distinct_users(
            load_table(s, "events", d)
        ),
        "hll_distinct_orders": lambda s, d: sketch.hll_distinct_orders(
            load_table(s, "lineitem", d)
        ),
        "hll_rollup_users": lambda s, d: sketch.hll_rollup_users(
            load_table(s, "events", d)
        ),
        "cms_token_counts": lambda s, d: sketch.cms_token_counts(_docs(s, d)),
        "histogram_quantiles": lambda s, d: sketch.histogram_quantiles(
            load_table(s, "events", d)
        ),
        "histogram_quantiles_by_type": lambda s, d: sketch.histogram_quantiles_by_type(
            load_table(s, "events", d)
        ),
        "documents_split_summary": lambda s, d: sampling.documents_split_summary(_docs(s, d)),
        "events_stratified_sample": lambda s, d: sampling.events_stratified_sample(
            load_table(s, "events", d)
        ),
        "customers_without_orders": lambda s, d: relational.customers_without_orders(
            load_table(s, "customer", d), load_table(s, "orders", d)
        ),
        "orders_above_customer_avg": lambda s, d: relational.orders_above_customer_avg(
            load_table(s, "orders", d)
        ),
        "user_value_moving_avg": lambda s, d: relational.user_value_moving_avg(
            load_table(s, "events", d)
        ),
        "q14_promo_revenue": lambda s, d: relational.q14_promo_revenue(
            load_table(s, "lineitem", d), load_table(s, "part", d)
        ),
        "events_sessionized": lambda s, d: relational.events_sessionized(
            load_table(s, "events", d)
        ),
        "events_sessionized_native": lambda s, d: relational.events_sessionized_native(
            load_table(s, "events", d)
        ),
        "purchases_with_recent_clicks": lambda s, d: rangejoin.purchases_with_recent_clicks(
            load_table(s, "events", d)
        ),
        # --- extensibility, multimodal plumbing ---
        "weighted_avg_by_type": lambda s, d: extensibility.weighted_avg_by_type(
            load_table(s, "events", d)
        ),
        "sentence_split_rows": lambda s, d: extensibility.sentence_split_rows(_docs(s, d)),
        "multimodal_features": lambda s, d: multimodal.multimodal_features(_docs(s, d)),
        "frame_sample": lambda s, d: multimodal.frame_sample_from_docs(_docs(s, d)),
        # --- relational surface ---
        "q1_pricing_summary": lambda s, d: relational.q1_pricing_summary(load_table(s, "lineitem", d)),
        # storage-bucketed co-located fact-to-fact join (late r9):
        # both sides pre-hashed into the same buckets on the order
        # key, join exchange-free; values layout-invariant ===
        "bucketed_join_revenue": relational.bucketed_join_revenue,
        # date-partitioned layout twin (late r9): day predicate
        # resolves against partition directories — 1 of 30 read ===
        "partitioned_daily_revenue": relational.partitioned_daily_revenue,
        "q3_shipping_priority": lambda s, d: relational.q3_shipping_priority(
            load_table(s, "customer", d), load_table(s, "orders", d), load_table(s, "lineitem", d)
        ),
        "q5_local_supplier_volume": lambda s, d: relational.q5_local_supplier_volume(
            load_table(s, "region", d),
            load_table(s, "nation", d),
            load_table(s, "customer", d),
            load_table(s, "orders", d),
            load_table(s, "lineitem", d),
            load_table(s, "supplier", d),
        ),
        "top_customers_per_segment": lambda s, d: relational.top_customers_per_segment(
            load_table(s, "customer", d)
        ),
        "events_props_extract": lambda s, d: relational.events_props_extract(
            load_table(s, "events", d)
        ),
        "events_props_map_explode": lambda s, d: relational.events_props_map_explode(
            load_table(s, "events", d)
        ),
        "order_priority_stats": lambda s, d: relational.order_priority_stats(
            load_table(s, "orders", d)
        ),
        "q4_order_priority_semi": lambda s, d: relational.q4_order_priority_semi(
            load_table(s, "orders", d), load_table(s, "lineitem", d)
        ),
        # === streaming maintenance sink state readers —
        # real file-stream drain through the foreachBatch sinks, final
        # published state returned (streaming.pipeline docstrings) ===
        "hll_stream_state": streaming_pipeline.hll_stream_state,
        # its state equals batch cdc.scd2_history
        "scd2_stream_state": streaming_pipeline.scd2_stream_state,
        "cms_stream_state": streaming_pipeline.cms_stream_state,
        # Bloom membership face (late r9): OR-merge registers — the
        # probabilistic "seen this content?" pre-filter in front of
        # dedup_stream_state's exact ledger; <= BLOOM_REGS state rows
        # forever ===
        "bloom_stream_state": streaming_pipeline.bloom_stream_state,
        "ivf_stream_cell_counts": streaming_pipeline.ivf_stream_cell_counts,
        # the LSH index sink's accumulated pair log; it equals batch
        # minhash_lsh_pairs
        "lsh_stream_state": streaming_pipeline.lsh_stream_state,
        # retrieval + LM-quality operators
        "bm25_top_docs": lambda s, d: text.bm25_top_docs(_docs(s, d)),
        "unigram_surprisal": lambda s, d: text.unigram_surprisal(_docs(s, d)),
        # exact-substring span-dedup profile + the first-seen dedup
        # ledger's streaming face
        "substring_dedup_stats": lambda s, d: dedup.substring_dedup_stats(
            _docs(s, d)
        ),
        "dedup_stream_state": streaming_pipeline.dedup_stream_state,
        "winnowing_overlap": lambda s, d: dedup.winnowing_overlap(_docs(s, d)),
        "audio_frame_features": lambda s, d: multimodal.audio_frame_features(
            _docs(s, d)
        ),
        "containment_pairs": lambda s, d: dedup.containment_pairs(_docs(s, d)),
        "winnowing_pairs": lambda s, d: dedup.winnowing_pairs(_docs(s, d)),
        "split_leakage_report": lambda s, d: sampling.split_leakage_report(
            _docs(s, d)
        ),
        # image perceptual-hash near-dup — the bridge
        # between the multimodal decode stack (real PPM decode, luma,
        # resize_nearest) and the dedup blocking stack (the simhash
        # chunk machinery, factored into dedup.hamming_chunk_pairs)
        "image_phash_pairs": lambda s, d: multimodal.image_phash_pairs(
            _docs(s, d)
        ),
        # bigram-with-backoff surprisal: the context-aware CCNet-style
        # LM filter (unigram_surprisal's sibling), same integer-bit
        # discipline
        "bigram_surprisal": lambda s, d: text.bigram_surprisal(_docs(s, d)),
        # hashing-trick doc vectors + text-corpus cosine search (late
        # r9): the text -> similarity bridge, integer-exact to the one
        # final division ===
        "doc_hash_embedding": lambda s, d: text.doc_hash_embedding(
            _docs(s, d)
        ),
        "doc_text_knn": lambda s, d: text.doc_text_knn(_docs(s, d)),
        # the Gopher ruleset (Rae et al. 2021): independent per-rule
        # hit counts, every boundary an integer comparison; the named-
        # published-ruleset complement to quality_filter_funnel ===
        "gopher_quality_rules": lambda s, d: text.gopher_quality_rules(
            _docs(s, d)
        ),
        # Heaps-law vocabulary growth curve: per-id-bucket new token
        # types + cumulative curves (the corpus-level "running out of
        # data" readout; gram_novelty_profile's corpus-granular rollup
        # sibling) ===
        "vocab_growth_curve": lambda s, d: text.vocab_growth_curve(
            _docs(s, d)
        ),
        # audio near-dup: energy-contour fingerprint over the real WAV
        # decode, paired via the same factored chunk blocking — with
        # image_phash_pairs this completes the multimodal near-dup
        # pair
        "audio_fingerprint_pairs": lambda s, d: multimodal.audio_fingerprint_pairs(
            _docs(s, d)
        ),
        # VAD-style silence/activity segmentation over the real
        # decode: gaps-and-islands run fold, one map-only Arrow stage
        "audio_silence_segments": lambda s, d: multimodal.audio_silence_segments(
            _docs(s, d)
        ),
        # video near-dup: per-frame dHash over the real PPM container
        # demux + decode, videos paired by a capped frame-hash equi-
        # join at >= VID_MIN_MATCH shared frames — the video member of
        # the multimodal near-dup triad
        "video_frame_match_pairs": lambda s, d: multimodal.video_frame_match_pairs(
            _docs(s, d)
        ),
        # video scene segmentation: demux + per-frame dHash + adjacent-
        # frame Hamming + run-length fold in ONE map-only Arrow stage —
        # the keyframe-sampling readout
        "video_scene_cuts": lambda s, d: multimodal.video_scene_cuts(_docs(s, d)),
        # streaming face: documents drained through phash_index_sink —
        # the incremental image-fingerprint chunk index; the drained
        # pair log equals the one-shot image_phash_pairs, so it shares
        # that oracle
        "phash_stream_state": streaming_pipeline.phash_stream_state,
        # the duplicate-span REMOVAL capstone (Lee et
        # al. 2021's cleaned-corpus output over the substring family's
        # shared-window relation), the URL/host canonicalization
        # family (the crawl pipeline's first pass — VERDICT r9 item
        # 4), and the audio fingerprint streaming face closing the
        # multimodal streaming pair (item 6)
        "substring_dedup_rewrite": lambda s, d: dedup.substring_dedup_rewrite(
            _docs(s, d)
        ),
        "url_canonical_dedup": lambda s, d: web.url_canonical_dedup(_docs(s, d)),
        "host_profile": lambda s, d: web.host_profile(_docs(s, d)),
        # streaming face: documents drained through afp_index_sink —
        # the incremental audio-fingerprint chunk index; the drained
        # pair log equals the one-shot audio_fingerprint_pairs, so it
        # shares that oracle ===
        "afp_stream_state": streaming_pipeline.afp_stream_state,
        # video frame-fingerprint index face — completes the
        # multimodal near-dup triad's streaming story (r11, VERDICT
        # r10 item 5)
        "vfp_stream_state": streaming_pipeline.vfp_stream_state,
        # normalization-robust exact dedup (CCNet's normalize-then-
        # hash key): unfiltered group relation so the driver hash
        # verifies the whole normalization chain
        "normalized_exact_dedup": lambda s, d: dedup.normalized_exact_dedup(
            _docs(s, d)
        ),
        # first-match URL blocklist over canonical urls (C4's URL
        # filter pass; routing semantics, gopher-report shape)
        "url_blocklist_report": lambda s, d: web.url_blocklist_report(
            _docs(s, d)
        ),
        # zeroth-order char-entropy bound — the integer-exact
        # compressibility quality signal
        "char_entropy_profile": lambda s, d: text.char_entropy_profile(
            _docs(s, d)
        ),
        # the dedup CASCADE funnel (url -> normalized-exact -> minhash
        # pair rule, production order)
        "dedup_cascade_report": lambda s, d: dedup.dedup_cascade_report(
            _docs(s, d)
        ),
        # ANALYZE-style per-column profiling of the orders table
        # (generic relational.table_profile)
        "orders_profile": lambda s, d: relational.table_profile(
            load_table(s, "orders", d)
        ),
        # interval x interval OVERLAP join (third temporal-join member
        # after asof and the point-in-window range join): per-supplier
        # transit-interval overlap profile, bucketed-equi rewrite +
        # bucket-ownership exactly-once vs the NAIVE inequality-join
        # oracle
        "interval_overlap_pairs": lambda s, d: rangejoin.interval_overlap_pairs(
            load_table(s, "lineitem", d)
        ),
        # streaming twin of the interval-overlap join: day-bucket
        # ownership + pair-in-later-batch, supplier-cardinality
        # monoid state (r11, VERDICT r10 item 7)
        "ivo_stream_state": streaming_pipeline.ivo_stream_state,
        # record linkage / entity resolution: symmetric-delete
        # (SymSpell) deletion-neighborhood blocking + built-in
        # levenshtein verify, exact recall for distance <= 1, vs the
        # naive quadratic oracle
        "name_edit_neighbors": lambda s, d: linkage.name_edit_neighbors(
            load_table(s, "customer", d)
        ),
        # Z-ordered layout 2-D box scan — completes the storage trio
        # (buckets / date partitions / Morton clustering); values
        # layout-invariant vs the plain filtered rollup oracle, the
        # I/O effect measured from real parquet footers in test_plans
        "zordered_box_scan": relational.zordered_box_scan,
        # === NEW r12 (VERDICT r11 item 5): TWO-relation record
        # linkage — the supplier master's 9-digit name ids probed
        # into the customer master's variant-block index, one-typo
        # tolerance, vs the naive quadratic cross-join oracle ===
        "supplier_customer_linkage": lambda s, d: linkage.supplier_customer_linkage(
            load_table(s, "customer", d), load_table(s, "supplier", d)
        ),
        # === NEW r12 (VERDICT r11 item 6): streaming face for the
        # edit-distance linkage — arriving entities probe the
        # accumulated variant-block index (pair-in-later-batch,
        # lifetime EDIT_BLOCK_CAP via the bcounts protocol); drained
        # log equals the batch operator, same quadratic oracle ===
        "edit_stream_state": streaming_pipeline.edit_stream_state,
        # === NEW r13 (VERDICT r12 item 4): incremental connected-
        # components over the streamed near-dup pair log — component
        # labels maintained as versioned state, new pairs merge via
        # min-label propagation over the AFFECTED label graph only;
        # drained cluster table equals batch graph.neardup_clusters,
        # same RECURSIVE-CTE oracle ===
        "cc_stream_state": streaming_pipeline.cc_stream_state,
        # === NEW r14 (VERDICT r13 item 3): HTML main-content
        # extraction — the boilerplate-removal stage between URL
        # filtering and text quality (jusText/trafilatura-shaped:
        # block segmentation + tag blacklist + min length + integer
        # link density over the closed-form synthesized-HTML fixture),
        # plus the cumulative curation funnel over the EXTRACTED text
        # (extraction upstream of the quality gates, the real crawl
        # pipeline order) ===
        "html_boilerplate_extract": lambda s, d: web.html_boilerplate_extract(
            _docs(s, d)
        ),
        "html_extract_quality_funnel": lambda s, d: (
            web.html_extract_quality_funnel(_docs(s, d))
        ),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "embedding_neardup_refined": oracles.embedding_neardup_refined_oracle(),
        "embedding_neardup_fps": oracles.embedding_neardup_refined_oracle(
            seeding="farthest"
        ),
        "crossdoc_ngram_overlap": oracles.crossdoc_ngram_overlap_oracle(),
        "gram_novelty_profile": oracles.gram_novelty_profile_oracle(),
        "source_overlap_matrix": oracles.source_overlap_matrix_oracle(),
        "bpe_encode_report": oracles.bpe_encode_report_oracle(),
        "dedup_survivors_quality": oracles.dedup_survivors_quality_oracle(),
        "adaptive_length_filter": oracles.adaptive_length_filter_oracle(),
        "event_path_report": oracles.event_path_report_oracle(),
        "neardup_triangles": oracles.neardup_triangles_oracle(),
        "neardup_kcore": oracles.neardup_kcore_oracle(),
        "source_quality_matrix": oracles.source_quality_matrix_oracle(),
        "knn_ivf_pq": oracles.knn_ivf_pq_oracle(),
        "knn_ivf_pq_recall": oracles.knn_ivf_pq_recall_oracle(),
        "knn_ivf_pq_residual": oracles.knn_ivf_pq_residual_oracle(),
        "knn_ivf_pq_residual_recall": oracles.knn_ivf_pq_residual_recall_oracle(),
        "knn_ivf_pq_rerank": oracles.knn_ivf_pq_rerank_oracle(),
        "knn_ivf_pq_rerank_recall": oracles.knn_ivf_pq_rerank_recall_oracle(),
        "knn_sq8": oracles.knn_sq8_oracle(),
        "knn_sq8_recall": oracles.knn_sq8_recall_oracle(),
        "knn_ivf_filtered": oracles.knn_ivf_filtered_oracle(),
        "knn_ivf_filtered_recall": oracles.knn_ivf_filtered_recall_oracle(),
        "knn_mrl": oracles.knn_mrl_oracle(),
        "knn_mrl_recall": oracles.knn_mrl_recall_oracle(),
        "bloom_contamination": oracles.bloom_contamination_oracle(),
        "quality_classifier_score": oracles.quality_classifier_score_oracle(),
        "bigram_lift_top": oracles.bigram_lift_top_oracle(),
        "token_frequency_score": oracles.token_frequency_score_oracle(),
        "token_pack_report": oracles.token_pack_report_oracle(),
        "source_vocab_divergence": oracles.source_vocab_divergence_oracle(),
        "daily_funnel": oracles.daily_funnel_oracle(),
        "bpe_merges": oracles.bpe_merges_oracle(),
        "daily_reconciliation": oracles.daily_reconciliation_oracle(),
        "value_outliers_by_type": oracles.value_outliers_by_type_oracle(),
        "png_decode": oracles.png_decode_oracle(),
        "q17_small_quantity": oracles.q17_small_quantity_oracle(),
        "q20_potential_promotion": oracles.q20_potential_promotion_oracle(),
        "media_decode": oracles.media_decode_oracle(),
        "q6_forecast_revenue": oracles.q6_forecast_revenue_oracle(),
        "q7_volume_shipping": oracles.q7_volume_shipping_oracle(),
        "q9_product_nation_profit": oracles.q9_product_nation_profit_oracle(),
        "q10_returned_items": oracles.q10_returned_items_oracle(),
        "q13_customer_distribution": oracles.q13_customer_distribution_oracle(),
        "q18_large_volume_orders": oracles.q18_large_volume_orders_oracle(),
        "q22_idle_rich_customers": oracles.q22_idle_rich_customers_oracle(),
        "q8_market_share": oracles.q8_market_share_oracle(),
        "q12_shipping_delay": oracles.q12_shipping_delay_oracle(),
        "q15_top_supplier": oracles.q15_top_supplier_oracle(),
        "q16_supplier_part_variety": oracles.q16_supplier_part_variety_oracle(),
        "q19_discounted_revenue": oracles.q19_discounted_revenue_oracle(),
        "q21_waiting_orders": oracles.q21_waiting_orders_oracle(),
        "q2_min_cost_supplier": oracles.q2_min_cost_supplier_oracle(),
        "q11_important_parts": oracles.q11_important_parts_oracle(),
        "segment_dedup_stats": oracles.segment_dedup_stats_oracle(),
        "semdedup_prune": oracles.semdedup_prune_oracle(),
        "semdedup_text_prune": oracles.semdedup_text_prune_oracle(),
        "temperature_mixture_report": oracles.temperature_mixture_report_oracle(),
        "supply_chain_pagerank": oracles.supply_chain_pagerank_oracle(),
        "dsir_proxy_weights": oracles.dsir_proxy_weights_oracle(),
        "knn_filtered": oracles.knn_filtered_oracle(),
        "trigram_gini_diversity": oracles.trigram_gini_diversity_oracle(),
        "embedding_label_outliers": oracles.embedding_label_outliers_oracle(),
        "pq_train_report": oracles.pq_train_report_oracle(),
        "knn_pq_adc": oracles.knn_pq_adc_oracle(),
        "knn_pq_recall": oracles.knn_pq_recall_oracle(),
        "jpeg_decode": oracles.jpeg_decode_oracle(),
        "minhash_band_sweep": oracles.minhash_band_sweep_oracle(),
        "events_group_reservoir": oracles.events_group_reservoir_oracle(),
        "bigram_top_pairs": oracles.bigram_top_pairs_oracle(),
        "training_mixture_report": oracles.training_mixture_report_oracle(),
        "media_resize": oracles.media_resize_oracle(),
        "cdc_scd2_history": oracles.cdc_scd2_history_oracle(),
        "knn_ivf_probe_sweep": oracles.knn_ivf_probe_sweep_oracle(),
        "doc_chunks": oracles.doc_chunks_oracle(),
        "cdc_materialize": oracles.cdc_materialize_oracle(),
        "repetition_ratios": oracles.repetition_ratios_oracle(),
        "pii_redact": oracles.pii_redact_oracle(),
        "contamination_check": oracles.contamination_check_oracle(),
        "quality_filter_funnel": oracles.quality_filter_funnel_oracle(),
        "hll_rollup_users": oracles.hll_rollup_users_oracle(),
        "mixture_sample_summary": oracles.mixture_sample_summary_oracle(),
        "histogram_quantiles": oracles.histogram_quantiles_oracle(),
        "histogram_quantiles_by_type": oracles.histogram_quantiles_by_type_oracle(),
        "jl_projection_distortion": oracles.jl_projection_distortion_oracle(),
        "knn_jl": oracles.knn_jl_oracle(),
        "knn_jl_recall": oracles.knn_jl_recall_oracle(),
        "cdc_parse": oracles.cdc_parse_oracle(),
        "cdc_filter_deletes": oracles.cdc_filter_deletes_oracle(),
        "cdc_route": oracles.cdc_route_oracle(),
        "cdc_counts_inbound": oracles.cdc_counts_inbound_oracle(),
        "cdc_counts_outbound": oracles.cdc_counts_outbound_oracle(),
        "cdc_outgoing": oracles.cdc_outgoing_oracle(),
        "text_stats": oracles.text_stats_oracle(),
        "lang_id": oracles.lang_id_oracle(),
        "token_counts": oracles.token_counts_oracle(),
        "doc_fingerprint": oracles.doc_fingerprint_oracle(),
        "tfidf_top_terms": oracles.tfidf_top_terms_oracle(),
        "normalize_text": oracles.normalize_text_oracle(),
        "embedding_normalized_norms": oracles.embedding_normalized_norms_oracle(),
        "embedding_quantize": oracles.embedding_quantize_oracle(),
        "exact_dedup": oracles.exact_dedup_oracle(),
        "substring_dedup_stats": oracles.substring_dedup_stats_oracle(),
        "dedup_stream_state": oracles.dedup_stream_state_oracle(),
        "winnowing_overlap": oracles.winnowing_overlap_oracle(),
        "audio_frame_features": oracles.audio_frame_features_oracle(),
        "containment_pairs": oracles.containment_pairs_oracle(),
        "winnowing_pairs": oracles.winnowing_pairs_oracle(),
        "split_leakage_report": oracles.split_leakage_report_oracle(),
        "minhash_lsh_pairs": oracles.minhash_lsh_pairs_oracle(),
        "simhash_pairs": oracles.simhash_pairs_oracle(),
        "embedding_neardup": oracles.embedding_neardup_oracle(),
        "knn_brute": oracles.knn_brute_oracle(),
        "knn_ivf": oracles.knn_ivf_oracle(),
        "kmeans_clusters": oracles.kmeans_clusters_oracle(),
        "kmeans_cluster_sizes": oracles.kmeans_cluster_sizes_oracle(),
        "knn_ivf_kmeans": oracles.knn_ivf_kmeans_oracle(),
        "knn_ivf_recall": oracles.knn_ivf_recall_oracle(),
        "events_last_purchase": oracles.events_last_purchase_oracle(),
        "multimodal_features": oracles.multimodal_features_oracle(),
        "q1_pricing_summary": oracles.q1_pricing_summary_oracle(),
        "q3_shipping_priority": oracles.q3_shipping_priority_oracle(),
        "bucketed_join_revenue": oracles.bucketed_join_revenue_oracle(),
        "partitioned_daily_revenue": oracles.partitioned_daily_revenue_oracle(
            relational.PARTITION_PRUNE_DAY
        ),
        "q5_local_supplier_volume": oracles.q5_local_supplier_volume_oracle(),
        "top_customers_per_segment": oracles.top_customers_per_segment_oracle(),
        "events_daily": oracles.events_daily_oracle(),
        "events_hopping_window": oracles.events_hopping_window_oracle(),
        "events_retention_cohorts": oracles.events_retention_cohorts_oracle(),
        "events_props_extract": oracles.events_props_extract_oracle(),
        "events_props_map_explode": oracles.events_props_map_explode_oracle(),
        "order_priority_stats": oracles.order_priority_stats_oracle(),
        "ngram_jaccard_pairs": oracles.ngram_jaccard_pairs_oracle(),
        "neardup_clusters": oracles.neardup_clusters_oracle(),
        "dedup_survivors": oracles.dedup_survivors_oracle(),
        "weighted_avg_by_type": oracles.weighted_avg_by_type_oracle(),
        "sentence_split_rows": oracles.sentence_split_rows_oracle(),
        "frame_sample": oracles.frame_sample_oracle(),
        "events_sessionized": oracles.events_sessionized_oracle(),
        "events_sessionized_native": oracles.events_sessionized_native_oracle(),
        "events_daily_gapfilled": oracles.events_daily_gapfilled_oracle(),
        "events_pivot": oracles.events_pivot_oracle(),
        "events_unpivot": oracles.events_unpivot_oracle(),
        "q4_order_priority_semi": oracles.q4_order_priority_semi_oracle(),
        "customers_without_orders": oracles.customers_without_orders_oracle(),
        "revenue_rollup": oracles.revenue_rollup_oracle(),
        "revenue_cube": oracles.revenue_cube_oracle(),
        "users_purchase_except_error": oracles.users_purchase_except_error_oracle(),
        "users_purchase_intersect_error": oracles.users_purchase_intersect_error_oracle(),
        "orders_top10": oracles.orders_top10_oracle(),
        "orders_above_customer_avg": oracles.orders_above_customer_avg_oracle(),
        "user_value_moving_avg": oracles.user_value_moving_avg_oracle(),
        "salted_event_counts": oracles.salted_event_counts_oracle(),
        "event_value_percentiles": oracles.event_value_percentiles_oracle(),
        "q14_promo_revenue": oracles.q14_promo_revenue_oracle(),
        "revenue_grouping_sets": oracles.revenue_grouping_sets_oracle(),
        "hll_distinct_users": oracles.hll_distinct_users_oracle(),
        "hll_distinct_orders": oracles.hll_distinct_orders_oracle(),
        "cms_token_counts": oracles.cms_token_counts_oracle(),
        "documents_split_summary": oracles.documents_split_summary_oracle(),
        "events_stratified_sample": oracles.events_stratified_sample_oracle(),
        "purchases_with_recent_clicks": oracles.purchases_with_recent_clicks_oracle(),
        "hll_stream_state": oracles.hll_stream_state_oracle(),
        "cms_stream_state": oracles.cms_stream_state_oracle(),
        "bloom_stream_state": oracles.bloom_stream_state_oracle(),
        "ivf_stream_cell_counts": oracles.ivf_stream_cell_counts_oracle(),
        "jpeg_color_decode": oracles.jpeg_color_decode_oracle(),
        "scd2_stream_state": oracles.cdc_scd2_history_oracle(),
        "lsh_stream_state": oracles.minhash_lsh_pairs_oracle(),
        "bm25_top_docs": oracles.bm25_top_docs_oracle(),
        "unigram_surprisal": oracles.unigram_surprisal_oracle(),
        "image_phash_pairs": oracles.image_phash_pairs_oracle(),
        "bigram_surprisal": oracles.bigram_surprisal_oracle(),
        "doc_hash_embedding": oracles.doc_hash_embedding_oracle(),
        "doc_text_knn": oracles.doc_text_knn_oracle(),
        "gopher_quality_rules": oracles.gopher_quality_rules_oracle(),
        "vocab_growth_curve": oracles.vocab_growth_curve_oracle(),
        "audio_fingerprint_pairs": oracles.audio_fingerprint_pairs_oracle(),
        "audio_silence_segments": oracles.audio_silence_segments_oracle(),
        "video_frame_match_pairs": oracles.video_frame_match_pairs_oracle(),
        "video_scene_cuts": oracles.video_scene_cuts_oracle(),
        # the face's drained log equals the batch operator (pair
        # emitted in its later member's batch), so the SAME oracle
        # gates both — like dedup_stream_state vs exact_dedup
        "phash_stream_state": oracles.image_phash_pairs_oracle(),
        # === r10 ===
        "substring_dedup_rewrite": oracles.substring_dedup_rewrite_oracle(),
        "url_canonical_dedup": oracles.url_canonical_dedup_oracle(),
        "host_profile": oracles.host_profile_oracle(),
        # afp face: drained log equals audio_fingerprint_pairs (same
        # pair-in-later-batch protocol as the phash face)
        "afp_stream_state": oracles.audio_fingerprint_pairs_oracle(),
        "vfp_stream_state": oracles.video_frame_match_pairs_oracle(),
        "normalized_exact_dedup": oracles.normalized_exact_dedup_oracle(),
        "url_blocklist_report": oracles.url_blocklist_report_oracle(),
        "html_boilerplate_extract": oracles.html_boilerplate_extract_oracle(),
        "html_extract_quality_funnel": (
            oracles.html_extract_quality_funnel_oracle()
        ),
        "char_entropy_profile": oracles.char_entropy_profile_oracle(),
        "dedup_cascade_report": oracles.dedup_cascade_report_oracle(),
        "orders_profile": oracles.orders_profile_oracle(),
        "interval_overlap_pairs": oracles.interval_overlap_pairs_oracle(),
        "ivo_stream_state": oracles.interval_overlap_pairs_oracle(),
        "name_edit_neighbors": oracles.name_edit_neighbors_oracle(),
        "zordered_box_scan": oracles.zordered_box_scan_oracle(),
        "supplier_customer_linkage": oracles.supplier_customer_linkage_oracle(),
        # edit face: drained pair log equals name_edit_neighbors (the
        # batch self-linkage) — pair-in-later-batch + accumulated
        # variant-cap protocol, so the SAME naive quadratic oracle
        # gates the blocking, the verify, AND the micro-batch split
        "edit_stream_state": oracles.name_edit_neighbors_oracle(),
        # cc face: incremental label merges over the streamed pair log
        # converge to the same components as one-shot CC over the full
        # pair set, so the SAME recursive-CTE oracle gates the pair
        # production, the merge protocol, AND the micro-batch split
        "cc_stream_state": oracles.neardup_clusters_oracle(),
    }
