#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. The FINAL stdout line is the driver-contract
JSON (kept under the driver's 2000-char stdout-tail budget):

  {"metric": "total_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "reps": 2,
   "detail": "BENCH_full.json"}

The full cold/warm breakdown is written to BENCH_full.json (committed
per round) and also printed as two earlier stdout lines; r4's single
giant line lost its cold section to the tail capture — see VERDICT r4.

Each query executes end-to-end into a noop sink (full pipeline runs,
nothing collected to the driver, no disk write measured). A warmup
query first absorbs JVM/session startup.

METHODOLOGY (frozen in r4 — do not change mid-series again):
- REPS = 2, pinned. Each query runs twice back-to-back.
- "cold"  = the first run (includes plan/codegen latency and any
  per-table one-time costs like the routing rule probe),
- "warm"  = min of the remaining runs (JMH-style steady state — what
  predicts cluster throughput, where fixed costs amortize to nothing),
- "queries" + the headline total stay min-of-REPS for series
  continuity with BENCH_r03.
Cross-round comparisons should use warm-vs-warm or cold-vs-cold, never
mixed (the r2->r3 "17% faster" conflated the two; VERDICT r3).
- r6 addendum (hygiene, not a redefinition): an UNTIMED reclaim
  (py GC + clearCache + JVM GC) runs between every rep so localCheck-
  point residue from iterative trainers can't make warm read slower
  than cold in the shared JVM (VERDICT r5 item 2).

"cdc_route_join_distinct" is a bench-only forced run of the
_route_distinct_keys_join fallback (normally dispatch picks the
compiled when-chain for config-sized tables) so the big-rule-table
path keeps a timing trend line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline set: the reference's full data path + the heavy extension and
# relational operators. Names must exist in __spark_entry__.queries()
# or in SPECIAL below.
HEADLINE = [
    "cdc_parse",
    "cdc_counts_inbound",
    "cdc_counts_outbound",
    "cdc_route_join",
    "cdc_route_join_distinct",
    "cdc_outgoing",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_pairs",
    # "embedding_neardup" was demoted from the headline in r5: it is the
    # labeled quadratic anti-pattern baseline (fixed-cardinality label
    # blocking; 27.6x at 10x data, SCALING.md) kept in queries() only as
    # the comparator for embedding_neardup_refined, which carries the
    # headline trend line instead.
    "knn_brute",
    "knn_lsh",
    "knn_ivf",
    "text_stats",
    "doc_fingerprint",
    "tfidf_top_terms",
    "multimodal_features",
    "events_daily",
    "events_last_purchase",
    "purchases_with_recent_clicks",
    "events_sessionized",
    "hll_distinct_orders",
    "q14_promo_revenue",
    "scalar_function_showcase",
    # round 2 additions
    "cdc_materialize",
    "repetition_ratios",
    "pii_redact",
    "contamination_check",
    "quality_filter_funnel",
    "histogram_quantiles",
    # round 3 additions
    "media_decode",
    "q7_volume_shipping",
    "q18_large_volume_orders",
    "bigram_top_pairs",
    "training_mixture_report",
    "cdc_scd2_history",
    "doc_chunks",
    # round 4 additions
    "png_decode",
    "q17_small_quantity",
    "q20_potential_promotion",
    "embedding_neardup_refined",
    "crossdoc_ngram_overlap",
    "token_frequency_score",
    "token_pack_report",
    "source_vocab_divergence",
    "daily_funnel",
    "bpe_merges",
    "daily_reconciliation",
    "embedding_neardup_fps",
    "value_outliers_by_type",
    # round 5 additions
    "q2_min_cost_supplier",
    "q8_market_share",
    "q11_important_parts",
    "q12_shipping_delay",
    "q15_top_supplier",
    "q16_supplier_part_variety",
    "q19_discounted_revenue",
    "q21_waiting_orders",
    "segment_dedup_stats",
    "trigram_gini_diversity",
    "embedding_label_outliers",
    "pq_train_report",
    "knn_pq_adc",
    "jpeg_decode",
    "semdedup_prune",
    "supply_chain_pagerank",
    "temperature_mixture_report",
    "dsir_proxy_weights",
    # round 5 additions, second batch
    "bpe_encode_report",
    "bloom_contamination",
    "quality_classifier_score",
    "bigram_lift_top",
    "dedup_survivors_quality",
    "adaptive_length_filter",
    "event_path_report",
    "neardup_triangles",
    "source_quality_matrix",
    "knn_ivf_pq",
    "knn_ivf_pq_recall",
    # round 6 additions: streaming sink state faces (each stages a file
    # stream and drains the real foreachBatch sink — the timing is the
    # incremental-maintenance trend line, not a pure query) + color JPEG
    "hll_stream_state",
    "cms_stream_state",
    "ivf_stream_cell_counts",
    "scd2_stream_state",
    "jpeg_color_decode",
    # round 7 additions
    "lsh_stream_state",
    "bm25_top_docs",
    "unigram_surprisal",
    # round 8 additions
    "substring_dedup_stats",
    "dedup_stream_state",
    "winnowing_overlap",
    "audio_frame_features",
    "containment_pairs",
    "split_leakage_report",
    "winnowing_pairs",
    # r9 debuts: dHash image near-dup over the real decode path;
    # stupid-backoff bigram LM score; audio energy-contour near-dup
    "image_phash_pairs",
    "bigram_surprisal",
    "audio_fingerprint_pairs",
    "video_frame_match_pairs",
    "video_scene_cuts",
    # streaming face: incremental image-fingerprint index (reported in
    # the faces section like its five siblings)
    "phash_stream_state",
    # late-r9 additions: first-occurrence n-gram novelty profile,
    # VAD-style silence segmentation over the real decode, Bloom
    # membership face (faces section)
    "gram_novelty_profile",
    "audio_silence_segments",
    "bloom_stream_state",
    "source_overlap_matrix",
    "bucketed_join_revenue",
    "partitioned_daily_revenue",
    "knn_ivf_pq_residual",
    "knn_ivf_pq_residual_recall",
    # round 9 (this-session additions)
    "knn_ivf_pq_rerank",
    "knn_ivf_pq_rerank_recall",
    "gopher_quality_rules",
    "vocab_growth_curve",
    "knn_sq8",
    "knn_sq8_recall",
    "neardup_kcore",
    "knn_ivf_filtered",
    "knn_ivf_filtered_recall",
    "knn_mrl",
    "knn_mrl_recall",
    "events_hopping_window",
    "events_retention_cohorts",
    "doc_hash_embedding",
    "doc_text_knn",
    # round 10 additions: duplicate-span removal capstone, URL/host
    # canonicalization family, audio-fingerprint index face (faces
    # section)
    "substring_dedup_rewrite",
    "url_canonical_dedup",
    "host_profile",
    "normalized_exact_dedup",
    "url_blocklist_report",
    "char_entropy_profile",
    "dedup_cascade_report",
    "orders_profile",
    "afp_stream_state",
    # late-r10 additions: temporal-join trio capstone, record-linkage
    # debut, storage-trio Z-order member
    "interval_overlap_pairs",
    "name_edit_neighbors",
    "zordered_box_scan",
    # round 11 additions: SemDeDup over corpus-derived hash vectors,
    # plus the video-index and interval-overlap faces (faces section)
    "semdedup_text_prune",
    "vfp_stream_state",
    "ivo_stream_state",
    # round 12 additions: two-relation record linkage + the
    # edit-distance linkage face (faces section)
    "supplier_customer_linkage",
    "edit_stream_state",
    # round 13 addition: incremental CC cluster maintenance face
    # (faces section)
    "cc_stream_state",
    # round 14 additions: HTML main-content extraction + the curation
    # funnel over the extracted text
    "html_boilerplate_extract",
    "html_extract_quality_funnel",
]


def _route_distinct_keys_query(spark, sf_dir):
    """Force the big-rule-table routing fallback (bench-only; the
    adaptive dispatch would pick the compiled when-chain here)."""
    from flink_kafka_filter_transform_spark.operators import cdc
    from flink_kafka_filter_transform_spark.sources.cdc_fixture import (
        cdc_events_df,
        rules_df,
    )

    parsed = cdc.filter_deletes(cdc.parse_envelope(cdc_events_df(spark, sf_dir)))
    return cdc._route_distinct_keys_join(parsed, rules_df(spark)).select(
        "msg_id", "topic", "db", "table_name", "op", "target_topic"
    )


SPECIAL = {"cdc_route_join_distinct": _route_distinct_keys_query}

REPS = 2  # frozen r4 methodology; see module docstring

# Emitted-JSON schema/methodology version (r8 ADVICE item 3): v1
# (<= BENCH_r07) headline "value" INCLUDED the streaming face drains;
# v2 (BENCH_r08+) excludes them into "faces"/"faces_sec", so a
# cross-version total comparison must use "total_with_faces_sec" (also
# emitted from v2 on) against the old "value". Bump on any change that
# alters what the headline number measures.
METHODOLOGY = 2

# r8 variance guard (VERDICT r7 item 2): the driver-side iterative
# trainers (localCheckpoint loops) are allocation-sensitive in the
# shared bench JVM — supply_chain_pagerank's in-suite warm swung
# 4.8 -> 11.8 s across rounds with NO code change while its isolated
# fresh-JVM series stayed at a ~4-5 s plateau. For tagged queries the
# bench runs 2 EXTRA warm reps and reports warm = median of the 3
# warm runs, so one ambient-GC outlier can no longer own the round's
# headline delta. cold and the min-based "queries"/total come from
# the SAME first-2 reps as every other query (series continuity with
# the frozen r4 methodology — the extra reps only stabilize warm).
LOOP_QUERIES = {
    "supply_chain_pagerank",
    "semdedup_prune",
    "pq_train_report",
    "knn_ivf_pq",
    "knn_ivf_pq_recall",
    "knn_ivf_pq_rerank",       # r9: wraps the same coarse+PQ trainers
    "knn_ivf_pq_rerank_recall",
    "knn_ivf_pq_residual",     # r9: same trainer class (per-cell LUT Lloyd chains)
    "knn_ivf_pq_residual_recall",
    "knn_ivf_filtered",        # r9: same coarse Lloyd trainer
    "knn_ivf_filtered_recall",
    "bpe_merges",
    "dedup_survivors_quality",
    "embedding_neardup_fps",
    "split_leakage_report",  # r8: CC localCheckpoint loop consumer
    "semdedup_text_prune",   # r11: wraps semdedup_prune's trainer loop
}
LOOP_EXTRA_REPS = 2

# r8 (VERDICT r7 item 8): the streaming sink faces stage a file
# stream and drain a real foreachBatch maintenance sink — their
# timing is an incremental-maintenance trend line, not a query cost.
# They are reported in their own "faces" section and EXCLUDED from
# the headline total so cross-round totals compare like with like
# (the r7 headline absorbed 9.2 s of lsh_stream_state debut and read
# as a suite regression). BENCH_full.json carries both sections.
FACE_QUERIES = {
    "afp_stream_state",
    "vfp_stream_state",
    "ivo_stream_state",
    "edit_stream_state",
    "phash_stream_state",
    "dedup_stream_state",
    "bloom_stream_state",
    "hll_stream_state",
    "cms_stream_state",
    "ivf_stream_cell_counts",
    "scd2_stream_state",
    "lsh_stream_state",
    "cc_stream_state",
}


def main() -> None:
    # The driver parses bench stdout's TAIL; the JVM's unified logging
    # prints warnings (e.g. GCLocker retry under memory pressure) to
    # STDOUT asynchronously, and one landing after the final JSON line
    # corrupts the driver artifact the same way r4's oversized line
    # did. JVM options must ride the gateway LAUNCH (builder configs
    # arrive after the driver JVM is already up in local mode), so
    # disable unified-logging output via PYSPARK_SUBMIT_ARGS before the
    # first session is built.
    # Local mode runs ALL executor threads inside the driver JVM; the
    # spark-submit default of 1g for 32 cores was at the GC edge (the
    # r4 run's GCLocker warnings) and tipped into
    # notEnoughMemoryToBuildAndBroadcastTable when the r5 queries
    # landed. Size the heap for the machine (local[32], 128 GiB box).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-memory 24g "
        "--conf spark.driver.extraJavaOptions=-Xlog:disable pyspark-shell"
    )
    from flink_kafka_filter_transform_spark import get_session

    spark = get_session(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    qs.update(SPECIAL)
    # a renamed/removed query must not kill the whole bench run — skip
    # it loudly (stderr) and keep the series going
    missing = [n for n in HEADLINE if n not in qs]
    for n in missing:
        print(f"bench: skipping unknown query {n!r}", file=sys.stderr)

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    def reclaim() -> None:
        """Release block-manager residue BETWEEN timed runs (untimed).

        The iterative trainers localCheckpoint inside their loops;
        checkpointed RDD blocks are only freed once the Python frame is
        GC'd AND the JVM ContextCleaner processes the dead reference.
        In the shared bench JVM, back-to-back reps therefore
        accumulated blocks and warm ran SLOWER than cold on
        pagerank/semdedup/PQ (VERDICT r5 item 2: pagerank 6.42 cold /
        7.21 warm). r6 methodology addendum: reclaim between every rep
        so each timed run sees the same clean block manager; the
        cold/warm DEFINITIONS are unchanged.

        Mechanism choice (A/B'd in r6): unpersist every block the JVM
        still tracks (getPersistentRDDs covers cache() AND
        localCheckpoint blocks) rather than forcing System.gc() — the
        full-GC variant also unloads generated codegen classes and
        taxed warm runs ~10-30% across the suite (crossdoc 1.7 -> 2.4 s
        warm), while unpersist is surgical and measured
        indistinguishable from no-reclaim on residue-free queries."""
        import gc

        gc.collect()  # drop py4j refs so dead frames release their RDDs
        spark.catalog.clearCache()
        # non-blocking removal, explicitly: JavaRDD.unpersist() defaults
        # to blocking=true, and a 5-rep A/B on supply_chain_pagerank
        # showed the blocking variant destabilizes the FOLLOWING timed
        # runs (5.7-9.4 s oscillation vs a 4.0-4.1 s steady state with
        # async removal)
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
        # r7: the streaming sink faces stage source/checkpoint/state
        # under per-run scratch dirs; reclaim them once the timed run
        # has fully consumed the returned state (the noop write did)
        from flink_kafka_filter_transform_spark.streaming.pipeline import (
            cleanup_face_scratch,
        )

        cleanup_face_scratch(spark)

    run("cdc_counts_outbound")  # warmup: JVM + codegen + parquet footer cache
    # warm the Arrow collect path too (route_broadcast_join's rule-table
    # probe is the only collecting query; its first-use init is a
    # session cost, not a per-query cost)
    spark.range(1).limit(1).toArrow()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in HEADLINE:
        if name in missing:
            continue
        reps = REPS + (LOOP_EXTRA_REPS if name in LOOP_QUERIES else 0)
        times = []
        for _ in range(reps):
            times.append(run(name))
            reclaim()
        cold[name] = round(times[0], 3)
        if name in LOOP_QUERIES:
            warm_runs = sorted(times[1:])
            warm[name] = round(warm_runs[len(warm_runs) // 2], 3)  # median
        else:
            warm[name] = round(min(times[1:]), 3)
        # headline min stays min over the FIRST 2 reps for every query
        # (continuity with the frozen REPS=2 series; extra loop-query
        # reps feed only the warm median)
        timings[name] = round(min(times[:REPS]), 3)

    faces = {n: t for n, t in timings.items() if n in FACE_QUERIES}
    timings = {n: t for n, t in timings.items() if n not in FACE_QUERIES}
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    total = round(sum(timings.values()), 3)
    # The driver records only the LAST ~2000 chars of stdout, and r4's
    # single giant JSON line (queries+cold+warm) overflowed it — the
    # artifact lost the cold section mid-stream (BENCH_r04 parsed:
    # null). So: full detail goes to a committed sidecar file, and the
    # FINAL stdout line is the driver-contract JSON kept under the tail
    # budget (asserted, so a future query-set growth fails here loudly
    # instead of silently truncating in the driver artifact).
    full = {
        "metric": "total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "faces": faces,
        "faces_sec": round(sum(faces.values()), 3),
        "total_with_faces_sec": round(total + sum(faces.values()), 3),
        "methodology": METHODOLOGY,
        "cold": cold,
        "warm": warm,
        "sf": sf,
        "reps": REPS,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
    )
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps({"cold_sec": round(sum(cold.values()), 3), "cold": cold}))
    print(json.dumps({"warm_sec": round(sum(warm.values()), 3), "warm": warm}))
    # Keep the FINAL line under the driver's ~2000-char stdout-tail
    # budget: if the full per-query dict would overflow, keep the
    # slowest queries (the trend lines that matter) and say how many
    # were omitted — the complete set is in BENCH_full.json and the
    # cold/warm lines above.
    kept = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    while True:
        payload = {
            "metric": "total_sec",
            "value": total,
            "unit": "sec",
            "queries": kept,
            # r8: maintenance-face drains live in their own section —
            # "value" is the query total only (cross-round comparisons
            # vs <= r7 totals must add faces_sec back)
            "faces": faces,
            "faces_sec": round(sum(faces.values()), 3),
            # the r7-comparable combined number, emitted explicitly so
            # round-over-round tooling can't mis-compare across the
            # methodology boundary (r8 ADVICE item 3)
            "total_with_faces_sec": round(total + sum(faces.values()), 3),
            "methodology": METHODOLOGY,
            # per-methodology-section totals IN the final line, so the
            # driver artifact's parsed JSON carries non-null cold AND
            # warm even if the tail window clips the full per-query
            # cold/warm lines above (VERDICT r4 item 2); the complete
            # breakdown is the committed BENCH_full.json
            "cold_sec": round(sum(t for n, t in cold.items() if n not in FACE_QUERIES), 3),
            "warm_sec": round(sum(t for n, t in warm.items() if n not in FACE_QUERIES), 3),
            "sf": sf,
            "reps": REPS,
            "detail": "BENCH_full.json",
        }
        omitted = len(timings) - len(kept)
        if omitted:
            payload["queries_omitted"] = omitted
        final_line = json.dumps(payload)
        if len(final_line) < 1900 or not kept:
            break
        kept.pop(next(reversed(kept)))  # drop the fastest remaining
    assert len(final_line) < 1900
    # r10 (VERDICT r9 item 7 / What's-wrong 4): name the tail-budget
    # omissions explicitly in the committed sidecar so cross-round
    # audits are mechanical — the stdout line carries only the count.
    full["queries_omitted_names"] = sorted(set(timings) - set(kept))
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(final_line)
    # end-of-run reclaim of the session-lived layout twins
    # (bucketed/partitioned external tables; their scratch is
    # deliberately NOT face scratch — see _layout_scratch)
    from flink_kafka_filter_transform_spark.operators.relational import (
        cleanup_layout_scratch,
    )

    cleanup_layout_scratch(spark)
    spark.stop()


if __name__ == "__main__":
    main()
