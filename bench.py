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
BENCH_full.json also carries, per query under "census", the Spark work
of its last rep (jobs, completed/skipped stages, tasks, task ms,
shuffle bytes, spill), read from the status store outside the timed
region, and the fingerprint of the plan it ran.

This module is also the one measurement harness the studies in tools/
import: session(), warm_up(), run(), reclaim(), job_mark()/census(),
plan_text()/plan_fingerprint(), measure() and close().

Each query executes end-to-end into a noop sink (full pipeline runs,
nothing collected to the driver, no disk write measured). A warmup
query first absorbs JVM/session startup.

METHODOLOGY (frozen in r4 — do not change mid-series again):
- REPS = 2, pinned. Each query runs twice back-to-back.
- "cold"  = the first run (includes plan/codegen latency and any
  per-table one-time costs),
- "warm"  = min of the remaining runs (JMH-style steady state — what
  predicts cluster throughput, where fixed costs amortize to nothing),
- "queries" + the headline total stay min-of-REPS for series
  continuity with BENCH_r03.
Cross-round comparisons should use warm-vs-warm or cold-vs-cold, never
mixed (the r2->r3 "17% faster" conflated the two; VERDICT r3).
- r6 addendum (hygiene, not a redefinition): an UNTIMED reclaim
  (py GC + clearCache + unpersist + face scratch) runs between every
  rep so localCheckpoint residue from iterative trainers can't make
  warm read slower than cold in the shared JVM (VERDICT r5 item 2).
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline set: the reference's full data path + the heavy extension and
# relational operators. Names must exist in __spark_entry__.queries().
HEADLINE = [
    "cdc_parse",
    "cdc_counts_inbound",
    "cdc_counts_outbound",
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


REPS = 2  # frozen r4 methodology; see module docstring

# Emitted-JSON schema/methodology version (r8 ADVICE item 3): v1
# (<= BENCH_r07) headline "value" INCLUDED the streaming face drains;
# v2 (BENCH_r08+) excludes them into "faces"/"faces_sec", so a
# cross-version total comparison must use "total_with_faces_sec" (also
# emitted from v2 on) against the old "value". Bump on any change that
# alters what the headline number measures. v3 drops the bench-only
# forced run of the big-rule-table routing join from the headline (that
# join is gone; routing has one plan). v4 drops three headline queries
# with their operators: the rules-DataFrame routing query (the router
# takes its rules only as a compiled list, timed as cdc_route and
# cdc_outgoing), the sign-LSH knn and the scalar-function showcase.
METHODOLOGY = 4

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


# The final stdout line must fit the driver's ~2000-char stdout-tail
# capture with room to spare (r4's single giant line lost its cold
# section to that window).
TAIL_BUDGET = 1900


def driver_memory_mb(host_bytes: int) -> int:
    """The measurement JVM's heap in MiB for a host whose process may
    use ``host_bytes``: the 24g chosen for the 32-core r4/r5 runs, capped at
    half the host, and never below spark-submit's 1g default. On a
    smaller host a growing heap then fails inside the JVM with an
    OutOfMemoryError instead of taking more than the host has and
    getting the process (or a neighbour) killed."""
    return max(1024, min(24 * 1024, host_bytes // 2 >> 20))


def host_memory_bytes() -> int:
    """Physical memory, lowered to the process's cgroup memory limit
    when one is set (cgroup v2 ``memory.max``, v1
    ``memory.limit_in_bytes``; "max" and the v1 no-limit sentinel are
    larger than any host and so never bind)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def session(app_name: str = "bench", cpus: int = CPUS):
    """The measurement session: local[cpus], 2*cpus shuffle partitions.

    The driver parses bench stdout's TAIL; the JVM's unified logging
    prints warnings (e.g. GCLocker retry under memory pressure) to
    STDOUT asynchronously, and one landing after the final JSON line
    corrupts the driver artifact the same way r4's oversized line did.
    JVM options must ride the gateway LAUNCH (builder configs arrive
    after the driver JVM is already up in local mode), so unified
    logging is disabled via PYSPARK_SUBMIT_ARGS before the first
    session is built. Local mode runs ALL executor threads inside the
    driver JVM; the spark-submit default of 1g for 32 cores was at the
    GC edge (the r4 run's GCLocker warnings) and tipped into
    notEnoughMemoryToBuildAndBroadcastTable when the r5 queries
    landed, so the heap is sized once here for every study, from the
    host (driver_memory_mb)."""
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {driver_memory_mb(host_memory_bytes())}m "
        "--conf spark.driver.extraJavaOptions=-Xlog:disable pyspark-shell"
    )
    from flink_kafka_filter_transform_spark import get_session

    spark = get_session(
        app_name=app_name, master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(spark, query, sf_dir: str = SF_DIR):
    """Wall seconds of one run of ``query`` (a registered name, or a
    ``(spark, sf_dir) -> DataFrame`` callable) into the noop sink, and
    the DataFrame it ran: the full pipeline executes, nothing is
    collected to the driver and no disk write is measured. Building
    the DataFrame is timed too (the eager trainers do their
    driver-paced work there)."""
    import __spark_entry__

    build = __spark_entry__.queries()[query] if isinstance(query, str) else query
    t0 = time.time()
    df = build(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.time() - t0, df


def warm_up(spark, sf_dir: str = SF_DIR) -> None:
    """Absorb session-level one-time costs before any timed run: JVM,
    codegen, the parquet footer cache and the CDC fixture build."""
    run(spark, "cdc_counts_outbound", sf_dir)


def reclaim(spark) -> None:
    """Release block-manager residue and face scratch BETWEEN timed
    runs (untimed).

    The iterative trainers localCheckpoint inside their loops;
    checkpointed RDD blocks are only freed once the Python frame is
    GC'd AND the JVM ContextCleaner processes the dead reference. In
    the shared bench JVM, back-to-back reps therefore accumulated
    blocks and warm ran SLOWER than cold on pagerank/semdedup/PQ
    (VERDICT r5 item 2: pagerank 6.42 cold / 7.21 warm). r6
    methodology addendum: reclaim between every rep so each timed run
    sees the same clean block manager; the cold/warm DEFINITIONS are
    unchanged.

    Mechanism choice (A/B'd in r6): unpersist every block the JVM
    still tracks (getPersistentRDDs covers cache() AND localCheckpoint
    blocks) rather than forcing System.gc() — the full-GC variant also
    unloads generated codegen classes and taxed warm runs ~10-30%
    across the suite (crossdoc 1.7 -> 2.4 s warm), while unpersist is
    surgical and measured indistinguishable from no-reclaim on
    residue-free queries."""
    from flink_kafka_filter_transform_spark.streaming.pipeline import (
        cleanup_face_scratch,
    )

    gc.collect()  # drop py4j refs so dead frames release their RDDs
    spark.catalog.clearCache()
    # non-blocking removal, explicitly: JavaRDD.unpersist() defaults
    # to blocking=true, and a 5-rep A/B on supply_chain_pagerank
    # showed the blocking variant destabilizes the FOLLOWING timed
    # runs (5.7-9.4 s oscillation vs a 4.0-4.1 s steady state with
    # async removal)
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    # r7: the streaming sink faces stage source/checkpoint/state under
    # per-run scratch dirs; reclaim them once the timed run has fully
    # consumed the returned state (the noop write did)
    cleanup_face_scratch(spark)


def close(spark) -> None:
    """End of a measurement session: reclaim (face scratch of a run
    that was never reclaimed, e.g. an ``--explain`` face drain), drop the
    session-lived layout twins (bucketed/partitioned external tables;
    deliberately NOT face scratch — see relational._LAYOUT_SCRATCH),
    then stop."""
    from flink_kafka_filter_transform_spark.operators.relational import (
        cleanup_layout_scratch,
    )

    reclaim(spark)
    cleanup_layout_scratch(spark)
    spark.stop()


def _status_store(spark):
    """The AppStatusStore the Spark UI reads, once every event posted
    so far has reached it (the listener bus is asynchronous)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _stage(store, sid: int):
    """The last attempt of stage ``sid``, or None once the store has
    evicted it. The store keeps spark.ui.retainedStages (1000) stages
    and evicts skipped ones first, so a missing id is a skipped stage
    of the run being counted; a completed one goes only when a single
    run completes ~900 stages."""
    from py4j.protocol import Py4JJavaError

    try:
        return store.lastStageAttempt(sid)
    except Py4JJavaError as e:
        if "NoSuchElementException" not in str(e.java_exception):
            raise
        return None


def job_mark(spark) -> int:
    """Id of the newest job so far (-1 before any): take it before a
    run, hand it to census() after."""
    jobs = _status_store(spark).jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def census(spark, mark: int) -> dict[str, int]:
    """Spark work of every job started after ``job_mark() == mark``:
    jobs, completed and skipped stages, and over the completed stages
    tasks, executor run time, shuffle read/write bytes and disk spill.
    A skipped stage reused an earlier shuffle's output and did no
    work. Deterministic for a deterministic plan, so it is the
    evidence a wall-time delta inside the rep spread cannot be."""
    out = dict.fromkeys(
        ("jobs", "stages", "skipped_stages", "tasks", "task_ms",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0
    )
    store = _status_store(spark)
    jobs = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList()).iterator()
    stages = set()
    while jobs.hasNext():  # newest first
        job = jobs.next()
        if job.jobId() <= mark:
            break
        out["jobs"] += 1
        ids = job.stageIds().iterator()
        while ids.hasNext():
            stages.add(ids.next())
    for sid in stages:
        st = _stage(store, sid)
        if st is None or str(st.status()) == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_ms"] += st.executorRunTime()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.diskBytesSpilled()
    return out


# What a plan printout carries that is not plan shape: expression ids,
# exchange/subquery ids, the session-wide counter suffix of lambda
# variable names (x_17), and the directories of file locations (face
# and layout scratch dirs are fresh per run, fixture caches are keyed
# by a source hash). A location keeps its leaf name, minus any hex key.
_PLAN_NOISE = (
    (re.compile(r",? ?\[(?:plan_id=|id=#)\d+\]"), ""),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"file:[^\s,\]]*/"), "file:"),
    (re.compile(r"(file:[^\s,\]]*?)_?[0-9a-f]{8,}\b"), r"\1"),
)


def plan_text(df) -> str:
    """``df``'s simple-mode explain with _PLAN_NOISE stripped: equal for
    equal plans across sessions and scratch dirs."""
    from flink_kafka_filter_transform_spark.plans.explain import explain_str

    text = explain_str(df, "simple")
    for pattern, repl in _PLAN_NOISE:
        text = pattern.sub(repl, text)
    return text


def plan_fingerprint(df) -> str:
    """sha1 of plan_text(df): the plan-shape field of the census."""
    return hashlib.sha1(plan_text(df).encode()).hexdigest()


def measure(spark, query, reps: int, sf_dir: str = SF_DIR):
    """``reps`` timed runs of ``query`` (as for run()), each followed by
    reclaim(): the walls (s, rounded to ms) and the census of the last
    run, with its DataFrame's plan_fingerprint under "plan" (taken
    after the census read, outside the timed region)."""
    walls = []
    for _ in range(reps - 1):
        walls.append(round(run(spark, query, sf_dir)[0], 3))
        reclaim(spark)
    mark = job_mark(spark)
    wall, df = run(spark, query, sf_dir)
    walls.append(round(wall, 3))
    stats = census(spark, mark)
    stats["plan"] = plan_fingerprint(df)
    del df  # reclaim's gc.collect must find the frame dead
    reclaim(spark)
    return walls, stats


def summarize(timings: dict, cold: dict, warm: dict, sf) -> tuple[dict, str]:
    """BENCH_full.json's content and the final stdout line, from the
    per-query headline (min), cold and warm seconds; faces included.

    Faces are split out of the headline "value". The final line is
    the driver-contract JSON kept under TAIL_BUDGET: if the full
    per-query dict would overflow, it keeps the slowest queries (the
    trend lines that matter) and says how many were omitted; the
    complete set is in BENCH_full.json, which names the omissions
    (r10: cross-round audits stay mechanical)."""
    query_sec = {n: t for n, t in timings.items() if n not in FACE_QUERIES}
    faces = {n: t for n, t in timings.items() if n in FACE_QUERIES}
    total = round(sum(query_sec.values()), 3)
    faces_sec = round(sum(faces.values()), 3)
    kept = dict(sorted(query_sec.items(), key=lambda kv: -kv[1]))
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
            "faces_sec": faces_sec,
            # the r7-comparable combined number, emitted explicitly so
            # round-over-round tooling can't mis-compare across the
            # methodology boundary (r8 ADVICE item 3)
            "total_with_faces_sec": round(total + sum(faces.values()), 3),
            "methodology": METHODOLOGY,
            # per-section totals IN the final line, so the driver
            # artifact carries non-null cold AND warm even if the tail
            # window clips the cold/warm lines printed before it
            # (VERDICT r4 item 2)
            "cold_sec": round(sum(t for n, t in cold.items() if n not in FACE_QUERIES), 3),
            "warm_sec": round(sum(t for n, t in warm.items() if n not in FACE_QUERIES), 3),
            "sf": sf,
            "reps": REPS,
            "detail": "BENCH_full.json",
        }
        omitted = len(query_sec) - len(kept)
        if omitted:
            payload["queries_omitted"] = omitted
        final_line = json.dumps(payload)
        if len(final_line) < TAIL_BUDGET or not kept:
            break
        kept.pop(next(reversed(kept)))  # drop the fastest remaining
    assert len(final_line) < TAIL_BUDGET
    full = {
        **{k: payload[k] for k in ("metric", "value", "unit", "faces", "faces_sec",
                                   "total_with_faces_sec", "methodology", "sf", "reps")},
        "queries": query_sec,
        "cold": cold,
        "warm": warm,
        "queries_omitted_names": sorted(set(query_sec) - set(kept)),
    }
    return full, final_line


def main() -> None:
    import __spark_entry__

    spark = session()
    # a renamed/removed query must not kill the whole bench run — skip
    # it loudly (stderr) and keep the series going
    missing = [n for n in HEADLINE if n not in __spark_entry__.queries()]
    for n in missing:
        print(f"bench: skipping unknown query {n!r}", file=sys.stderr)
    warm_up(spark)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    stats: dict[str, dict] = {}
    for name in HEADLINE:
        if name in missing:
            continue
        reps = REPS + (LOOP_EXTRA_REPS if name in LOOP_QUERIES else 0)
        times, stats[name] = measure(spark, name, reps)
        cold[name] = times[0]
        if name in LOOP_QUERIES:
            warm[name] = sorted(times[1:])[len(times[1:]) // 2]  # median
        else:
            warm[name] = min(times[1:])
        # headline min stays min over the FIRST 2 reps for every query
        # (continuity with the frozen REPS=2 series; extra loop-query
        # reps feed only the warm median)
        timings[name] = min(times[:REPS])

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    full, final_line = summarize(timings, cold, warm, float(m.group(1)) if m else None)
    full["census"] = stats  # the last rep's, per query
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps({"cold_sec": round(sum(cold.values()), 3), "cold": cold}))
    print(json.dumps({"warm_sec": round(sum(warm.values()), 3), "warm": warm}))
    print(final_line)
    close(spark)


if __name__ == "__main__":
    main()
