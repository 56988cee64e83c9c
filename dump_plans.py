#!/usr/bin/env python
"""Regenerate PLANS.md: the physical plans of the headline queries, as
evidence that every operator compiles to the plan you'd want at 100 TB
(broadcasts where bounded, single shuffles, pruned scans, codegen).

Run after changing any operator: ``python dump_plans.py``. The plan
GATES live in tests/test_plans.py — this file is the human-readable
companion, regenerated rather than hand-maintained.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__  # noqa: E402
import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (query, why this plan matters at scale)
SHOWCASE = [
    ("cdc_outgoing", "the reference's full O2-O7 path: ZERO exchanges, one codegen span"),
    ("cdc_route_join", "dynamic-rule routing: the rules DataFrame is collected once (memoized probe) and compiled into the zero-shuffle when-chain; a table over ROUTE_COMPILE_MAX_RULES rows is rejected"),
    ("cdc_materialize", "changelog compaction: one shuffle, map-side partial max_by"),
    ("q5_local_supplier_volume", "all dimensions broadcast; the fact table shuffles only for aggregation"),
    ("q1_pricing_summary", "pruned scan (7 columns), pushed filter, two-phase aggregate"),
    ("tfidf_top_terms", "no pinned broadcast of the unbounded vocabulary; AQE decides by size"),
    ("minhash_lsh_pairs", "banded LSH: candidate join only within buckets, never all-pairs"),
    ("ngram_jaccard_pairs", "r8: banded-LSH candidates (shared with minhash_lsh_pairs) + lossless length-bound prune BEFORE the gram arrays join"),
    ("substring_dedup_stats", "stride-1 window hashes: ONE corpus pass (single posexplode), shared mark = min/max gh window — the measured 2-6x winner over the 'skew-safe' agg+rejoin at every A/B point incl. the boilerplate corpus (BENCH_substring_boiler.json); r10: skew_safe=None AUTO-selects via the sampled hot-gram probe, flipping to the AQE-splittable variant past ~1e8 positions/gram; islands window over SHARED rows only, closed-form totals"),
    ("winnowing_overlap", "winnowing: one doc-keyed sort window for the w-min, fp-keyed agg; no broadcast"),
    ("containment_pairs", "prefix-filtered containment join: df agg + rank window + posting equi-join (8-byte hash keys), positional+size bounds BEFORE the pair exists, arrays ship only for survivors; no broadcast, no cartesian"),
    ("winnowing_pairs", "MOSS pair ranking: bucket-capped fp self-join, TakeOrderedAndProject top-N (no global sort, no ranking window)"),
    ("knn_ivf", "codebook + probe broadcast; scan restricted to probed cells"),
    ("contamination_check", "eval grams broadcast; per-doc aggregate is the only shuffle"),
    ("events_last_purchase", "as-of via union+window: one hash partition, no join operator"),
    ("purchases_with_recent_clicks", "range join as bucketed equi-join: hash join, never nested-loop"),
    ("repetition_ratios", "pure map plan: Catalyst higher-order functions, zero exchanges"),
    ("hll_rollup_users", "per-day HLL registers merged by a second max — sketches re-slice without raw data"),
    ("mixture_sample_summary", "mixture weights compile to broadcast thresholds; corpus filtered map-side"),
    ("quality_filter_funnel", "every quality flag in one map pass; a single global aggregate emits the funnel"),
    ("media_decode", "real PPM/WAV decode: two map-only Arrow stages, zero exchanges"),
    ("q18_large_volume_orders", "HAVING rollup on the fact table alone; only qualifying orderkeys join onward"),
    ("training_mixture_report", "full pipeline in one plan: 16-byte dedup shuffle, semi-join winners, map-only quality+split, tiny final aggregate"),
    ("events_group_reservoir", "per-stratum reservoir: window over projected (stratum, key, hash) triples only"),
    ("crossdoc_ngram_overlap", "gram-count join reuses the gh hash partitioning; zero broadcasts (both sides corpus-sized)"),
    ("token_frequency_score", "vocabulary never broadcast; only the 1-row grand total is pinned"),
    ("token_pack_report", "packing cumsum partitioned BY SOURCE — no single-task global window"),
    ("daily_funnel", "conditional-min funnel: two shuffles, map-side combine, no windows or joins"),
    ("embedding_neardup_refined", "quantizer-refined near-dup: broadcast k-means codebook, pair join blocked by (label, subcell)"),
    ("daily_reconciliation", "FULL OUTER over day-level pre-aggregations: the join side carries ~one row per day regardless of input size"),
    ("bpe_merges", "iterative BPE: per step one map-side-combined pair count, a broadcast 1-row top pair, a map-only rewrite"),
    ("q2_min_cost_supplier", "correlated-MIN decorrelated: one fact shuffle builds the supply catalog; part filter, regional suppliers, and the per-part min all broadcast back"),
    ("q11_important_parts", "global-scalar HAVING: 1-row total broadcast onto part-cardinality rows; all-DECIMAL threshold"),
    ("segment_dedup_stats", "span-dedup signal: segments travel as 60-bit hashes; gh-keyed count + partitioning-reusing join, zero broadcasts"),
    ("semdedup_prune", "SemDeDup: codebook broadcasts per Lloyd step; pair join cluster-blocked; report aggregates to k rows"),
    ("supply_chain_pagerank", "integer fixed-point PageRank: checkpointed edge list, the same two-exchange pattern per round, flat final plan"),
    ("temperature_mixture_report", "one corpus scan pinned at the per-source aggregate; 1-row (total, max) broadcast back"),
    ("bpe_encode_report", "BPE encode: the trained merges ride in as broadcast 1-row relations; the per-doc rewrite adds ZERO exchanges over training"),
    ("bloom_contamination", "Bloom membership: ≤64-row register relation broadcast to in-row probes; one doc-keyed aggregate is the only corpus shuffle"),
    ("quality_classifier_score", "hashed linear classifier: weights derived in-row from the feature hash — a zero-shuffle scoring pass"),
    ("bigram_lift_top", "collocation lift: count-relation aggregations + vocabulary joins with NO pinned broadcast; only the 1-row totals ride a hint"),
    ("dedup_survivors_quality", "quality-aware survivors: zero-shuffle classifier joined to CC clusters, winner via one integer struct-max aggregation"),
    ("adaptive_length_filter", "exact per-source length quantiles from the value-count grid — the corpus is never sorted; cutoffs broadcast back"),
    ("event_path_report", "session transition mining: both windows + the collect ride one user_id partitioning; path counts are |types|^n rows"),
    ("neardup_triangles", "oriented triangle enumeration: wedge join on the middle vertex, closure semi-join reuses edge partitioning, zero data broadcasts"),
    ("source_quality_matrix", "per-source curation dashboard: every flag + the classifier fold in ONE map pass, one source-keyed aggregation"),
    ("knn_ivf_pq", "two-level ANN: codebooks/probes/LUTs broadcast; the single corpus-sized join (candidates x codes) deliberately shuffles"),
    ("jpeg_color_decode", "real 4:2:0 color JPEG decode: two map-only Arrow stages, zero exchanges"),
    ("embedding_neardup_fps", "farthest-seeded near-dup: capped FPS traversal + adaptive fill, same broadcast-codebook pair-join shape as _refined"),
    ("simhash_pairs", "simhash near-dup: chunk-bucket candidates CAPPED (r7 — sum(bucket^2) bounded at N*cap), hamming verify on 60-bit ints"),
    ("bm25_top_docs", "BM25 retrieval: bounded query-term relation broadcast; tf/df/doclen share the term shuffle; decimal-exact score sums"),
    ("unigram_surprisal", "unigram-LM filter: vocabulary never broadcast (term-keyed join), only the 1-row total pinned; integer-exact bit surprisal"),
    ("audio_frame_features", "frame-level PCM features: decode + framing + energy/ZCR folds in ONE Arrow mapInPandas stage, zero exchanges (frame rows never travel)"),
    ("image_phash_pairs", "image near-dup: dHash rides the map-only Arrow decode stage; capped (ci,ck) bucket-collect + map-side pair expansion + bit_count verify; nothing broadcast, corpus decoded exactly once"),
    ("bigram_surprisal", "bigram-backoff LM score: map-side zipped pairs, three corpus shuffles (pair count, unigram count, pair-keyed scoring join); only the 1-row totals broadcast, scoring joins pinned shuffle-hash"),
    ("audio_fingerprint_pairs", "audio near-dup: energy-contour fingerprint rides the map-only Arrow decode stage; one-pass capped bucket-collect pair expansion (no self-join: corpus decoded exactly once)"),
    ("video_frame_match_pairs", "video near-dup: real container demux + per-frame dHash in one Arrow stage; capped frame-hash buckets, map-side pair expansion, matched-frame threshold — no join operator in the plan at all"),
    ("video_scene_cuts", "video scene segmentation: demux + decode + dHash + adjacent-frame Hamming + run fold in ONE map-only Arrow stage, zero exchanges (a video's frames arrive together in its blob)"),
    ("split_leakage_report", "eval-integrity audit: LSH-bounded pairs + persisted-edge CC + map-only split composed in one plan; report aggregates to 3 rows, leaked_pairs_final provably 0"),
    # Streaming sink faces: their query fns DRAIN a real stream before
    # returning the state reader, so a dumped plan shows only the
    # final state/pair-log scan — the maintenance plans are asserted
    # in tests/test_streaming.py. PLANS.md still carries a section per
    # face (VERDICT r8 item 4 established the convention with
    # dedup_stream_state; r9 item 7 extended it to every face) with
    # the caveat stated in each section's why-line. hll/cms/ivf/scd2/
    # lsh faces predate the convention and remain covered by their
    # sink gates; the newer faces get sections below.
    ("dedup_stream_state", "first-seen dedup ledger FACE: dumped plan = the post-drain published-state read (last revision per hash — min first_doc_id, max n_suppressed — over the declared-schema _batch_id partitions); the incremental maintenance plan is the applyInPandasWithState sink, gated in tests/test_streaming.py"),
    ("gram_novelty_profile", "first-occurrence novelty: the exploded relation shuffles EXACTLY ONCE (gh-keyed min agg); novel counts roll up the agg's own vocabulary-sized output, never joining the corpus back; only a doc-keyed join of two per-doc relations"),
    ("audio_silence_segments", "VAD segmentation: decode + framing + energy + threshold + run-length fold in ONE map-only Arrow stage, zero exchanges; ~10 fixed-width rows per clip"),
    ("source_overlap_matrix", "source-pair containment: one gh-keyed collect_set agg (state bounded by the source dimension), map-side pair expansion, <= |sources|^2 cell rows; only the diagonal broadcast"),
    ("bucketed_join_revenue", "storage-bucketed fact-to-fact join: both scans pre-hashed into the same 8 buckets on the order key. At this dump's toy SF, AQE (correctly) broadcasts; the at-scale shape — SMJ with NO exchange under the join, ONE shuffle in the whole query — is pinned broadcast-disabled by test_bucketed_join_no_exchange_under_the_join"),
    ("partitioned_daily_revenue", "date-partitioned pruning: the day predicate lands in PartitionFilters — 1 of ~30 day directories opened, one rollup shuffle"),
    ("knn_ivf_pq_residual", "residual IVF-PQ: coarse codebook + per-cell residual LUTs (nprobe*m*k rows/query) broadcast; candidate join shuffle (corpus-sized, never broadcast); decimal-exact ADC sums"),
    ("knn_ivf_pq_rerank", "refine-stage IVF-PQ: the ADC shortlist (queries x shortlist rows, broadcast-sized BY CONSTRUCTION) and the query vectors ride broadcasts onto ONE true-vector corpus scan; the only sort-merge join stays the inherited ADC candidates x codes join"),
    ("gopher_quality_rules", "published Gopher ruleset: all five integer-boundary flags + the survivor conjunction in ONE map pass, a single global agg emits 7 fixed-width rows — 1 shuffle, no join, 1 scan"),
    ("vocab_growth_curve", "Heaps-law curve: corpus explodes ONCE into the token-keyed min(doc_id) agg (map-side combined); both rollups land on <= n_buckets rows, so the cumulative window is single-partition by construction; only the 1-row max-doc_id broadcasts"),
    ("knn_sq8", "SQ8 scalar-quantizer search: per-dim training stats collapse to ONE broadcast row; encoding map-side; one pass over the code table with query codes broadcast — zero sort-merge joins"),
    ("neardup_kcore", "k-core peeling: persisted symmetrized edges semi-joined against checkpointed survivors each round (stable vertex partitioning), one map-side-combined degree agg + a 1-row count fixpoint per round"),
    ("knn_ivf_filtered", "filtered IVF: the label predicate runs THROUGH the index — inside the broadcast probed-cells join, widened probing as the selectivity compensation; no post-filter pass, no extra scan"),
    ("knn_mrl", "Matryoshka prefix-dim search: the truncation happens IN the scan projection (no second pass, no stored copy); knn_brute's one-scan shape on 1/4-width vectors"),
    ("events_hopping_window", "hopping-window rollup: native F.window plans a map-side Expand (x overlap factor, no shuffle of its own), then ONE keyed aggregate with map-side combine — never a self-join"),
    ("events_retention_cohorts", "retention triangle: user-keyed min agg, join-back reuses the same user partitioning, distinct rollup to <= |days| x (max_k+1) rows; zero broadcasts (first-seen is corpus-scale)"),
    ("doc_text_knn", "text-corpus cosine search: sparse idx equi-join IS the candidate generator (no cross join); query rows + norms broadcast; integer dot/norms, one double division per pair"),
    ("doc_hash_embedding", "hashing-trick doc vectors: tokenize + hash + signed bucket sum in one exploded pass, ONE (doc_id, idx)-keyed aggregate — no vocabulary relation, no join, no broadcast (r9 PLANS gap, VERDICT r9 item 7)"),
    # r10 debuts
    ("substring_dedup_rewrite", "duplicate-span removal: ONE corpus posexplode, single min-over-gh window marks cut positions, islands lag/cumsum over CUT rows only, splice = Catalyst HOF fold over each doc's span array — text shuffles exactly once (the span join back onto documents); AUTO hot-gram gate swaps in the AQE-splittable agg plan past the straggle line"),
    ("url_canonical_dedup", "URL dedup groups: regex canonicalization entirely in the map stage (whole-stage codegen), ONE canonical_url-keyed aggregate — no join, no broadcast (canonical URLs are corpus-sized)"),
    ("host_profile", "per-host crawl profile: same map stage, ONE host-keyed aggregate with two count-distinct expansions; Zipfian host skew lands in map-side combine, never a window"),
    ("normalized_exact_dedup", "CCNet normalize-then-hash dedup: the regex normalization chain rides the map stage (codegen), ONE hash-keyed aggregate — raw text never shuffles, no join, no broadcast"),
    ("url_blocklist_report", "first-match URL blocklist: canonicalization + CASE chain in one map pass, ONE global conditional aggregate, 5 fixed rows via stack — no join, no broadcast"),
    ("char_entropy_profile", "char-entropy compressibility signal: one char explode, (doc,ch)-keyed count with map-side combine, doc-keyed floor-log2 rollup — two aggregate shuffles, no join, no broadcast"),
    ("dedup_cascade_report", "dedup cascade funnel: url/normalized stages are one keyed agg + one partitioning-reusing semi-join each; the banded-LSH pair op rides in unchanged; one conditional rollup emits 4 fixed rows"),
    ("orders_profile", "per-column profiling: every statistic folds into ONE global aggregate over ONE scan (count-distincts expand into the standard multi-phase partial), stack emits |columns| rows — no join, no broadcast"),
    ("interval_overlap_pairs", "interval x interval overlap (r10): day-axis bucketing restores an EQUI join on (supplier, bucket) — fan-out <= 2 buckets/interval — overlap + bucket-ownership predicates ride as post-filters (exactly-once without a distinct); the naive per-key nested loop never appears. PINNED shuffle_hash (both sides ARE the corpus): Catalyst's size estimate through the explode broadcast 12M rows at sf1 — 22.9 s vs 4.7 s once pinned; AQE skew-split still applies to shuffled hash joins"),
    ("name_edit_neighbors", "symmetric-delete record linkage (r10): variant explode (fan-out <= len+1) -> ONE variant-keyed aggregate into capped blocks -> map-side pair expansion -> distinct -> built-in levenshtein verify; NO join operator in the plan, nothing broadcasts"),
    ("zordered_box_scan", "Z-ordered 2-D box scan (r10): both range predicates reach the reader as PushedFilters over the Morton-clustered twin; file-level min/max skipping measured from real footers in test_plans (the storage trio's multi-dimensional member)"),
    # r11 debuts
    ("semdedup_text_prune", "SemDeDup from TEXT (r11): hashing-trick sparse vectors densify via ONE map_from_entries aggregate + sequence/transform fill (no pivot join), then semdedup_prune's chain unchanged — codebook broadcasts per Lloyd step, pair join cluster-blocked, report aggregates to k rows"),
    # r12 debuts
    ("supplier_customer_linkage", "TWO-relation linkage (r12): the smaller master aggregates into capped variant blocks (one shuffle), the probe side's exploded variants equi-join the index UNHINTED (Catalyst broadcasts the small index; a shuffle join is the right call at other ratios), pair distinct, JVM levenshtein verify — no cartesian, each relation scanned once"),
    ("bpe_encode_report", "BPE encode after the r12 lineage fix: the visible plan is the final map-only select over the last checkpointed rewrite (zero shuffles/joins/parquet scans); the per-step pair-count aggregates run inside the loop over checkpointed rows — the steps-squared recompute is gone"),
    # r14 debuts
    ("html_boilerplate_extract", "HTML main-content extraction (r14): ONE map stage — regexp split on closing block tags, per-piece tag/content extracts, inline-tag strip, array HOF filter on the integer keep rule, array_join — zero Exchange anywhere (plan-gated); the scan is the whole cost at any scale"),
    ("html_extract_quality_funnel", "extraction -> curation funnel (r14): the same map stage feeding ONE global conditional aggregate (partial/final pair) + stack to 4 fixed rows — the crawl-order composition (boilerplate removal upstream of quality gates)"),
    # streaming faces with PLANS sections (VERDICT r9 item 7): as with
    # dedup_stream_state, the dumped plan is the POST-DRAIN published
    # state/pair-log read; the incremental maintenance plans are gated
    # in tests/test_streaming.py.
    ("phash_stream_state", "image-index FACE: dumped plan = the post-drain pair-log read (_batch_id partitions); the per-batch chunk/cap/probe/verify plan is the shared _fingerprint_index_batch engine, gated in tests/test_streaming.py"),
    ("afp_stream_state", "audio-index FACE (r10): dumped plan = the post-drain pair-log read; same shared-engine maintenance plan as the image face, proven once in tests/test_streaming.py"),
    ("vfp_stream_state", "video-index FACE (r11): dumped plan = the post-drain pair-log read; the per-batch demux/cap/probe/COUNT maintenance plan (the triad's count path — exact fh matching, >= VID_MIN_MATCH) is gated in tests/test_streaming.py"),
    ("ivo_stream_state", "interval-overlap FACE (r11): dumped plan = the final supplier-cardinality osum state read; the per-batch bucketed/ownership probe + sum-merged monoid rollup (pinned shuffle_hash) is gated in tests/test_streaming.py"),
    ("edit_stream_state", "edit-linkage FACE (r12): dumped plan = the post-drain pair-log read (_batch_id partitions); the per-batch variant explode/cap/probe/levenshtein maintenance plan is gated in tests/test_streaming.py"),
    ("cc_stream_state", "cluster-maintenance FACE (r13; r14 rework): dumped plan = the post-drain read of the published label version + one count aggregate + the size join (exactly how batch neardup_clusters derives its output from the component relation); the per-batch label-edge lift / bounded union-find (distributed CC past the cap) / broadcast-remap / label-version publication plan is gated in tests/test_streaming.py"),
    ("bloom_stream_state", "Bloom membership FACE: dumped plan = the final <= 64-register state read; the OR-merge maintenance plan (replay- and duplicate-delivery-idempotent by algebra) is gated in tests/test_streaming.py"),
]


def main() -> None:
    from flink_kafka_filter_transform_spark.plans import explain as px

    spark = bench.session("dump_plans", cpus=4)
    qs = __spark_entry__.queries()

    out = [
        "# PLANS — headline physical plans\n",
        "Generated by `python dump_plans.py` (simple-mode explain at "
        f"`{SF_DIR}`); plan-quality assertions are enforced in "
        "`tests/test_plans.py`. Regenerate after operator changes.\n",
    ]
    import re

    for name, why in SHOWCASE:
        df = qs[name](spark, SF_DIR)
        plan = px.explain_str(df, "simple").rstrip()
        # mask per-session scratch paths (layout twins, face state) so
        # regeneration is deterministic — a regenerate-and-compare file
        # must not diff on mkdtemp suffixes (r9 review finding)
        plan = re.sub(
            r"/tmp/sgraft_[A-Za-z0-9_]+", "/tmp/sgraft_<scratch>", plan
        )
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan}\n```\n")

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")
    bench.close(spark)


if __name__ == "__main__":
    main()
