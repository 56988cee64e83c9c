#!/usr/bin/env python
"""sf3 confirmation point for the dedup/embedding family (VERDICT r5
item 5).

The sf1 audit put embedding_neardup_refined at 10.6x its sf0.1 time
(10x data) and climbing — candidate-pair growth, not a quadratic, but
close enough to the 15x gate to deserve a third point on the curve.
This study runs the dedup family at sf1 AND sf3 (3x sf1) in one
session, 2 reps each (min kept), and reports sf3/sf1 ratios: a healthy
near-linear operator lands ~<=3x at 3x the data; the gate flags
anything past SUPERLINEAR_X (4.5x, the same 1.5x slack the sf1 gate
uses relative to its data factor).

Usage:
  python tools/gen_testdata.py --sf 3 --out testdata_local/sf3
  python tools/bench_sf3_dedup.py

Writes BENCH_sf3_dedup.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

SF1_DIR = os.path.join(ROOT, "testdata_local", "sf1")
SF3_DIR = os.path.join(ROOT, "testdata_local", "sf3")
SUPERLINEAR_X = 4.5  # 1.5x slack over the 3x data factor

# The family VERDICT r5 item 5 names, plus the two documented
# candidate-growth trackers from the sf1 audit.
FAMILY = [
    "embedding_neardup_refined",
    "embedding_neardup_fps",
    "semdedup_prune",
    "neardup_triangles",
    "minhash_lsh_pairs",
    "crossdoc_ngram_overlap",
    "contamination_check",
    # r7: the two blocked-pair trackers never given an sf3 point —
    # simhash_pairs was 8.15x at 10x data in the sf1 audit (VERDICT r6
    # item 3: fixed 4x256-bucket chunk blocking, the same
    # fixed-cardinality anti-pattern embedding_neardup_fps was
    # convicted of); ngram_jaccard_pairs shared the mh0-blocked shape
    # until r8 moved it onto the banded lsh_candidates generator
    # (958k -> 135k sf1 candidates, 185 -> 21 s; SCALING.md r8)
    "simhash_pairs",
    "ngram_jaccard_pairs",
    # r8: the two new span-evidence ops (stride-1 windows / winnowing
    # fingerprints); substring's first cut measured 5.38x and was
    # re-planned to one window pass (SCALING.md r8)
    "substring_dedup_stats",
    "winnowing_overlap",
    # r7: the CC-loop consumer — added after connected_components
    # gained its persisted edge relation (the unmaterialized loop
    # re-derived the MinHash pipeline per label hop; ~3x at sf1)
    "dedup_survivors_quality",
    # r8: the prefix-filtered containment join (see ATTRIBUTED below
    # for why its ratio on THIS corpus is expected superlinear)
    "containment_pairs",
    # r8: the MOSS ranked-pair readout (capped fp join + TakeOrdered;
    # fresh-JVM debut series 2.4 s sf0.1 / 7.4 s sf1)
    "winnowing_pairs",
    # r9 (VERDICT r8 item 8): the two r8 debuts that had sf1 points
    # only — map-only audio framing, and the streaming first-seen
    # ledger face (drain cost scales with the corpus drained)
    "audio_frame_features",
    "dedup_stream_state",
    # r9 debuts: dHash pair join over the real decode path; the
    # bigram-backoff LM score (pair-keyed count + scoring joins); the
    # audio energy-contour near-dup (same chunk-join shape as phash)
    "image_phash_pairs",
    "bigram_surprisal",
    "audio_fingerprint_pairs",
    # r9: per-frame dHash video near-dup (one-pass bucket-collect pair
    # expansion — the corpus is decoded exactly once)
    "video_frame_match_pairs",
    # r9: map-only scene segmentation (same decode family)
    "video_scene_cuts",
    # late r9: first-occurrence novelty (single-shuffle gh agg +
    # vocabulary-sized rollup — the no-join-back redesign's point);
    # map-only VAD segmentation; the OR-merge Bloom face (drain cost
    # scales with the corpus drained, state fixed at 64 rows)
    "gram_novelty_profile",
    "audio_silence_segments",
    "bloom_stream_state",
    # late r9: source-pair containment (collect_set bounded by the
    # source dimension; pairs expand from vocabulary-sized agg output)
    "source_overlap_matrix",
    # late r9: residual-encoded IVF-PQ (frozen codebooks, per-cell
    # LUTs; the candidate join is the one corpus-sized shuffle)
    "knn_ivf_pq_residual",
    # late r9 (second batch): the refine-stage rerank (shortlist
    # broadcast onto one true-vector scan — should track
    # knn_ivf_pq_residual's curve), the SQ8 code-table scan, the
    # Gopher one-pass ruleset, the Heaps-curve single-explode, and
    # k-core peeling (pairs + iterative survivor semi-joins — the CC
    # loop's scaling sibling)
    "knn_ivf_pq_rerank",
    "knn_ivf_filtered",
    "knn_sq8",
    "gopher_quality_rules",
    "vocab_growth_curve",
    "neardup_kcore",
    "knn_mrl",
    "events_hopping_window",
    "events_retention_cohorts",
    "doc_text_knn",
    # r10 debuts: duplicate-span removal (stride-1 position volume +
    # the one text-shuffling span join — substring_dedup_stats'
    # scaling sibling with a splice stage), the URL/host family (pure
    # map + one agg each — should be flat-linear), the CCNet
    # normalize-then-hash key (exact_dedup's curve), and the audio
    # index face (drain cost scales with the corpus drained)
    "substring_dedup_rewrite",
    "url_canonical_dedup",
    "host_profile",
    "url_blocklist_report",
    "normalized_exact_dedup",
    "char_entropy_profile",
    "dedup_cascade_report",
    "afp_stream_state",
    # late-r10 debuts: interval overlap (pair volume tracks per-cell
    # density — constant-per-supplier in this fixture, so expect
    # ~linear in row count), symmetric-delete linkage (variant volume
    # linear; block sizes bounded by true near-dup counts), and the
    # Z-order box scan (min kept = the MEMOIZED-twin pruned scan —
    # the one-time clustered write lands in rep 1 and is excluded by
    # the min, so the curve tracks the query's I/O, which is the
    # layout's point).
    "interval_overlap_pairs",
    "name_edit_neighbors",
    "zordered_box_scan",
    # r11 debuts: SemDeDup over corpus-derived hash vectors (hash-
    # embedding agg + the cluster-blocked pair join — semdedup_prune's
    # curve plus one explode/agg stage), the video-index face (drain
    # cost scales with the corpus drained, like its siblings), and the
    # interval-overlap face (per-batch bucketed probes against a
    # growing index — the index probe volume is what to watch).
    "semdedup_text_prune",
    "vfp_stream_state",
    "ivo_stream_state",
]

# Ops whose superlinear sf3 ratio is ATTRIBUTED — measured, root-caused
# to the corpus rather than the plan, and counter-evidenced on data
# where the distinction shows — not an open conviction. Reruns report
# them under "attributed" instead of "outliers" so the gate stays
# meaningful for everything else.
ATTRIBUTED = {
    "containment_pairs": (
        "zero-selectivity floor: the 31-word synthetic vocabulary has "
        "31^3 = 29,791 distinct shingles, ALL corpus-hot (df ~ N/340), "
        "so candidate volume for EXACT containment is inherently ~N^2 "
        "— most doc pairs genuinely share many shingles and no "
        "lossless filter can prune dense pair signal; the Zipfian sf1 "
        "corpus (tools/gen_testdata.py --zipf-vocab; median shingle "
        "df=1) yields 1,354 candidates vs 25.1M here (18,500x) and "
        "6.6 s wall vs 14 s — SCALING.md r8 containment section"
    ),
}

REPS = 2


def main() -> None:
    # --only a,b,c : run a SUBSET of FAMILY and MERGE the rows into the
    # existing BENCH_sf3_dedup.json instead of overwriting it (the
    # pattern the winnowing_pairs / containment_zipf rows established:
    # targeted points between full-family reruns keep curated row
    # notes intact).
    only: list[str] | None = None
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        only = sys.argv[2].split(",")
        unknown = [n for n in only if n not in FAMILY]
        assert not unknown, f"not in FAMILY: {unknown}"
    spark = bench.session("bench-sf3-dedup")
    bench.warm_up(spark, SF1_DIR)
    results: dict[str, dict[str, float]] = {}
    for name in only if only is not None else FAMILY:
        per_sf: dict[str, float] = {}
        for key, d in (("sf1", SF1_DIR), ("sf3", SF3_DIR)):
            walls, _ = bench.measure(spark, name, REPS, d)
            per_sf[key] = min(walls)
            print(f"{name} {key}: {per_sf[key]:.2f}s", flush=True)
        per_sf["ratio"] = round(per_sf["sf3"] / per_sf["sf1"], 2)
        results[name] = per_sf
    path = os.path.join(ROOT, "BENCH_sf3_dedup.json")
    if only is not None and os.path.exists(path):
        with open(path) as f:
            out = json.load(f)
        out["results"].update(results)
    else:
        out = {
            "data_factor": 3,
            "cpus": bench.CPUS,
            "reps": REPS,
            "superlinear_threshold_x": SUPERLINEAR_X,
            "results": results,
        }
    allres = out["results"]
    over = {n: r for n, r in allres.items() if r["ratio"] > SUPERLINEAR_X}
    out["outliers"] = sorted(
        (
            n
            for n in over
            if n not in ATTRIBUTED and not n.endswith(("_precap_r7", "_r7_mh0_blocking"))
        ),
        key=lambda n: -allres[n]["ratio"],
    )
    out["attributed"] = {n: ATTRIBUTED[n] for n in over if n in ATTRIBUTED}
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"ratios": {n: r["ratio"] for n, r in results.items()},
                      "outliers": out["outliers"]}))
    bench.close(spark)


if __name__ == "__main__":
    main()
