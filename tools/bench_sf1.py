#!/usr/bin/env python
"""sf1 scale spot-check (VERDICT r3 item 8).

Runs every bench.py headline query ONCE (cold) against locally
generated sf1 testdata (tools/gen_testdata.py — 10x the per-round
bench's sf0.1) and compares each time against a reference sf0.1
timing set. A healthy (linear-or-better) operator should run ~<=10x
its sf0.1 time at 10x the data on the same 32 cores; the gate flags
anything past SUPERLINEAR_X (15x, slack for shuffle/spill effects) so
a hidden quadratic can't hide behind a green sf0.1 bench.

Writes BENCH_sf1.json at the repo root:
  {"sf": 1, "queries": {...}, "ratio_vs_sf01": {...},
   "outliers": [...], "sf01_ref": {...}}

Usage:
  python tools/gen_testdata.py --sf 1
  python tools/bench_sf1.py [--ref BENCH_r03.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

SF1_DIR = os.path.join(ROOT, "testdata_local", "sf1")
SUPERLINEAR_X = 15.0


def _load_ref(path: str) -> dict[str, float]:
    """Per-query sf0.1 cold timings from a driver BENCH_r*.json (which
    wraps the bench.py JSON line in a 'parsed'/'tail' envelope) or from
    a raw bench.py output line."""
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d:
        d = d["parsed"] if isinstance(d["parsed"], dict) else json.loads(d["parsed"])
    # cold-vs-cold when the ref has it (r4+ methodology); r3 refs only
    # carry min-of-2 — slightly flattering for the ref side, i.e. the
    # conservative direction for a superlinearity gate.
    return d.get("cold") or d["queries"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default=os.path.join(ROOT, "BENCH_r03.json"))
    ap.add_argument("--sf-dir", default=SF1_DIR)
    args = ap.parse_args()

    ref = _load_ref(args.ref)
    spark = bench.session("bench-sf1")

    def run(name: str) -> float:
        return bench.measure(spark, name, 1, args.sf_dir)[0][0]

    # also builds the CDC fixture parquet cache, a one-time
    # materialization that must not be billed to the first cdc query
    t0 = time.time()
    bench.warm_up(spark, args.sf_dir)
    print(f"warmup+fixture-build: {time.time() - t0:.1f}s", flush=True)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in bench.HEADLINE:
        try:
            t = run(name)
        except Exception as e:  # record and keep going: one blown query
            errors[name] = str(e).split("\n")[0][:300]  # must not hide the rest
            print(f"{name}: ERROR {errors[name][:120]}", flush=True)
            continue
        timings[name] = t
        r = ref.get(name)
        ratio = f" ({t / r:.1f}x sf0.1)" if r else ""
        print(f"{name}: {t:.2f}s{ratio}", flush=True)

    ratios = {
        n: round(timings[n] / ref[n], 2) for n in timings if n in ref and ref[n] > 0
    }
    # CONFIRM outliers before reporting them: a 76-query shared-JVM
    # session accumulates GC/code-cache noise that can inflate an
    # individual query 3-8x over its fresh-JVM time (r5: doc_chunks
    # measured 8.4s in-session vs 3.1s isolated). A flagged query gets
    # ONE re-run; keep the min — a true algorithmic superlinearity
    # reproduces, session noise does not.
    suspects = [n for n, x in ratios.items() if x > SUPERLINEAR_X]
    for n in suspects:
        t2 = run(n)
        if t2 < timings[n]:
            timings[n] = t2
            ratios[n] = round(t2 / ref[n], 2)
            print(f"{n}: retry {t2:.2f}s ({ratios[n]}x) — first run was noise",
                  flush=True)
    outliers = sorted(
        (n for n, x in ratios.items() if x > SUPERLINEAR_X),
        key=lambda n: -ratios[n],
    )
    out = {
        "sf": 1,
        "cpus": bench.CPUS,
        "queries": timings,
        "total_sec": round(sum(timings.values()), 3),
        "ratio_vs_sf01": ratios,
        "superlinear_threshold_x": SUPERLINEAR_X,
        "outliers": outliers,
        "errors": errors,
        "sf01_ref": {n: ref[n] for n in timings if n in ref},
    }
    with open(os.path.join(ROOT, "BENCH_sf1.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"total_sec": out["total_sec"], "outliers": outliers}))
    bench.close(spark)


if __name__ == "__main__":
    main()
