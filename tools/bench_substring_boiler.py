#!/usr/bin/env python
"""Substring hot-key study (VERDICT r8 item 3): same-session A/B of
substring_dedup_stats' two strategies — skew_safe=False, the r8
gh-WINDOW shared-mark plan, vs skew_safe=True, the r9 groupBy(gh)+join
plan — on the default corpus AND the boilerplate-heavy corpus
(tools/gen_testdata.py --vocab boiler: 30% of docs share one ~160-char
header verbatim, so ~129 window hashes are each shared by 0.3*N docs —
the corpus-hot-gh scenario the window plan serializes into single
window partitions). Both strategies are named explicitly: AUTO picks
the window plan on every corpus here (no single gram gets near
HOT_GRAM_POSITIONS), so an AUTO arm would time the same plan twice.

Alternating reps in ONE session control the ambient noise a fresh-JVM
series is exposed to. Writes BENCH_substring_boiler.json:

  {"corpus": {"plan": [reps...], ...}, ...}
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

CORPORA = {
    "sf1_default": os.path.join(ROOT, "testdata_local", "sf1"),
    "sf3_default": os.path.join(ROOT, "testdata_local", "sf3"),
    "sf1_boiler": os.path.join(ROOT, "testdata_local", "sf1_boiler"),
    "sf3_boiler": os.path.join(ROOT, "testdata_local", "sf3_boiler"),
}
REPS = 3
# JSON series key -> skew_safe (keys kept from the r9 study)
PLANS = {"agg_join_r9": True, "gh_window_r8": False}


def main() -> None:
    from flink_kafka_filter_transform_spark.operators import dedup
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    def plan(skew_safe: bool):
        return lambda spark, d: dedup.substring_dedup_stats(
            load_table(spark, "documents", d), skew_safe=skew_safe
        )

    spark = bench.session("bench-substring-boiler")
    out: dict[str, dict[str, list[float]]] = {}
    for corpus, d in CORPORA.items():
        series: dict[str, list[float]] = {key: [] for key in PLANS}
        for rep in range(REPS + 1):  # rep 0 warms both plans (codegen)
            for key, skew_safe in PLANS.items():
                wall, _ = bench.run(spark, plan(skew_safe), d)
                bench.reclaim(spark)
                if rep:
                    series[key].append(round(wall, 3))
        out[corpus] = series
        print(corpus, series, flush=True)
    with open(os.path.join(ROOT, "BENCH_substring_boiler.json"), "w") as f:
        json.dump({"cpus": bench.CPUS, "reps": REPS, "series": out}, f, indent=1)
    print(json.dumps({"done": list(out)}))
    bench.close(spark)


if __name__ == "__main__":
    main()
