#!/usr/bin/env python
"""Linkage-blocking scaling study with CONTROLLED pair density
(VERDICT r10 What's-wrong #3: name_edit_neighbors' sf3 ratio of 3.37x
measures the FIXTURE — zero-padded sequential names gain one-digit
neighbors as digit coverage grows — not the symmetric-delete
blocking. This study separates them.)

Construction: from each sf's customer table, derive a name relation
whose true d<=1 pair count is LINEAR in N by design —

  base_id = c_custkey DIV 2, v = c_custkey % 2
  base    = 16 lowercase-hex chars of the portable 64-bit hash of
            base_id (two random hex-16 strings are d<=1 with
            probability ~16*15/16^16 — never at these row counts, so
            NO unintended cross-base pairs, unlike sequential
            zero-padded ids where neighboring integers differ by one
            substitution)
  v=0     -> the base string itself
  v=1     -> the base with the char at position base_id % 16
             replaced by 'z' (a non-hex char: exactly one
             substitution, d == 1, and 'z' can't collide back into
             another base)

True pairs = one per base that has both members; customer keys are
contiguous from 0, so expected = (max_key + 1) DIV 2 exactly.
The study asserts the operator finds EXACTLY the expected
count at every sf (a correctness check the oracle gate can't give at
sf1/sf3), then reports walls and the sf3/sf1 ratio. A healthy
blocking is ~linear: variant volume is (len+1) keys/row and block
sizes are bounded by true-duplicate multiplicity (2 here) — the
EDIT_BLOCK_CAP never fires.

r12 extension — the CROSS-relation arm (VERDICT r11 item 5's
controlled-density row): probe the SAME derived name relation against
a master of the bare base strings (one row per base_id). Every left
row matches exactly its own base's master row — the v=0 member at
d=0, the v=1 member at d=1 — and hash-hex bases admit no accidental
cross-base pair, so true cross pairs == N exactly. The study asserts
cross_edit_linkage finds exactly N at every sf and reports its walls
alongside the self-join arm's.

Walls are noop-sink runs through bench.measure (reclaim between reps);
the pair counts the asserts check are taken untimed.

Writes BENCH_linkage_scale.json. Usage: python tools/bench_linkage_scale.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(ROOT, "testdata_local", "sf1"),
    "sf3": os.path.join(ROOT, "testdata_local", "sf3"),
}
REPS = 2


def main() -> None:
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64
    from flink_kafka_filter_transform_spark.operators.linkage import (
        cross_edit_linkage,
        edit_distance_pairs,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    spark = bench.session("bench-linkage-scale")

    def relations(sf_dir: str):
        """(derived names, master of bare base strings)"""
        cust = load_table(spark, "customer", sf_dir).select(
            "c_custkey", F.expr("c_custkey DIV 2").alias("base_id")
        )
        h = portable_hash64(F.col("base_id").cast("string"))
        base = F.lower(F.lpad(F.hex(h), 16, "0"))
        pos = (F.col("base_id") % 16).cast("int")
        typo = F.concat(
            F.expr("substring(base, 1, pos)"),
            F.lit("z"),
            F.expr("substring(base, pos + 2, 16)"),
        )
        names = cust.select(
            F.col("c_custkey").alias("custkey"),
            base.alias("base"),
            pos.alias("pos"),
            (F.col("c_custkey") % 2).alias("v"),
        ).select(
            "custkey",
            F.when(F.col("v") == 1, typo).otherwise(F.col("base")).alias("nm"),
        )
        return names, cust.select("base_id", base.alias("mname")).distinct()

    results: dict[str, dict] = {}
    for sf, sf_dir in SF_DIRS.items():
        if not os.path.isdir(sf_dir):
            print(f"{sf}: missing {sf_dir}, skipping", file=sys.stderr)
            continue
        names, master = relations(sf_dir)
        n_rows = names.count()
        max_key = names.agg(F.max("custkey")).collect()[0][0]
        # custkey is contiguous from 0, so base b is complete iff both
        # 2b and 2b+1 lie in [0, max_key]: exactly (max_key+1) DIV 2
        expected = (max_key + 1) // 2
        arms = {
            "": lambda s, d: edit_distance_pairs(names, "custkey", "nm"),
            # cross-relation arm: every probe row pairs with exactly its
            # own base's master row (d=0 for v=0, d=1 for the designed
            # typo), so true cross pairs == n_rows by construction
            "cross_": lambda s, d: cross_edit_linkage(
                names, master, "custkey", "nm", "base_id", "mname"
            ),
        }
        row = {"rows": n_rows, "true_pairs": expected, "cross_true_pairs": n_rows}
        for arm, build in arms.items():
            walls, _ = bench.measure(spark, build, REPS, sf_dir)
            row[f"{arm}pairs_found"] = build(spark, sf_dir).count()  # untimed check
            row[f"{arm}walls"] = walls
            row[f"{arm}wall_min"] = min(walls)
        assert row["pairs_found"] == expected, (sf, row["pairs_found"], expected)
        assert row["cross_pairs_found"] == n_rows, (sf, row["cross_pairs_found"], n_rows)
        results[sf] = row
        print(f"{sf}: {row}", file=sys.stderr)

    out = {
        "construction": "hash-hex base names, one designed substitution per odd key",
        "reps": REPS,
        "results": results,
    }
    if "sf1" in results and "sf3" in results:
        out["sf3_vs_sf1"] = round(
            results["sf3"]["wall_min"] / results["sf1"]["wall_min"], 2
        )
        out["cross_sf3_vs_sf1"] = round(
            results["sf3"]["cross_wall_min"] / results["sf1"]["cross_wall_min"], 2
        )
    path = os.path.join(ROOT, "BENCH_linkage_scale.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"sf3_vs_sf1": out.get("sf3_vs_sf1"), "results": {
        k: v["wall_min"] for k, v in results.items()}}))
    bench.close(spark)


if __name__ == "__main__":
    main()
