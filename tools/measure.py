#!/usr/bin/env python
"""Per-query walls and Spark work in one fresh session, through the
bench.py harness: warm-up, then for each NAME ``--reps`` timed
noop-sink runs with the untimed reclaim after each, and the stage
census of the last run (jobs, completed/skipped stages, tasks, task
ms, shuffle read/write bytes, spill). Prints one JSON line per query:

  {"query": name, "sf_dir": ..., "cpus": N, "reps": [s, ...],
   "census": {...}}

One query per process reproduces the fresh-JVM isolated series.
Reads SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS like bench.py.

Usage: python tools/measure.py NAME... [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402
import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="per-query walls and stage census")
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--reps", type=int, default=bench.REPS)
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in __spark_entry__.queries()]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = bench.session("measure")
    bench.warm_up(spark)
    for name in args.names:
        walls, stats = bench.measure(spark, name, args.reps)
        print(json.dumps({"query": name, "sf_dir": bench.SF_DIR, "cpus": bench.CPUS,
                          "reps": walls, "census": stats}), flush=True)
    bench.close(spark)


if __name__ == "__main__":
    main()
