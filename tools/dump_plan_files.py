#!/usr/bin/env python
"""Dump .explain('formatted') of named queries to plans/r<N>/<q>_<suffix>.txt.

Usage: python tools/dump_plan_files.py <round> <suffix> q1 q2 ...
e.g.   python tools/dump_plan_files.py r15 before embedding_neardup_fps

Runs at sf0.01 on local[4], like dump_plans.py (plan SHAPE is
scale-independent; eager trainer queries execute their bounded
driver-paced phases while building the frame, which is exactly what
the declared query does)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__  # noqa: E402
import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    rnd, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = bench.session("dump-plan-files", cpus=4)
    outdir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = __spark_entry__.queries()[name](spark, SF_DIR)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_ex = text.count("Exchange")
        n_smj = text.count("SortMergeJoin")
        n_bhj = text.count("BroadcastHashJoin")
        print(
            f"{name}: {len(text.splitlines())} lines, Exchange={n_ex}, "
            f"SMJ={n_smj}, BHJ={n_bhj} -> {path}",
            flush=True,
        )
    bench.close(spark)


if __name__ == "__main__":
    main()
