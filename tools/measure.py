#!/usr/bin/env python
"""Per-query walls and Spark work in one fresh session, through the
bench.py harness: warm-up, then for each NAME (default: every
bench.HEADLINE query) ``--reps`` timed noop-sink runs with the untimed
reclaim after each, and the census of the last run (jobs,
completed/skipped stages, tasks, task ms, shuffle read/write bytes,
spill, plan fingerprint). Prints one JSON line per query:

  {"query": name, "sf_dir": ..., "cpus": N, "reps": [s, ...],
   "census": {...}}

``--write CENSUS.json`` also writes the run into the ledger: sf_dir,
cpus and, per query, the fields that repeat exactly across fresh
sessions (LEDGER_FIELDS). With no NAME the run is the whole headline
and becomes the ledger's query set; with NAMEs it merges into it.
"variance" entries are kept while their query is in the ledger. ``--against CENSUS.json`` instead
prints only the queries whose ledger fields differ (query, field,
ledger value, fresh value) and exits 1 on any difference. Both exit 1
before running anything when the ledger's sf_dir/cpus are not this
run's.
A field listed under "variance" (query -> field -> why) is known not
to repeat: it is printed on every run and its difference alone does
not fail.
``--explain NAME`` prints NAME's normalized plan (bench.plan_text),
the text its fingerprint hashes.

One query per process reproduces the fresh-JVM isolated series.
Reads SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS like bench.py.

Usage: python tools/measure.py [NAME...] [--reps N]
           [--write CENSUS.json | --against CENSUS.json]
       python tools/measure.py --explain NAME
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402
import bench  # noqa: E402

# Shuffle bytes, tasks, skipped stages and task ms are left out: they
# drift between runs of one session (CHANGES.md, census FOUND lines).
LEDGER_FIELDS = ("jobs", "stages", "plan")


def updated_ledger(ledger: dict, fresh: dict, full: bool) -> dict:
    """``ledger`` after a ``--write`` of ``fresh`` (query -> fields): a
    full-headline run replaces the query set, a named run merges into
    it; variance entries of queries no longer in the ledger go."""
    queries = dict(fresh) if full else {**ledger["queries"], **fresh}
    variance = {n: why for n, why in ledger.get("variance", {}).items() if n in queries}
    return {**ledger, "queries": queries, "variance": variance}


def main() -> None:
    ap = argparse.ArgumentParser(description="per-query walls and stage census")
    ap.add_argument("names", nargs="*", metavar="NAME")
    ap.add_argument("--reps", type=int, default=bench.REPS)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--write", metavar="CENSUS.json")
    mode.add_argument("--against", metavar="CENSUS.json")
    mode.add_argument("--explain", metavar="NAME")
    args = ap.parse_args()
    names = [args.explain] if args.explain else args.names or bench.HEADLINE
    unknown = [n for n in names if n not in __spark_entry__.queries()]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if (args.write or args.against) and args.reps != bench.REPS:
        ap.error(f"the ledger is the census of rep {bench.REPS}; drop --reps")
    path = args.write or args.against
    ledger = {"queries": {}}
    if args.against or args.write and os.path.exists(args.write):
        with open(path) as f:
            ledger = json.load(f)
        if (ledger["sf_dir"], ledger["cpus"]) != (bench.SF_DIR, bench.CPUS):
            print(f"{path} ran at {ledger['sf_dir']} on {ledger['cpus']} cpus, "
                  f"this run at {bench.SF_DIR} on {bench.CPUS}")
            sys.exit(1)
    spark = bench.session("measure")
    bench.warm_up(spark)
    if args.explain:
        print(bench.plan_text(bench.run(spark, args.explain)[1]))
        bench.close(spark)
        return
    fresh = {}
    for name in names:
        walls, stats = bench.measure(spark, name, args.reps)
        fresh[name] = {k: stats[k] for k in LEDGER_FIELDS}
        if not args.against:
            print(json.dumps({"query": name, "sf_dir": bench.SF_DIR, "cpus": bench.CPUS,
                              "reps": walls, "census": stats}), flush=True)
    bench.close(spark)
    if args.write:
        ledger = updated_ledger(ledger, fresh, full=not args.names)
        ledger.update(sf_dir=bench.SF_DIR, cpus=bench.CPUS)
        with open(args.write, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
            f.write("\n")
    if args.against:
        variance = ledger.get("variance", {})
        for name, fields in variance.items():
            for field, why in fields.items():
                print(name, field, f"known variance: {why}", sep="\t")
        diffs = [(name, k, ledger["queries"].get(name, {}).get(k), v)
                 for name, got in fresh.items() for k, v in got.items()
                 if ledger["queries"].get(name, {}).get(k) != v]
        for diff in diffs:
            print(*diff, sep="\t")
        sys.exit(int(any(k not in variance.get(name, {}) for name, k, *_ in diffs)))


if __name__ == "__main__":
    main()
