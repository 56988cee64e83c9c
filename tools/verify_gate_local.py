"""Driver-gate simulation: a vanilla SparkSession (no engine configs),
the ``__spark_entry__`` contract and each query compared with its DuckDB
oracle at sf0.01. Prints one MATCH / MISMATCH / ERROR / rows-only line
per query and exits non-zero when any query is BAD.

Usage: python tools/verify_gate_local.py [NAME...]
"""
import os, sys; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import time
from pyspark.sql import SparkSession
from tests.oracle_util import _canon, duckdb_con
spark = SparkSession.builder.master("local[4]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m
print("entry rows:", m.entry(spark).count(), flush=True)
SF = "/root/testdata/sf0.01"
con = duckdb_con(SF)
qs, osql = m.queries(), m.oracle_sql()
if len(sys.argv) > 1:
    want = set(sys.argv[1:])
    missing = want - set(qs)
    if missing:
        print("UNKNOWN QUERIES:", sorted(missing), flush=True); sys.exit(2)
    qs = {k: v for k, v in qs.items() if k in want}
print("n_queries:", len(qs), "n_oracles:", len(osql), flush=True)
bad = 0
for name, fn in qs.items():
    t0=time.time()
    try:
        pdf_s = fn(spark, SF).toPandas()
    except Exception as ex:
        print(name, "ERROR", repr(ex)[:200], flush=True); bad += 1; continue
    if name not in osql:
        print(name, "rows-only", len(pdf_s), flush=True); continue
    rs, rd = _canon(pdf_s), _canon(con.execute(osql[name]).df())
    ok = rs == rd
    if not ok: bad += 1
    print(name, len(rs), "vs", len(rd), "MATCH" if ok else "MISMATCH", f"{time.time()-t0:.1f}s", flush=True)
print("BAD:", bad, flush=True)
sys.exit(1 if bad else 0)
