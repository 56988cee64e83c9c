"""Driver-gate simulation: a vanilla SparkSession (no engine configs),
the ``__spark_entry__`` contract and each query compared with its DuckDB
oracle at sf0.01. Prints one MATCH / MISMATCH / ERROR / rows-only line
per query and exits non-zero when any query is BAD.

Usage: python tools/verify_gate_local.py [NAME...]
"""
import os, sys; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb, math, pandas as pd, sys, time
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m
print("entry rows:", m.entry(spark).count(), flush=True)
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
def canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)): return "\x00N"
    if isinstance(v, float): return f"{v:.9g}"
    if isinstance(v, pd.Timestamp): return v.isoformat()
    return str(v)
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
    pdf_d = con.execute(osql[name]).df()
    rs = sorted(tuple(canon(v) for v in r) for r in pdf_s[sorted(pdf_s.columns, key=str.lower)].itertuples(index=False, name=None))
    rd = sorted(tuple(canon(v) for v in r) for r in pdf_d[sorted(pdf_d.columns, key=str.lower)].itertuples(index=False, name=None))
    ok = rs == rd
    if not ok: bad += 1
    print(name, len(rs), "vs", len(rd), "MATCH" if ok else "MISMATCH", f"{time.time()-t0:.1f}s", flush=True)
print("BAD:", bad, flush=True)
sys.exit(1 if bad else 0)
