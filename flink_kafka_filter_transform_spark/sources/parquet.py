"""Parquet table registry over the driver-generated testdata.

Scans stay declarative (``spark.read.parquet``) so Catalyst pushes
filters and prunes columns into the parquet reader — at 100 TB the
scan, not the compute, dominates, and ``PushedFilters``/``ReadSchema``
in ``.explain`` are the first thing to check (see plans.explain).
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime confs the engine depends on, for externally-built
    sessions (the driver passes its own): UTC so timestamp values are
    stable against the naive-timestamp DuckDB oracle, and nanosAsLong
    so older testdata generations whose events.parquet carried
    TIMESTAMP(NANOS) still read (as bigint nanos — see ts_as_*)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down — session builder already set it


def ts_as_timestamp(df: DataFrame, col: str = "ts"):
    """``events.ts`` as a TIMESTAMP (LTZ, UTC session) Column, whatever
    physical type the parquet carried.

    The driver's testdata has shipped two encodings across rounds:
    TIMESTAMP(NANOS) — which Spark reads as *bigint nanos* under
    nanosAsLong — and TIMESTAMP(MICROS) without UTC adjustment — which
    Spark reads as TIMESTAMP_NTZ. Every operator goes through this (or
    ts_as_micros) instead of assuming one encoding, so a regenerated
    testdata set can't silently break the events surface again. With
    the session pinned to UTC the NTZ->LTZ cast is value-preserving and
    both branches agree with the DuckDB oracle's CAST(ts AS TIMESTAMP).
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(col) == "bigint":
        return F.timestamp_micros(F.expr(f"{col} DIV 1000"))
    return F.col(col).cast("timestamp")


def ts_as_micros(df: DataFrame, col: str = "ts"):
    """``events.ts`` as bigint epoch-microseconds (exact integer
    arithmetic for sessionization/range/as-of windows); adaptive over
    the same two physical encodings as ts_as_timestamp."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(col) == "bigint":
        return F.expr(f"{col} DIV 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


# Ingest rebalance threshold: inputs larger than this have enough row
# groups for the scan itself to parallelize, so the guard keeps the
# rebalance a strictly toy-scale mechanism (it can never fire on a
# 100 TB table and inject a pointless full-data shuffle).
_REBALANCE_MAX_BYTES = 256 << 20

# Only the CPU-heavy corpora rebalance. Measured at sf0.1 (BENCH r4
# iteration): repartitioning EVERY table won big on documents/
# embeddings consumers (repetition_ratios 2.89->0.53 s, minhash
# 3.62->1.88 s, embedding_neardup 2.35->0.43 s — regex/HOF/vector-math
# per row) but cost the cheap agg/join queries a raw-row shuffle for
# nothing (events_daily 0.44->1.10 s, hll_distinct_orders 1.33->2.67 s
# — their per-row work is trivial and their first aggregation
# parallelizes anyway). Every win lives on these two tables; every
# regression lives off them.
_REBALANCE_TABLES = frozenset({"documents", "embeddings"})

# Don't shatter a small corpus into single-digit-row partitions: tiny
# Arrow batches make mapInPandas overhead-dominated (media_decode
# regressed 3x at sf0.1 under a blanket 32-way split).
_REBALANCE_MIN_ROWS_PER_PARTITION = 256


def _single_file_meta(path: str) -> tuple[int, int] | None:
    """(row_groups, rows) of a sub-threshold single parquet file, else
    None (multi-file datasets and big files parallelize natively)."""
    try:
        if not os.path.isfile(path) or os.path.getsize(path) > _REBALANCE_MAX_BYTES:
            return None
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        return md.num_row_groups, md.num_rows
    except Exception:
        return None


def data_cache_key(sf_dir: str, table: str, *salts: str) -> str:
    """Leaf name ``{sf}_{10 hex}`` of a cache derived from ``table``
    under ``sf_dir``. The hash covers the sf dir's full path (two dirs
    named alike must not share an entry), every data file's name, size
    and mtime (an in-place rewrite of the table invalidates) and
    ``salts`` (the derivation's version or source, so editing it
    invalidates too)."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    parts = [os.path.abspath(sf_dir)]
    for p in sorted(glob.glob(path) + glob.glob(os.path.join(path, "*"))):
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    digest = hashlib.md5("\x00".join(parts + list(salts)).encode()).hexdigest()[:10]
    return f"{os.path.basename(os.path.normpath(sf_dir))}_{digest}"


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    rebalance: bool = True,
) -> DataFrame:
    """Load one testdata table as a DataFrame.

    SMALL-SCAN REBALANCE (documents/embeddings only): a Spark parquet
    scan parallelizes at row-group granularity, and this testdata
    ships single-row-group files — so without intervention every
    scan->map stage runs on ONE core of 32 (measured: repetition_ratios
    at sf1 took 18.4 s as-is, 2.7 s after repartitioning — the whole
    CPU-heavy text/dedup/vector surface was scan-parallelism-bound,
    not operator-bound). When such a table is a single small file with
    fewer row groups than the useful parallelism, repartition it:
    filters and column pruning still reach the scan (Catalyst pushes
    both through a round-robin repartition), and the size guard means
    real-scale inputs are never touched. plans.explain.count_shuffles
    excludes this REPARTITION_BY_NUM exchange so the plan gates keep
    asserting the ALGORITHMIC shuffle inventory.
    SPARK_GRAFT_REBALANCE=0 disables for A/B runs.

    ``rebalance=False`` opts a consumer out entirely: agg-first plans
    (a groupBy directly on the scan, trivial per-row work) get their
    parallelism from the aggregation's own shuffle, so the rebalance
    is a full raw-row shuffle bought for nothing (measured r4:
    exact_dedup 0.36 -> 1.13 s cold as pure collateral)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if (
        rebalance
        and name in _REBALANCE_TABLES
        and os.environ.get("SPARK_GRAFT_REBALANCE", "1") != "0"
    ):
        meta = _single_file_meta(path)
        if meta is not None:
            groups, rows = meta
            target = min(
                spark.sparkContext.defaultParallelism,
                max(1, rows // _REBALANCE_MIN_ROWS_PER_PARTITION),
            )
            if groups < target:
                df = df.repartition(target)
    return df


def _input_bytes(df: DataFrame) -> int:
    """Total size of the files ``df`` scans (file metadata only, no
    job; 0 for a relation that scans no file)."""
    spark = df.sparkSession
    conf = spark._jsc.hadoopConfiguration()
    path = spark._jvm.org.apache.hadoop.fs.Path
    return sum(
        path(f).getFileSystem(conf).getFileStatus(path(f)).getLen()
        for f in df.inputFiles()
    )


def respread_if_underpartitioned(df: DataFrame) -> DataFrame:
    """Scale-adaptive pre-shuffle re-spread for operators whose MAP
    phase is heavy relative to its input (a count-distinct Expand, a
    deletion-variant explode): when the input relation has fewer
    partitions than the useful parallelism — a single-row-group
    toy-scale file is ONE partition — repartition it so the heavy map
    doesn't run on a handful of cores (r15, guide §2; measured: the
    orders profile ran 2.65 s of its 3.9 s wall in one task, the
    customer variant explode 4.7 s in three). Like load_table's
    rebalance, it only fires on inputs within _REBALANCE_MAX_BYTES, so
    a large table read as few big partitions is never shuffled whole
    either. The partition and size probes are metadata only (no
    job)."""
    sc = df.sparkSession.sparkContext
    if (
        df.rdd.getNumPartitions() < sc.defaultParallelism
        and _input_bytes(df) <= _REBALANCE_MAX_BYTES
    ):
        return df.repartition(sc.defaultParallelism)
    return df
