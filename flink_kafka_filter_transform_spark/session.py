"""SparkSession builder with scale-oriented defaults.

Local testing runs on ``local[N]``; the config block is written for a
real multi-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), explicit broadcast threshold, Arrow
for the few pandas-UDF paths, UTC session timezone so results are
stable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "flink-kafka-filter-transform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 4
    for tests). ``shuffle_partitions`` defaults to 2x the local
    parallelism — on a real cluster this would be set to ~2-3x total
    executor cores and AQE coalesces the excess.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-stability ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan, skew split, coalesce ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle discipline ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Always use the sort-based shuffle writer (one spill file per
        # map task), never the bypass-merge writer (one file PER REDUCE
        # BUCKET per map task). With <=200 reduce partitions the bypass
        # writer opens map_tasks x buckets file segments; on mid-
        # cardinality aggregations that filesystem churn dominated the
        # whole query (inbound counts at sf0.1: 0.95 s -> 0.32 s with
        # the sort writer). A real cluster runs >200 shuffle partitions
        # where the bypass path never fires, so this costs nothing at
        # scale — it only removes a local small-shuffle pathology.
        # r6 A/B (fresh JVM per value, 3 reps, sf0.1, the four queries
        # VERDICT r5 item 1 flagged + both counts): threshold 1 vs 200
        # is a wash on the raw-row window queries (warm 0.51 vs 0.53 s
        # events_sessionized, 0.58 vs 0.70 last_purchase, 0.49 vs 0.52
        # range join, 0.48 vs 0.47 media_decode) and still wins on the
        # map-combined counts (0.52 vs 0.83 inbound). The r5 "3x warm"
        # events regression was shared-bench-JVM block residue (see
        # bench.py reclaim()), not this conf — so it stays.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: for shuffle joins with a
        # selective build side, Catalyst injects bloom_filter_agg on the
        # build and might_contain on the probe scan — the semi-join
        # reduction that cuts probe-side shuffle bytes at 100 TB. Off by
        # default in Spark; size thresholds (creation <=10MB, probe scan
        # >=10GB) keep it from firing where it can't pay off.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- scan discipline: parquet splits sized for executor memory ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # older testdata generations carried TIMESTAMP(NANOS) in
        # events.parquet; nanosAsLong lets those still read (as bigint
        # nanos — sources.parquet.ts_as_* normalizes either encoding)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python boundary: Arrow batches, never row-at-a-time pickling ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- quieter local runs ---
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
