"""Structured Streaming wrappers for the CDC pipeline.

The reference is a streaming service (tokio loop over a Kafka
consumer, /root/reference/src/mq/kafka.rs:48-109). Here the SAME
batch-tested operators from operators.cdc run under Structured
Streaming — one lineage, two execution modes, which is the whole point
of building on the SIGMOD'18 Structured Streaming model: correctness
is proven in batch against the DuckDB oracle, then the identical plan
runs incrementally.

Semantics upgrades over the reference (SURVEY §3.4, deliberate):
- at-least-once with checkpointing instead of the reference's
  at-most-once auto-commit (kafka.rs:99-101 logs-and-drops errors);
- per-partition ordering within a micro-batch instead of the
  per-message tokio::spawn reordering (kafka.rs:64);
- malformed/tombstone payloads are counted and discarded instead of
  panicking (kafka.rs:53-55).

Kafka configs mirror the reference: earliest offsets, session timeout
6000 ms (kafka.rs:33-34), producer batch.size 10 MiB (kafka.rs:44).
No broker exists in this container, so Kafka entry points are built
and returned unstarted; tests drive the file-stream twin.
"""

from __future__ import annotations

import operator
import re
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from flink_kafka_filter_transform_spark.operators import cdc

# Reference producer/consumer tuning (src/mq/kafka.rs:18, :33-34, :43-44)
PRODUCER_BATCH_SIZE = 10_485_760
PRODUCER_MESSAGE_TIMEOUT_MS = 5_000
CONSUMER_SESSION_TIMEOUT_MS = 6_000


def kafka_stream_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: list[str],
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """O1: the Kafka scan as a streaming DataFrame.

    Fixed Kafka source schema (key/value binary, topic, partition,
    offset, timestamp) — the Spark analog of rdkafka's message view.
    ``max_offsets_per_trigger`` paces micro-batches (the broker analog
    of the file twin's maxFilesPerTrigger; late-data equivalence tests
    use it to force multi-batch arrival)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .option("kafka.session.timeout.ms", str(CONSUMER_SESSION_TIMEOUT_MS))
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def file_stream_source(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Deterministic file-based twin of the Kafka source for tests:
    same downstream lineage, parquet directory instead of a broker."""
    return spark.readStream.schema(schema).parquet(path)


def transformed_stream(stream: DataFrame, rules: list[dict]) -> DataFrame:
    """The reference's full per-message path on a streaming DataFrame:
    parse -> filter deletes -> route (when-chain: stateless, no
    shuffle, so the stream stays append-mode) -> outgoing projection."""
    return cdc.project_outgoing(cdc.forwarded(stream, rules))


def windowed_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data handling —
    ABSENT in the reference (it ignores event time entirely, SURVEY
    §2.2); required for any real rollup at scale. Watermarking bounds
    state: windows older than the watermark are finalized and evicted."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col("op"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "op", "cnt")
    )


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """O8: Kafka producer sink; the per-row ``topic`` column routes each
    record (exactly the FutureRecord::to(target) behavior,
    kafka.rs:80-82). Checkpointing -> at-least-once."""
    return (
        df.selectExpr("topic", "CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("kafka.batch.size", str(PRODUCER_BATCH_SIZE))
        .option("kafka.message.timeout.ms", str(PRODUCER_MESSAGE_TIMEOUT_MS))
        .option("checkpointLocation", checkpoint_dir)
    )


def metered_cdc_sink(
    raw_stream: DataFrame,
    rules: list[dict],
    registry,
    out_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """O12 end-to-end: the reference's whole service loop —
    consume → count inbound → filter → route → count outbound →
    produce — as ONE streaming query feeding the SAME two Prometheus
    counter families the reference serves over /metrics
    (/root/reference/src/mq/mod.rs:35-59, src/mq/kafka.rs:56-78),
    with FULL label sets: flink_cdc_event_count{topic,db,table,op}
    incremented pre-filter over ALL messages, and
    flink_kafka_filter_transform_count{topic,op} over forwarded
    messages only. ``registry`` is metrics.CounterRegistry; serve it
    with metrics.serve for the scrapeable /version + /metrics
    endpoints.

    The per-message work — parse and the forward rule
    (``cdc.route_forwarded``: ``target_topic`` set only on forwarded
    messages) — is built ONCE on the streaming DataFrame, so Spark
    plans it at ``start()`` and only re-plans it incrementally per
    micro-batch. Each batch then runs two actions over that plan:

    1. one label-grain aggregate (``cdc.label_counts``) collected to
       the driver: every row feeds the inbound family, the rows with a
       target topic feed the outbound family. Its row count is LABEL
       cardinality (topics x tables x ops — config-sized, never
       message-sized), the same place the reference's in-process
       registry lives;
    2. the routed write: the forwarded rows land in ``out_dir`` through
       ``_write_batch_partition`` (effectively-once).

    The counters are at-least-once under replay (a re-delivered batch
    re-increments), matching Prometheus counter semantics — scrape-side
    rate() absorbs it, and the reference's counters behave identically
    on redelivery."""
    labelled = cdc.route_forwarded(cdc.parse_envelope(raw_stream), rules)

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        lbl = lambda v: "" if v is None else str(v)  # noqa: E731
        outbound: dict[tuple[str, str], int] = {}
        for r in cdc.label_counts(batch_df).collect():
            op = lbl(r["op"])
            registry.inc_cdc_event(
                lbl(r["topic"]), lbl(r["db"]), lbl(r["table_name"]), op, r["cnt"]
            )
            if r["target_topic"] is not None:
                key = (r["target_topic"], op)
                outbound[key] = outbound.get(key, 0) + r["cnt"]
        for (topic, op), n in outbound.items():
            registry.inc_transform(topic, op, n)
        _write_batch_partition(
            cdc.project_outgoing(cdc.drop_unrouted(batch_df)), out_dir, batch_id
        )

    return _sink(labelled, feed, checkpoint_dir)


def session_windowed_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "key",
) -> DataFrame:
    """Native event-time session windows (F.session_window): dynamic
    gap-closed windows per key, state evicted once the watermark passes
    a session's close. The streaming twin of the batch
    relational.events_sessionized (lag + cumulative-sum) — same
    semantics, but windows merge incrementally across micro-batches
    instead of requiring the full history in one sort."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _interval_join(stream: DataFrame, window: str, watermark_delay: str, how: str) -> DataFrame:
    """Creates ('c') joined to updates ('u') on key within ``window``
    after the create, both sides watermarked: the one build behind the
    inner and the LEFT OUTER interval join."""
    parsed = cdc.parse_envelope(stream)

    def side(op: str) -> DataFrame:
        return (
            parsed.filter(F.col("op") == op)
            .select(
                F.col("key").alias(f"{op}_key"),
                F.col("ts").alias(f"{op}_ts"),
                F.col("msg_id").alias(f"{op}_msg_id"),
            )
            .withWatermark(f"{op}_ts", watermark_delay)
        )

    return side("c").join(
        side("u"),
        F.expr(
            f"c_key = u_key AND u_ts >= c_ts AND u_ts <= c_ts + INTERVAL {window}"
        ),
        how,
    ).select("c_key", "c_msg_id", "u_msg_id", "c_ts", "u_ts")


def stream_stream_interval_join(
    stream: DataFrame,
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream event-time interval join — a whole category the
    reference lacks (SURVEY §2.2: no joins between data streams).

    Creates ('c') and updates ('u') from the parsed CDC stream join on
    key, with the update required to land within ``window`` after the
    create. Watermarks on BOTH sides bound the join state: rows older
    than watermark + interval are evicted, so state is O(window), not
    O(stream). Inner join + append mode — each match emits exactly
    once."""
    return _interval_join(stream, window, watermark_delay, "inner")


def stream_stream_interval_join_outer(
    stream: DataFrame,
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every create emits,
    updates attached when one lands inside the window — the
    "which creates never got an update?" question an inner join cannot
    answer on a stream.

    Outer semantics need the watermark to PROVE absence: a create row
    is held in state until the watermark passes the end of its join
    interval, then emits with NULL update columns if nothing matched.
    Null-side results therefore arrive delayed by watermark+window —
    the unavoidable price of a correct negative on out-of-order data.
    Same O(window) state bound as the inner join; both sides keep
    their watermark, and the join condition time-bounds the
    state-eviction horizon.
    """
    return _interval_join(stream, window, watermark_delay, "leftOuter")


def deduped_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps a key only until the watermark
    passes it, so state is O(keys-per-delay-window) instead of O(all
    keys ever) — the streaming face of the batch exact_dedup operator,
    e.g. for at-least-once sources that can re-deliver (our Kafka sink
    semantics, SURVEY §3.4)."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys or ["msg_id"]
    )


SCD2_CHANGE_COLS = ("db", "table_name", "key", "op", "ts", "msg_id")


def scd2_incremental_sink(
    parsed_stream: DataFrame, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental SCD2 maintenance via foreachBatch merge — the
    streaming twin of ``cdc.scd2_history``.

    History construction is ordered per entity key, so the retained
    state must be the raw CHANGELOG, not the current table: a late
    change has to SPLICE into an existing validity interval (split it
    and shift valid_to), and deletes — which emit no interval — still
    close one. Per micro-batch:

    1. append the batch's parsed changes to the changelog store;
    2. recompute SCD2 for ONLY the entity keys present in the batch
       (broadcast semi-join of the batch's keys against the changelog);
    3. carry every untouched key's intervals over unchanged (broadcast
       anti-join) and publish the union as a new table version.

    Cost per batch: the semi-join scans ALL of ``changes/`` and the
    version write rewrites EVERY row of the table, so both grow with
    the changelog and the table; only the shuffle and the sort are
    proportional to the affected keys' history (_scd2_merge_batch
    gives the job plan). Changes are deduped on (key, msg_id) before
    the recompute, so at-least-once redelivery (a retried batch
    re-appends) cannot corrupt history — the same idempotence a
    Delta/Iceberg MERGE target provides; versioned parquet dirs
    (``_merge_version``) stand in for that table format here, and
    readers always see a complete published version
    (``scd2_current``), never a half-written one.
    """
    return _sink(parsed_stream, _scd2_merge_batch, checkpoint_dir, state_dir)


def _batch_aqe(spark: SparkSession) -> SparkSession:
    """Re-enable ADAPTIVE execution for the batch queries a
    foreachBatch body runs, and return the session (r14, guide §2.2/
    §3.1). _sink calls it once per micro-batch before the body, so no
    body sets it itself.

    Structured Streaming clones the session at ``start()`` and
    ``ResolveWriteToStream`` force-disables ``spark.sql.adaptive.
    enabled`` on the clone (AQE is unsupported in the continuous/
    micro-batch STREAMING plan). But every join/aggregate a
    foreachBatch sink body builds is an ordinary BATCH query on that
    clone — with the flag off it runs with the static shuffle-partition
    count, no runtime partition coalescing, no sort-merge→broadcast
    promotion and no skew splitting, which at bench scale showed up as
    dozens of full-width tiny-task stages per micro-batch and at
    cluster scale forfeits the same runtime re-planning every batch
    query in the engine relies on. Flipping the conf back INSIDE the
    batch body is safe for the streaming plan itself: the planner
    never inserts AQE over streaming sources regardless of the conf
    (the start()-time disable is belt-and-braces), and the conf is
    re-checked per batch-body query only. Measured on the LSH face at
    sf0.1: 13.9 → 11.2 s warm with byte-identical published state
    (the differential face tests pin it)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark


def _scd2_merge_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One scd2_incremental_sink micro-batch, module-level so replay
    tests can re-drive a batch id directly. A replay re-appends its
    changes, which collapse on the (key, msg_id) dedup, so
    _merge_version recomputes scd2_v{batch_id} to identical content.

    The plan is 4 Spark jobs: the changelog append, one broadcast of
    the batch's keys, one shuffle and the version write.
    - Both reads declare their schemas (the change columns; the
      history's output), so neither runs a schema-inference job.
    - The broadcast keeps the batch's duplicate keys: semi- and
      anti-join results do not depend on them, and AQE reuses the one
      broadcast for both joins instead of shuffling to dedup it first.
      The price: the broadcast grows with the batch's rows, not its
      distinct keys, so a large batch (an uncapped availableNow
      backlog, or many updates to few keys) collects and broadcasts
      every row's key.
    - The (key, msg_id) dedup runs after an explicit hash repartition
      on the entity key, the same partitioning scd2_history's window
      needs, so dedup and window share one shuffle.
    The batch is deliberately not persisted: under AQE its cached read
    plans as a job of its own, 5 jobs per batch instead of 4.
    """
    changes_dir = f"{state_dir}/changes"
    spark = batch_df.sparkSession
    batch = batch_df.filter(F.col("op").isNotNull()).select(*SCD2_CHANGE_COLS)
    batch.write.mode("append").parquet(changes_dir)
    key = ["db", "table_name", "key"]
    affected = F.broadcast(batch.select(*key))
    changes = (
        spark.read.schema(batch.schema)
        .parquet(changes_dir)
        .join(affected, key, "left_semi")
        .repartition(*key)
        .dropDuplicates([*key, "msg_id"])
    )
    recomputed = cdc.scd2_history(changes)
    _merge_version(
        spark,
        state_dir,
        "scd2",
        batch_id,
        recomputed,
        lambda prev, delta: prev.join(affected, key, "left_anti").unionByName(delta),
        recomputed.schema,
    )
    _write_latest_pointer(spark, state_dir, batch_id)


# ---------------------------------------------------------------------------
# The versioned-state protocol every foreachBatch sink shares
# ---------------------------------------------------------------------------
#
# Structured Streaming recovers by replaying a failed micro-batch under
# the same batch id, so a sink body must be idempotent per batch id. The
# helpers below are that discipline, written once: a body reads prev
# state strictly before its batch (_prev_version) and overwrites
# {prefix}_v{batch_id} (_merge_version), writes _batch_id partitions
# under dynamic overwrite (_write_batch_partition), reads them back
# with explicit schemas (_read_batches) and publishes _LATEST last
# (_write_latest_pointer).
# Readers resolve a version through _current. All bookkeeping goes
# through the Hadoop FileSystem API (_hadoop_fs).


def _sink(stream: DataFrame, body, checkpoint_dir: str, *args) -> DataStreamWriter:
    """The stream's writer running ``body(batch_df, batch_id, *args)``
    once per micro-batch, checkpointed in ``checkpoint_dir`` — the
    checkpoint replays a failed batch with the same id and input. The
    one place a body gets its batch session: AQE is re-enabled
    (_batch_aqe) on ``batch_df.sparkSession`` before every call, so
    bodies, and the bodies they nest, just use that session."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _batch_aqe(batch_df.sparkSession)
        body(batch_df, batch_id, *args)

    return stream.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint_dir
    )


def _write_batch_partition(
    df: DataFrame, path: str, batch_id: int, *extra_partition_cols: str
) -> None:
    """Write ``df`` as the ``_batch_id={batch_id}`` partition of the
    dataset at ``path`` (partitioned by ``extra_partition_cols`` first).
    Dynamic overwrite replaces only the partitions present in ``df``,
    so a replayed batch rewrites its own rows instead of appending a
    second copy. A replay that computes NO rows would leave the first
    attempt's partition standing; that is sound only because the
    checkpoint replays a batch with identical input, which the replay
    tests pin."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*extra_partition_cols, "_batch_id")
        .parquet(path)
    )


def _read_batches(
    spark: SparkSession, path: str, schema: StructType, keep=None
) -> DataFrame:
    """The rows of the ``_batch_id``-partitioned dataset at ``path``
    whose batch id satisfies the ``keep`` predicate (every row when
    None), without the partition column; empty before any batch wrote
    the path.

    The read declares ``schema`` plus ``_batch_id`` instead of
    inferring them: a batch that produced ZERO rows leaves no part file
    to infer from, and inference would then fail the next batch (r12
    review). ``_batch_id`` is LongType because foreachBatch ids are
    64-bit and the value is parsed from the partition directory name
    against the declared type, whatever width F.lit() gave the
    writer. Before any batch wrote the path the relation is empty at
    plan time, so a body runs one code path from its first batch on."""
    if not _hadoop_path_exists(spark, path):
        # limit(0) makes the relation empty at plan time (an empty
        # LocalRelation), so Catalyst prunes every join and union it
        # feeds instead of planning them over an empty RDD
        return spark.createDataFrame([], schema).limit(0)
    df = spark.read.schema(
        StructType(list(schema.fields) + [StructField("_batch_id", LongType())])
    ).parquet(path)
    if keep is not None:
        df = df.filter(keep)
    return df.drop("_batch_id")


def _prev_version(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    batch_id: int,
    schema: StructType | None = None,
) -> DataFrame | None:
    """The newest published ``{prefix}`` version STRICTLY below
    ``batch_id`` (see _latest_state_version), or None before the first
    one, so a replayed batch recomputes its version from the same
    inputs. ``schema``, when given, is declared on the read so an
    all-empty version needs no schema-bearing part file."""
    v = _latest_state_version(spark, state_dir, prefix, before=batch_id)
    if v is None:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{state_dir}/{prefix}_v{v}")


def _merge_version(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    batch_id: int,
    delta: DataFrame,
    merge=None,
    schema: StructType | None = None,
) -> str:
    """Overwrite ``{prefix}_v{batch_id}`` with ``merge(prev, delta)``
    (``delta`` alone before the first version) and return its path;
    ``prev`` and ``schema`` are _prev_version's. A body that needs prev
    before it can build its version (the cc face) reads _prev_version
    itself and passes no ``merge``: ``delta`` is then the whole new
    version."""
    if merge is not None:
        prev = _prev_version(spark, state_dir, prefix, batch_id, schema)
        if prev is not None:
            delta = merge(prev, delta)
    path = f"{state_dir}/{prefix}_v{batch_id}"
    delta.write.mode("overwrite").parquet(path)
    return path


def _fold(keys: list[str], **folds):
    """A ``merge`` for monoid state: union prev with the batch's delta
    and re-fold each column per key (``cell=F.sum``, ``_r=F.max``,
    ``bits=F.bit_or``)."""
    return lambda prev, delta: prev.unionByName(delta).groupBy(*keys).agg(
        *[fold(c).alias(c) for c, fold in folds.items()]
    )


def _current(spark: SparkSession, state_dir: str, prefix: str) -> DataFrame | None:
    """The published ``{prefix}`` version _LATEST names, or None before
    the first batch publishes (readers never see a half-written
    version)."""
    v = _read_latest_pointer(spark, state_dir, prefix=prefix)
    return None if v is None else spark.read.parquet(f"{state_dir}/{prefix}_v{v}")


def _hadoop_fs(spark: SparkSession, path: str):
    """(Path, FileSystem) for any storage the cluster can address
    (local, HDFS, S3A, ...). ALL versioned-state bookkeeping — the
    _LATEST pointer, version listing, existence probes — goes through
    this API: a driver-local os.path/open() would only ever see the
    local disk and silently break every sink on a real deployment."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    jpath, fs = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` on any storage _hadoop_fs reaches (a
    missing path is a no-op)."""
    jpath, fs = _hadoop_fs(spark, path)
    fs.delete(jpath, True)


def _state_versions(
    spark: SparkSession, state_dir: str, prefix: str
) -> dict[int, bool]:
    """Every ``{prefix}_v{N}`` entry directly under ``state_dir`` as
    ``N -> published``; a version is published once its parquet write
    completed (``_SUCCESS`` marker). Empty when state_dir does not
    exist."""
    dirpath, fs = _hadoop_fs(spark, state_dir)
    if not fs.exists(dirpath):
        return {}
    versions = {}
    for status in fs.listStatus(dirpath):
        m = re.fullmatch(rf"{re.escape(prefix)}_v(\d+)", status.getPath().getName())
        if m is not None:
            success = spark._jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
            versions[int(m.group(1))] = bool(fs.exists(success))
    return versions


def _publish_file(
    spark: SparkSession, state_dir: str, name: str, batch_id: int, body: str
) -> None:
    """Publish ``{state_dir}/{name}`` holding ``body`` without ever
    exposing a partial file: the body is fully written to a hidden temp
    path first, then moved over the target (delete + rename — both
    single-file metadata ops on HDFS/local; object stores emulate
    rename with copy+delete but the copy is still of a COMPLETE source
    object). The r6 truncate-in-place fs.create(path, true) let a
    concurrent reader observe an empty/half-written pointer and crash
    on int('') (r6 ADVICE). The one remaining window — target briefly
    ABSENT between the delete and the rename — is handled on the read
    side."""
    tmp = f"{state_dir}/.{name}.tmp.{batch_id}"
    jtmp, fs = _hadoop_fs(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(body.encode("ascii"))
    finally:
        out.close()
    jdst = spark._jvm.org.apache.hadoop.fs.Path(f"{state_dir}/{name}")
    if fs.exists(jdst):
        fs.delete(jdst, False)
    if not fs.rename(jtmp, jdst):
        raise IOError(
            f"failed to publish {state_dir}/{name} (rename returned false); "
            f"partial file left at {tmp}"
        )


def _read_text(spark: SparkSession, path: str) -> str:
    jpath, fs = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _write_latest_pointer(spark: SparkSession, state_dir: str, batch_id: int) -> None:
    """Publish the reader-facing _LATEST pointer (the bare batch id)
    through _publish_file. Every sink body calls it last, after all of
    the batch's state is written, so a reader never resolves a partial
    batch."""
    _publish_file(spark, state_dir, "_LATEST", batch_id, str(batch_id))


def _read_latest_pointer(
    spark: SparkSession, state_dir: str, prefix: str | None = None
) -> int | None:
    """The _LATEST pointer's batch id. Reader-side convenience only —
    sinks resolve their prev state via _latest_state_version, never
    this pointer.

    Tolerant of an unreadable pointer: if the file is absent (the
    delete→rename publish window, or simply pre-first-publication) or
    its content is not a bare integer (legacy truncate-in-place
    publishes could expose a partial file), the reader falls back to
    the newest PUBLISHED ``{prefix}_v*`` version when ``prefix`` is
    given — the same resolution the sinks use — else None. No
    exception ever escapes to a reader because of publish timing."""
    from py4j.protocol import Py4JJavaError

    # narrow catch (not bare): the pointer can be absent or vanish
    # mid-read (the delete→rename publish window), and a pointer
    # corrupted out-of-band trips the checksummed local FS on read —
    # all of them the "unreadable pointer" case the fallback below
    # resolves from the version listing instead of crashing a reader.
    try:
        text = _read_text(spark, f"{state_dir}/_LATEST").strip()
    except Py4JJavaError:
        text = ""
    if text.isdigit():
        return int(text)
    if prefix is not None:
        return _latest_state_version(spark, state_dir, prefix)
    return None


def _latest_state_version(
    spark: SparkSession, state_dir: str, prefix: str, before: int | None = None
) -> int | None:
    """Largest PUBLISHED version of ``{state_dir}/{prefix}_v*`` —
    only directories whose parquet write completed (``_SUCCESS``
    marker) count — optionally restricted to versions strictly below
    ``before``.

    This is the replay-safe way for a foreachBatch sink to load its
    previous state: reading via the ``_LATEST`` pointer breaks when a
    batch crashed after publishing but before the streaming checkpoint
    committed — the replayed batch would read v{batch_id}, the very
    path it then overwrites (Spark rejects overwriting a path being
    read), and for sum-merged state would double-count the batch even
    if the write went through. ``before=batch_id`` makes prev strictly
    pre-batch, so replays recompute v{batch_id} from the same inputs
    and are idempotent. ``_LATEST`` remains a reader-side convenience
    only. Old versions accumulate by design (bounded: one small state
    relation per micro-batch); production deploys prune versions below
    the checkpointed watermark offline.

    Operational contract this rule implies: a state_dir is PAIRED with
    its streaming checkpoint — version numbers are the checkpoint's
    batch ids. Pointing a FRESH checkpoint at a retained state_dir
    restarts accumulation from scratch (batch 0 sees no version below
    it), which is the correct outcome: the fresh checkpoint also
    re-reads the whole source, so carrying the old state forward (as
    the pre-r6 _LATEST-based prev did) would double-count every
    previously ingested row. On checkpoint loss, re-drain into a fresh
    state_dir."""
    published = [
        v
        for v, ok in _state_versions(spark, state_dir, prefix).items()
        if ok and (before is None or v < before)
    ]
    return max(published, default=None)


def _accumulated_over_cap(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    bn: DataFrame,
    batch_id: int,
    cap: int,
    key_cols: list[str],
):
    """The LIFETIME per-key counts shared by the index faces
    (bcounts/ccounts/fcounts/vcounts): sum-merge this batch's counts
    ``bn`` (columns ``key_cols`` + ``_n``) into ``{prefix}_v{batch_id}``
    and return the BROADCAST over-cap key relation both pairing sides
    anti-join. Over-cap keys are bounded by total_rows / cap — a
    cap-th of the key space at worst — which is why the broadcast is
    safe at any scale.

    Both counts reads carry an EXPLICIT schema (``bn``'s own key
    fields + ``_n``), so an all-empty counts version does not depend on
    Spark writing a schema-bearing empty part file (r12 ADVICE)."""
    counts_schema = StructType([bn.schema[c] for c in key_cols] + [bn.schema["_n"]])
    path = _merge_version(
        spark, state_dir, prefix, batch_id, bn, _fold(key_cols, _n=F.sum), counts_schema
    )
    return F.broadcast(
        spark.read.schema(counts_schema)
        .parquet(path)
        .filter(F.col("_n") > cap)
        .select(*key_cols)
    )


def _refuse_legacy_index(
    spark: SparkSession, state_dir: str, legacy: str, current: str
) -> None:
    """Fail loudly on a state root whose index still lives under the
    pre-rename ``legacy`` directory. The sink reads only ``current``;
    without this check it would start from an empty index and never
    propose cross-batch pairs against the stored entities, while the
    sum-merged bucket counts still count them. There is no migration:
    rebuild the state by replaying the stream into a fresh state dir
    and checkpoint."""
    if _hadoop_path_exists(
        spark, f"{state_dir}/{legacy}"
    ) and not _hadoop_path_exists(spark, f"{state_dir}/{current}"):
        raise RuntimeError(
            f"{state_dir}/{legacy} holds an index in a retired layout; this "
            f"sink reads {state_dir}/{current}. Replay the stream into a "
            "fresh state dir and checkpoint to rebuild it."
        )


@dataclass(frozen=True)
class _PairIndex:
    """One capped blocking index, declared once per pair-index face.

    The stored base relation lives under ``{state_dir}/{base}`` as
    ``_batch_id`` partitions, one row per entity. Its blocking rows are
    DERIVED on read by ``project`` (band_relation over sigs, the chunk
    explode over hashes, variant_exploded over names, identity over
    frames), never stored. ``keys`` are the blocking keys, ``cap`` the
    lifetime per-key cap counted in ``{counts}_v{batch_id}``, ``id``
    the entity column the cross join guards on, and ``legacy`` a
    retired base dir that must not be read as an empty index."""

    base: str
    project: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]
    cap: int
    counts: str
    id: str = "doc_id"
    legacy: str | None = None


def _pair_index_batch(
    base_rows: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    index: _PairIndex,
    pairs: Callable[[DataFrame, DataFrame, DataFrame, DataFrame], DataFrame],
) -> None:
    """One micro-batch of a capped pair index: the protocol the lsh,
    phash/afp, vfp and edit faces share, written once.

    1. ``base_rows`` (this batch's base rows) persist for the batch and
       are released before it returns, also on a failed write: every
       consumer below reads them, and unpersisted each would re-run the
       face's decode or hash stage; a leaked block taxes every later
       query in a shared JVM.
    2. The blocking rows' per-key counts sum-merge into the lifetime
       counts (_accumulated_over_cap); keys over ``cap`` drop from BOTH
       sides before any pairing, so the cap binds on the accumulated
       bucket (index + batch).
    3. The stored base relation is read strictly before the batch
       (_read_batches: a replay's own partial write is excluded, and
       before the first batch the relation is empty at plan time) and
       projected to its blocking rows.
    4. Index (alias ``a``) equi-joins batch (alias ``b``) on the keys
       with ``a.{id} != b.{id}``. Index and batch entities are disjoint
       under the checkpoint's replay contract (a doc arrives in one
       batch, a failed batch replays with the same id and input), so
       each cross-batch pair is found exactly once, in the batch its
       LATER member arrives in. The guard only stops a doc redelivered
       under a NEW batch id from pairing with itself; such redelivery
       is outside the delivery contract (it would also re-emit the
       doc's old pairs, which no per-batch guard can repair).
    5. ``pairs(base, new, cross, stored)`` builds the verified pair log
       from the persisted base rows, the batch's capped blocking rows,
       that cross join and the pre-batch base relation; it lands as
       the batch's pair-log partition, the base rows append to the
       index, and _LATEST publishes last."""
    spark = base_rows.sparkSession
    if index.legacy is not None:
        _refuse_legacy_index(spark, state_dir, index.legacy, index.base)
    path, keys = f"{state_dir}/{index.base}", list(index.keys)
    base = base_rows.persist()
    try:
        rows = index.project(base)
        bn = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
        over_cap = _accumulated_over_cap(
            spark, state_dir, index.counts, bn, batch_id, index.cap, keys
        )
        stored = _read_batches(spark, path, base.schema, F.col("_batch_id") < batch_id)
        old = index.project(stored).join(over_cap, keys, "left_anti")
        new = rows.join(over_cap, keys, "left_anti")
        on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        on.append(F.col(f"a.{index.id}") != F.col(f"b.{index.id}"))
        cross = old.alias("a").join(new.alias("b"), reduce(operator.and_, on))
        _write_batch_partition(pairs(base, new, cross, stored), out_dir, batch_id)
        _write_batch_partition(base, path, batch_id)
    finally:
        base.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


def scd2_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The latest published SCD2 table version, or None before the
    first batch commits."""
    return _current(spark, state_dir, "scd2")


def foreach_batch_parquet_sink(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """foreachBatch escape hatch: sinks Spark lacks natively get the
    micro-batch as a plain DataFrame plus a batch id for idempotence.
    Here each batch lands through _write_batch_partition, giving
    effectively-once output on top of at-least-once delivery."""

    return _sink(df, lambda b, i: _write_batch_partition(b, out_dir, i), checkpoint_dir)


def contamination_guard_sink(
    stream_docs: DataFrame,
    eval_hashes: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    max_ratio: float = 0.5,
) -> DataStreamWriter:
    """Incremental decontamination: every arriving document is probed
    against the STATIC eval-set n-gram hashes (benchmarks are tiny and
    fixed for the life of a crawl-ingest stream — the natural broadcast
    side); docs at or under ``max_ratio`` contamination pass through to
    the clean parquet corpus, the rest are quarantined in place (kept
    rows carry the ratio so the cut is auditable).

    Runs the IDENTICAL probe as the batch operator — both call
    operators.dedup.contamination_profile — so streaming ingest and a
    batch backfill produce the same clean corpus
    (tests/test_streaming.py proves the equivalence across
    micro-batches). Per-batch work is a broadcast probe + one doc-keyed
    aggregate; no cross-batch state is needed because a document never
    straddles micro-batches. Output lands through
    _write_batch_partition (effectively-once)."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        contamination_profile,
    )
    from flink_kafka_filter_transform_spark.operators.text import token_ngrams, tokens

    def guard(batch_df: DataFrame, batch_id: int) -> None:
        grams = batch_df.select(
            "doc_id", token_ngrams(tokens(), n).alias("grams")
        ).filter(F.size("grams") > 0)
        prof = contamination_profile(grams, eval_hashes)
        clean = (
            batch_df.join(prof, "doc_id", "left")
            .filter(
                F.col("contamination_ratio").isNull()
                | (F.col("contamination_ratio") <= F.lit(max_ratio))
            )
            .select(
                batch_df["*"],
                F.coalesce("contamination_ratio", F.lit(0.0)).alias(
                    "contamination_ratio"
                ),
            )
        )
        _write_batch_partition(clean, out_dir, batch_id)

    return _sink(stream_docs, guard, checkpoint_dir)


def hll_merge_sink(
    stream: DataFrame, key: str, group: str, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental distinct-count sketching: maintain the HLL register
    relation (operators.sketch.hll_registers) across micro-batches via
    foreachBatch merge — the streaming face of sketch MERGEABILITY.

    Per batch: build the batch's registers (<= m rows per group however
    large the batch) and max-merge them into ``regs_v{batch_id}``
    (_merge_version). State size is bounded at m rows per group
    FOREVER — the property that lets a 100 TB ingest stream keep
    running distinct-user counts without ever storing a key set.

    Replay semantics — doubly safe: _merge_version recomputes a
    replayed batch id from the strictly-pre-batch prev, and max is
    idempotent as well as associative/commutative, so even a true
    duplicate DELIVERY that re-merges the same registers is a NO-OP —
    the estimate cannot drift under replay (contrast streaming.state's
    first-seen ledger, where only the min-winner column carries that
    guarantee). tests/test_streaming.py proves batch-vs-streaming
    equivalence and replay idempotence."""
    return _sink(stream, _hll_merge_batch, checkpoint_dir, key, group, state_dir)


def _hll_merge_batch(
    batch_df: DataFrame, batch_id: int, key: str, group: str, state_dir: str
) -> None:
    """One hll_merge_sink micro-batch (module-level for replay tests)."""
    from flink_kafka_filter_transform_spark.operators.sketch import hll_registers

    spark = batch_df.sparkSession
    regs = hll_registers(batch_df, key, [group])
    _merge_version(
        spark, state_dir, "regs", batch_id, regs, _fold([group, "_idx"], _r=F.max)
    )
    _write_latest_pointer(spark, state_dir, batch_id)


def hll_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published HLL register state, or None before the first
    batch (readers never see a half-written version)."""
    return _current(spark, state_dir, "regs")


def cms_merge_sink(
    stream_docs: DataFrame, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental Count-Min maintenance — the ADDITIVE counterpart of
    hll_merge_sink, completing incremental upkeep for all three sketch
    families (HLL distinct / CMS frequency / Bloom membership, whose
    bit_or registers merge exactly like the HLL max).

    Per batch: build the batch's CMS grid (operators.sketch.cms_grid,
    the IDENTICAL structure the batch estimator uses) and SUM-merge it
    into ``grid_v{batch_id}`` (_merge_version). State stays
    <= DEPTH*WIDTH rows forever.

    Replay semantics — deliberately contrasted with the HLL sink: sum
    is associative and commutative but NOT idempotent, so replay
    safety cannot come from the merge operator itself. It comes from
    _merge_version's strictly-pre-batch prev: a replayed batch id
    recomputes grid_v{batch_id} = grid_v{<batch_id} + batch (r5
    ADVICE: the _LATEST-based prev both double-counted and wedged the
    restart on Spark's read/overwrite conflict check). What remains
    non-idempotent is a true duplicate DELIVERY (same rows under a NEW
    batch id), where the CMS failure mode is benign for its contract:
    estimates are upper bounds and only inflate — the documented
    asymmetry between max-merge and sum-merge sketches."""
    return _sink(stream_docs, _cms_merge_batch, checkpoint_dir, state_dir)


def _cms_merge_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One cms_merge_sink micro-batch (module-level for replay tests)."""
    from flink_kafka_filter_transform_spark.operators.sketch import cms_grid

    spark = batch_df.sparkSession
    grid = cms_grid(batch_df)
    _merge_version(
        spark, state_dir, "grid", batch_id, grid, _fold(["row", "bucket"], cell=F.sum)
    )
    _write_latest_pointer(spark, state_dir, batch_id)


def cms_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published CMS grid, or None before the first batch."""
    return _current(spark, state_dir, "grid")


def bloom_merge_sink(
    stream_docs: DataFrame, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental Bloom membership maintenance — the OR-merge member
    that completes incremental upkeep for all three sketch families
    (HLL distinct / CMS frequency / Bloom membership). The streaming
    question it answers is "might we have ingested this content
    before?" in O(1) state — the probabilistic pre-filter in front of
    dedup_stream_state's exact first-seen ledger: at 100 TB the ledger
    holds one row per distinct hash (corpus-sized state), while this
    filter holds BLOOM_REGS rows FOREVER and its no-false-negative
    guarantee means a miss can skip the ledger lookup entirely.

    Per batch: distinct (h1, h2) content-hash pairs -> the batch's
    register relation (operators.sketch.bloom_build, the IDENTICAL
    structure the batch probe uses) -> bit_or-merge into
    ``bloom_v{batch_id}`` (_merge_version).

    Replay semantics — the strongest of the three: bit_or, like HLL's
    max and unlike CMS's sum, is associative, commutative, AND
    idempotent, so both a replayed batch id and a true duplicate
    DELIVERY are no-ops. A Bloom filter cannot drift under
    at-least-once; it can only converge."""
    return _sink(stream_docs, _bloom_merge_batch, checkpoint_dir, state_dir)


def _bloom_merge_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One bloom_merge_sink micro-batch (module-level for replay
    tests)."""
    from flink_kafka_filter_transform_spark.functions.hashing import (
        portable_hash64,
        portable_hash64_second,
    )
    from flink_kafka_filter_transform_spark.operators.sketch import bloom_build

    spark = batch_df.sparkSession
    keys = batch_df.select(
        portable_hash64("text").alias("_h1"),
        portable_hash64_second("text").alias("_h2"),
    ).distinct()
    regs = bloom_build(keys)
    _merge_version(
        spark, state_dir, "bloom", batch_id, regs, _fold(["reg"], bits=F.bit_or)
    )
    _write_latest_pointer(spark, state_dir, batch_id)


def bloom_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published Bloom registers, or None before the first
    batch."""
    return _current(spark, state_dir, "bloom")


def ivf_assign_sink(
    stream_vecs: DataFrame,
    centroids: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Incremental IVF index maintenance — the ingest half of a vector
    database: each arriving vector is assigned to its nearest coarse
    centroid (operators.kmeans._assign against the BROADCAST codebook;
    the quantizer is frozen while the stream runs, as in production
    IVF where re-training is an offline event) and appended to the
    cell-partitioned posting-list store that knn_ivf-style searches
    scan per probed cell. Per-cell occupancy counts are sum-merged as
    versioned state (``cells_v{batch_id}``, _merge_version): the
    signal that tells the operator a cell has outgrown its target
    size and the codebook needs offline re-training — the maintenance
    loop behind `embedding_neardup_refined`'s adaptive-cardinality
    lesson, run incrementally.

    Scale shape per batch: one broadcast crossJoin (k x dim codebook)
    + the per-vector argmin window over k candidate rows + a
    cell-partitioned append; the only aggregation is cell-cardinality
    counters. tests/test_streaming.py proves assignment equivalence
    with the batch operator and count-state correctness."""
    return _sink(
        stream_vecs, _ivf_assign_batch, checkpoint_dir, centroids, out_dir, state_dir
    )


def _ivf_assign_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    out_dir: str,
    state_dir: str,
) -> None:
    """One ivf_assign_sink micro-batch (module-level for replay
    tests): the posting lists land under (cid, _batch_id) partitions,
    the cell counters sum-merge into ``cells_v{batch_id}``."""
    from flink_kafka_filter_transform_spark.operators.kmeans import _assign

    spark = batch_df.sparkSession
    a = _assign(batch_df.select("vec_id", F.col("embedding").alias("v")), centroids)
    _write_batch_partition(batch_df.join(a, "vec_id"), out_dir, batch_id, "cid")
    counts = a.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))
    _merge_version(
        spark, state_dir, "cells", batch_id, counts, _fold(["cid"], n_vectors=F.sum)
    )
    _write_latest_pointer(spark, state_dir, batch_id)


def ivf_cell_counts(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published per-cell occupancy, or None before batch 0."""
    return _current(spark, state_dir, "cells")


def lsh_index_sink(
    stream_docs: DataFrame, state_dir: str, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental near-duplicate detection — the LSH band-bucket index
    maintained across micro-batches, the streaming face of
    operators.dedup.minhash_lsh_pairs:

    per batch: (1) MinHash signatures for arriving docs (the IDENTICAL
    minhash_signatures the batch path uses); (2) candidate pairs =
    within-batch LSH self-join UNION batch-vs-INDEX probes (the batch's
    band keys equi-join the accumulated index — each pair is emitted in
    exactly one batch, the one its LATER member arrives in, so no
    cross-batch dedup state is needed); (3) exact-Jaccard verification
    against the stored shingle sets; (4) verified pairs append to the
    pair log, the batch's signatures to the index (its band rows are
    derived from the stored signatures on read, never written).
    Steps (2)-(4) around this face's own signature stage, within-batch
    self-join and Jaccard verify are the _pair_index_batch protocol the
    capped pair-index faces share.

    After the stream drains, the pair log equals the batch operator's
    output — tests/test_streaming.py proves it — PROVIDED no band
    bucket crosses LSH_BUCKET_CAP mid-stream: the batch operator drops
    an over-cap bucket wholesale, while the incremental index stopped
    probing it only once its ACCUMULATED size crossed the cap (earlier
    emissions stand). That divergence is one-sided (the stream may
    emit a superset near the cap boundary) and bounded by the cap
    itself; exact batch parity near degenerate buckets requires a
    batch re-run, the same answer every incremental index gives.

    Replay discipline (r5 ADVICE): the signature index, like the pair
    log, lands through _write_batch_partition and is read back strictly
    before the batch, so a replay overwrites its own rows instead of
    re-appending them (duplicate sigs rows would fan out the
    verification join and re-emit pairs, and inflate accumulated
    bucket sizes toward LSH_BUCKET_CAP, silently dropping future
    pairs).

    Scale shape per batch: signature construction is the same map-only
    pass as batch; the index probe is an equi-join on (band_idx,
    band_key) — at 100 TB the index store is partitioned by band key
    hash so the probe prunes to matching partitions; the verification
    joins carry 60-bit shingle hashes, never text. Accumulated bucket
    sizes are sum-merged versioned state (``bcounts_v{batch_id}``,
    r7): the cap decision costs O(distinct band keys) with map-side
    combine instead of re-windowing the whole index every batch — the
    one per-batch cost that previously grew with total stream history.
    ``prune_state_versions(spark, state_dir, "bcounts")`` prunes the
    count versions exactly like the other sinks' state."""
    return _sink(stream_docs, _lsh_index_batch, checkpoint_dir, state_dir, out_dir)


def _lsh_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One lsh_index_sink micro-batch (module-level for replay tests):
    the _pair_index_batch protocol over the signature index."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.dedup import (
        band_relation,
        lsh_candidates,
        minhash_signatures,
    )

    def pairs(sig, new, cross, idx_sigs):
        # within-batch pairs come from the batch operator's own
        # self-join (its per-batch window cap included)
        cand = lsh_candidates(sig).unionByName(
            cross.select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            ).distinct()
        ).distinct()
        all_sigs = idx_sigs.unionByName(sig)
        s1 = all_sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        s2 = all_sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
            F.array_union("sh_a", "sh_b")
        )
        return (
            cand.join(s1, "doc_a")
            .join(s2, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= params.JACCARD_THRESHOLD)
        )

    # the stored relation is the signatures (the verify step reads
    # their shingles); the band rows are a pure map over the mh columns,
    # derived on read with parquet reading only doc_id + mh*
    index = _PairIndex(
        "sigs", band_relation, ("band_idx", "band_key"),
        params.LSH_BUCKET_CAP, "bcounts",
    )
    _pair_index_batch(
        minhash_signatures(batch_df), batch_id, state_dir, out_dir, index, pairs
    )


def phash_index_sink(
    stream_docs: DataFrame, state_dir: str, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental IMAGE near-duplicate detection — the perceptual-hash
    chunk index maintained across micro-batches, the streaming face of
    operators.multimodal.image_phash_pairs (and the first face that
    crosses the multimodal stack: the batch side of the pipeline is
    the REAL Arrow decode + dHash stage).

    per batch: (1) 60-bit dHashes for arriving images (the IDENTICAL
    image_phash map stage the batch path uses); (2) explode into the
    4 x 15-bit chunk relation; (3) candidate pairs = within-batch
    bucket pairs (the batch operator's one-pass bucket-collect
    expansion) UNION batch-vs-INDEX chunk probes — each pair is
    emitted in exactly one batch, the one its LATER member arrives in,
    so no cross-batch pair-dedup state is needed; (4) verification is
    bit_count(xor) <= PHASH_MAX_HAMMING on the hashes already in hand
    — unlike the LSH face there is NO separate verification state to
    maintain; (5) verified pairs append to the pair log, the batch's
    (doc_id, hash) rows to the index (chunk rows are derived on read).

    After the stream drains, the pair log equals image_phash_pairs —
    the CI parity test proves it against the SAME DuckDB oracle —
    PROVIDED no chunk bucket crosses PHASH_BUCKET_CAP mid-stream (the
    lsh_index_sink one-sided cap-boundary caveat, verbatim).

    Replay discipline: pair log and hash index land through
    _write_batch_partition, the accumulated bucket counts
    (``ccounts_v{batch_id}``) through _merge_version, so an
    at-least-once replay overwrites its own writes instead of
    re-appending (duplicate chunk rows would inflate accumulated
    buckets toward the cap and re-propose pairs).

    Scale shape per batch: decode+hash is the map-only Arrow stage;
    the index probe is an equi-join on (ci, ck) — at 100 TB the index
    store is partitioned by chunk-key hash so the probe prunes to
    matching partitions; only 16-byte (doc_id, hash) rows ever
    shuffle; cap decisions cost O(distinct chunk keys) with map-side
    combine."""
    return _sink(stream_docs, _phash_index_batch, checkpoint_dir, state_dir, out_dir)


def _phash_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One phash_index_sink micro-batch (module-level for replay
    tests)."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.multimodal import image_phash

    _fingerprint_index_batch(
        batch_df,
        batch_id,
        state_dir,
        out_dir,
        hash_stage=image_phash,
        hash_col="phash",
        n_chunks=params.PHASH_CHUNKS,
        chunk_bits=params.PHASH_CHUNK_BITS,
        bucket_cap=params.PHASH_BUCKET_CAP,
        max_hamming=params.PHASH_MAX_HAMMING,
    )


def _fingerprint_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    *,
    hash_stage,
    hash_col: str,
    n_chunks: int,
    chunk_bits: int,
    bucket_cap: int,
    max_hamming: int,
) -> None:
    """One micro-batch of the GENERIC Hamming-fingerprint index sink —
    the shared engine behind phash_index_sink (images) and
    afp_index_sink (audio): ``hash_stage`` is the map-only Arrow
    decode+hash stage and ``hash_col`` its output column. The index
    stores ONE (doc_id, hash) row per doc, the decode result worth
    keeping; its ``n_chunks`` chunk rows are derived on read by
    dedup.chunk_exploded, and the within-batch buckets expand through
    dedup.chunk_bucket_pairs, the same two helpers behind the batch
    operators' dedup.hamming_chunk_pairs. The cap/probe/publish
    protocol is _pair_index_batch."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        chunk_bucket_pairs,
        chunk_exploded,
    )

    def pairs(hashes, new, cross, stored):
        # the a side is always the indexed doc, so (sh_a, sh_b) is
        # deterministic per pair and the distinct() below is exact;
        # bit_count(xor) is symmetric, so no orientation beyond the ids.
        # The bucket cap never binds within the batch: ``new`` already
        # lost every key whose lifetime count exceeds it.
        cand = chunk_bucket_pairs(new, hash_col, bucket_cap).unionByName(
            cross.select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.col(f"a.{hash_col}").alias("sh_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                F.col(f"b.{hash_col}").alias("sh_b"),
            )
        ).distinct()
        hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
            F.col("hamming") <= max_hamming
        )

    index = _PairIndex(
        "hashes",
        lambda df: chunk_exploded(df, hash_col, n_chunks=n_chunks, chunk_bits=chunk_bits),
        ("ci", "ck"),
        bucket_cap,
        "ccounts",
        legacy="chunks",
    )
    _pair_index_batch(
        hash_stage(batch_df).select("doc_id", hash_col),
        batch_id, state_dir, out_dir, index, pairs,
    )


def afp_index_sink(
    stream_docs: DataFrame, state_dir: str, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental AUDIO near-duplicate detection — phash_index_sink's
    audio sibling (r10, VERDICT r9 item 6): the energy-contour
    fingerprint chunk index maintained across micro-batches, the
    streaming face of operators.multimodal.audio_fingerprint_pairs.
    The batch stage is the REAL RIFF/PCM16 decode + contour hash; the
    chunk/cap/probe/verify/publish protocol is _fingerprint_index_batch
    verbatim (the same shared engine the batch operators reach through
    dedup.hamming_chunk_pairs), so every property proven for the phash
    face — pair-in-later-batch emission, accumulated-cap discipline,
    replay idempotence — carries over unchanged."""
    return _sink(stream_docs, _afp_index_batch, checkpoint_dir, state_dir, out_dir)


def _afp_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One afp_index_sink micro-batch (module-level for replay
    tests)."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.multimodal import (
        audio_fingerprint,
    )

    _fingerprint_index_batch(
        batch_df,
        batch_id,
        state_dir,
        out_dir,
        hash_stage=audio_fingerprint,
        hash_col="afp",
        n_chunks=params.AFP_CHUNKS,
        chunk_bits=params.AFP_CHUNK_BITS,
        bucket_cap=params.AFP_BUCKET_CAP,
        max_hamming=params.AFP_MAX_HAMMING,
    )


def vfp_index_sink(
    stream_docs: DataFrame, state_dir: str, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental VIDEO near-duplicate detection — the frame-
    fingerprint index maintained across micro-batches, the streaming
    face of operators.multimodal.video_frame_match_pairs and the last
    member of the multimodal near-dup triad to get one (r11, VERDICT
    r10 item 5; image and audio share _fingerprint_index_batch).

    The video op differs from the Hamming pair: a doc carries MANY
    frame fingerprints, matching is EXACT fh equality (no hamming
    verify), and the pair survives at >= VID_MIN_MATCH shared frames
    — so the fingerprint engine's distinct()-then-verify shape doesn't
    apply and this sink keeps the COUNT path instead, on the same
    _pair_index_batch cap/probe/publish protocol:

    per batch: (1) real demux + per-frame dHash for arriving videos
    (the IDENTICAL video_frame_hashes Arrow stage), DISTINCT (doc,
    fh); (2) accumulated per-fh distinct-doc counts maintained as
    sum-merged ``fcounts_v{batch_id}`` (disjoint batches make the
    distinct-doc count a plain sum); buckets whose
    ACCUMULATED occupancy exceeds VID_FRAME_CAP are dropped from
    both sides before any pairing (boilerplate frames: intro cards /
    black frames); (3) per-fh match rows = within-batch bucket-
    collect expansion UNION batch-vs-index fh probes — one row per
    shared under-cap frame hash; (4) ONE pair-keyed count aggregate
    >= VID_MIN_MATCH. Because a doc's frames all arrive in its one
    batch, the LATER member's batch sees every shared fh of the
    pair, so each pair is emitted exactly once with its COMPLETE
    matched-frame count — no partial-count state, no cross-batch
    pair dedup.

    After the drain the pair log equals video_frame_match_pairs
    (same DuckDB oracle), with the standing one-sided cap-boundary
    caveat of the sibling faces (a bucket crossing the cap
    mid-stream cannot retract already-emitted pairs; unreachable at
    driver scale and CI-differentially checked every run).

    Scale shape per batch: demux/decode is the map-only Arrow stage
    (frame pixels never shuffle; 16-byte (doc_id, fh) rows do); the
    index probe is an fh equi-join that a real deployment prunes by
    fh-hash partitioning; cap decisions are map-side-combined counts;
    the pair aggregate is bounded by capped-bucket expansion."""
    return _sink(stream_docs, _vfp_index_batch, checkpoint_dir, state_dir, out_dir)


def _vfp_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One vfp_index_sink micro-batch (module-level for replay tests):
    the _pair_index_batch protocol over the frame index, which stores
    its blocking rows as they are (identity projection)."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.multimodal import (
        SORTED_PAIR_EXPANSION,
        video_frame_hashes,
    )

    def pairs(fr, new, cross, stored):
        within = (
            new.groupBy("fh")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(F.explode(F.expr(SORTED_PAIR_EXPANSION)).alias("p"))
            .select("p.doc_a", "p.doc_b")
        )
        # one match row per shared under-cap fh, exactly the count
        # contribution the batch operator's bucket expansion produces;
        # the protocol's a.doc_id != b.doc_id guard keeps a redelivered
        # doc from matching its own indexed frames (a self-pair whose
        # n_matched is its full frame count, which the batch operator
        # can never emit)
        cross = cross.select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        return (
            within.unionByName(cross)
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_matched"))
            .filter(F.col("n_matched") >= params.VID_MIN_MATCH)
        )

    index = _PairIndex("frames", lambda df: df, ("fh",), params.VID_FRAME_CAP, "fcounts")
    fr = video_frame_hashes(batch_df).select("doc_id", "fh").distinct()
    _pair_index_batch(fr, batch_id, state_dir, out_dir, index, pairs)


def ivo_overlap_sink(
    stream_lineitem: DataFrame, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental interval-overlap profile — the streaming twin of
    operators.rangejoin.interval_overlap_pairs (r11, VERDICT r10
    item 7), closing the temporal family's streaming story.

    The batch op's two exactly-once devices port directly to the
    micro-batch protocol:

    - DAY-BUCKET OWNERSHIP dedups bucket multiplicity: only the
      bucket holding greatest(a_start, b_start) emits a pair — and
      both intervals were exploded into that bucket, so the equi-join
      finds the pair there whichever batches its members arrived in.
    - PAIR-IN-LATER-BATCH dedups batch multiplicity (the fingerprint
      faces' rule): within-batch pairs come from the batch's
      self-join (a_iid < b_iid), cross-batch pairs from the
      batch-vs-index probe (_batch_id < batch_id) — an interval
      lands in exactly one batch, so the two sources partition the
      pair space. Cross pairs need NO orientation: the overlap
      predicate, the ownership test, and overlap_days are all
      symmetric, and iids are disjoint across batches.

    Maintained state is SUPPLIER-cardinality, not pair-cardinality:
    the per-supplier (n_pairs, sum_overlap_days, max_overlap_days)
    rollup is a commutative monoid (sum / sum / max), maintained as
    ``osum_v{batch_id}`` versions (_merge_version), plus the exploded
    interval index under ``_batch_id`` partitions
    (_write_batch_partition). After the drain the published rollup equals the
    one-shot batch operator — the same naive-inequality DuckDB oracle
    checks the bucketing, the ownership rule, AND the micro-batch
    split in one differential gate.

    Scale shape per batch: the probe is an equi-join on (suppkey,
    _bucket) pinned shuffle_hash (the batch op's measured-cliff rule:
    both sides are corpus-sized by construction and Catalyst's
    estimate through the explode is unreliable); AQE skew-splits hot
    (supplier, fortnight) cells; a real deployment prunes the index
    read by bucket-range partitioning since a batch only probes the
    buckets its own intervals touch."""
    return _sink(stream_lineitem, _ivo_overlap_batch, checkpoint_dir, state_dir)


def _ivo_overlap_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One ivo_overlap_sink micro-batch (module-level for replay
    tests)."""
    from flink_kafka_filter_transform_spark.operators.rangejoin import (
        lineitem_transit_intervals,
        overlap_bucketed,
        overlap_days,
        overlap_pred,
        overlap_side,
    )

    spark = batch_df.sparkSession
    # the shared rangejoin helpers guarantee bucket assignment, side
    # projections, ownership, and overlap arithmetic stay BYTE-
    # IDENTICAL with the batch operator (r11 review — exactly-once
    # depends on it)
    ex = overlap_bucketed(lineitem_transit_intervals(batch_df)).persist()
    try:
        iv = ex.select("l_suppkey", "iid", "start_day", "end_day", "_bucket")
        left = overlap_side(ex, "a")
        right = overlap_side(ex, "b")
        within = (
            left.join(right.hint("shuffle_hash"), ["suppkey", "_bucket"])
            .filter((F.col("a_iid") < F.col("b_iid")) & overlap_pred())
            .select("suppkey", overlap_days().alias("overlap_days"))
        )
        # the index stores ex's own column names, so the probe side is
        # the SAME overlap_side projection the batch operator uses — no
        # hand-rolled copy to drift
        idx = overlap_side(
            _read_batches(
                spark, f"{state_dir}/iv", iv.schema, F.col("_batch_id") < batch_id
            ),
            "a",
        )
        # a_iid != b_iid mirrors the batch op's strict a_iid < b_iid:
        # iids are NOT unique in the fixture (duplicate (orderkey,
        # linenumber) rows), and same-iid pairs are excluded from the
        # pair space on both engines — without this, two same-iid rows
        # landing in different batches would emit a self-pair the batch
        # operator never counts.
        cross = (
            idx.join(right.hint("shuffle_hash"), ["suppkey", "_bucket"])
            .filter((F.col("a_iid") != F.col("b_iid")) & overlap_pred())
            .select("suppkey", overlap_days().alias("overlap_days"))
        )
        delta = within.unionByName(cross).groupBy("suppkey").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("overlap_days").alias("sum_overlap_days"),
            F.max("overlap_days").alias("max_overlap_days"),
        )
        monoid = _fold(
            ["suppkey"],
            n_pairs=F.sum,
            sum_overlap_days=F.sum,
            max_overlap_days=F.max,
        )
        _merge_version(spark, state_dir, "osum", batch_id, delta, monoid)
        _write_batch_partition(iv, f"{state_dir}/iv", batch_id)
    finally:
        # released even on a failed write: a leaked block taxes
        # every later query in a shared JVM (bench r5 lesson /
        # r12 ADVICE)
        ex.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


def edit_index_sink(
    stream_rows: DataFrame,
    key_col: str,
    name_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Incremental edit-distance record linkage — the streaming face
    of operators.linkage.edit_distance_pairs (r12, VERDICT r11
    item 6), closing the linkage family's streaming story with the
    _pair_index_batch protocol over VARIANT keys:

    per batch: (1) arriving entities explode into their symmetric-
    delete variant rows (the SHARED linkage.variant_exploded — recall
    depends on both faces deriving variants identically); (2) the
    LIFETIME per-variant entity count is sum-merged as
    ``vcounts_v{batch_id}`` and variants over EDIT_BLOCK_CAP drop
    from BOTH sides before any pairing — the cap binds on the
    accumulated block exactly as the batch operator's cap binds on
    the whole-corpus block (one-sided cap-boundary caveat if a block
    crosses the cap mid-stream, verbatim from the LSH face);
    (3) candidate pairs = within-batch sorted-block expansion (the
    batch operator's own VARIANT_PAIR_EXPANSION) UNION batch-vs-index
    variant probes — each pair emits in exactly the batch its LATER
    member arrives in; (4) verification is the built-in levenshtein
    on the names already in hand — no separate verify state;
    (5) verified pairs land in the pair log, the batch's (key, name)
    rows in the name index, whose variant rows are derived on read.

    Cross-probe pairs orient by least/greatest over (k, nm) structs —
    the SAME lexicographic ordering array_sort gives the within-batch
    blocks — and the explicit a.k != b.k guard is the sibling faces'
    redelivery rule (same-batch-id replay is fully idempotent;
    cross-batch whole-doc redelivery is outside the delivery
    contract, as _pair_index_batch documents).

    After the drain the pair log equals the one-shot batch operator,
    and the SAME naive quadratic DuckDB oracle gates the blocking,
    the verify, and the micro-batch split in one differential check.

    Scale shape per batch: variant fan-out <= len+1 per entity; the
    probe is an equi-join on the variant string — at 100 TB the index
    store is partitioned by variant hash so the probe prunes to
    matching partitions; only (key, name, variant) rows ever shuffle,
    never anything quadratic (blocks are capped)."""
    return _sink(
        stream_rows,
        _edit_index_batch,
        checkpoint_dir,
        key_col,
        name_col,
        state_dir,
        out_dir,
    )


def _edit_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    key_col: str,
    name_col: str,
    state_dir: str,
    out_dir: str,
) -> None:
    """One edit_index_sink micro-batch (module-level for replay tests):
    the _pair_index_batch protocol over the name index."""
    from flink_kafka_filter_transform_spark.operators.linkage import (
        EDIT_BLOCK_CAP,
        VARIANT_PAIR_EXPANSION,
        variant_exploded,
    )

    def pairs(names, new, cross, stored):
        within = (
            new.groupBy("variant")
            .agg(F.array_sort(F.collect_set(F.struct("k", "nm"))).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(F.explode(F.expr(VARIANT_PAIR_EXPANSION)).alias("p"))
            .select("p.ak", "p.anm", "p.bk", "p.bnm")
        )
        # least/greatest over (k, nm) structs: the lexicographic order
        # array_sort gives the within-batch blocks
        sa = F.struct(F.col("a.k").alias("k"), F.col("a.nm").alias("nm"))
        sb = F.struct(F.col("b.k").alias("k"), F.col("b.nm").alias("nm"))
        lo, hi = F.least(sa, sb), F.greatest(sa, sb)
        cross = cross.select(
            lo["k"].alias("ak"),
            lo["nm"].alias("anm"),
            hi["k"].alias("bk"),
            hi["nm"].alias("bnm"),
        )
        return (
            within.unionByName(cross)
            .distinct()
            .withColumn("distance", F.levenshtein("anm", "bnm"))
            .filter(F.col("distance") <= 1)
            .select(
                F.col("ak").alias(f"a_{key_col}"),
                F.col("bk").alias(f"b_{key_col}"),
                F.col("distance").cast("int").alias("distance"),
            )
        )

    # the index stores one narrow (k, nm) row per entity; its ~L+1
    # variant rows are derived on read (variant_exploded is a pure map,
    # and it drops nm-null rows exactly as the filter below does)
    index = _PairIndex(
        "names",
        lambda df: variant_exploded(df, "k", "nm"),
        ("variant",),
        EDIT_BLOCK_CAP,
        "vcounts",
        id="k",
        legacy="variants",
    )
    names = batch_df.select(F.col(key_col).alias("k"), F.col(name_col).alias("nm"))
    _pair_index_batch(
        names.filter(F.col("nm").isNotNull()), batch_id, state_dir, out_dir, index, pairs
    )


def cc_labels_sink(
    stream_docs: DataFrame, state_dir: str, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental near-dup CLUSTER maintenance — connected-component
    labels kept current as pairs stream in (r13, VERDICT r12 item 4:
    every pair PRODUCER had a streaming face, but cluster assignment —
    the thing a pipeline actually consumes to pick survivors — was
    batch-only, forcing a full CC re-run over the pair history to
    refresh survivor sets).

    per batch: (1) the document batch runs through the UNCHANGED
    _lsh_index_batch (index maintenance + this batch's verified pairs
    to the pair log under ``out_dir`` — single-sourced, so the pair
    semantics can never drift from lsh_stream_state); (2) arriving
    docs enter the label table as singletons (label := own doc_id);
    (3) the batch's pairs are lifted to LABEL edges (each endpoint's
    current component label) — the affected-subgraph contraction: a
    new pair either lands inside one component (la == lb, dropped) or
    merges components, and merging needs only the LABEL graph, never
    the full pair history; (4) the label graph ONLY (nodes <= 2x batch
    pairs — the SCD2 face's affected-key recompute pattern) resolves
    to old-label -> new-label; (5) the remap broadcasts into one
    relabel pass over the label table, and ``labels_v{batch_id}``
    publishes through _merge_version.

    Correctness invariant: every component's label is the MIN doc_id
    of the component. It holds inductively — new docs start as their
    own label, and a merge takes the min over merged labels (min-label
    propagation on the label graph), which IS the min doc_id of the
    union. After the drain the labels equal the one-shot batch
    operator graph.neardup_clusters over the same corpus —
    tests/test_streaming.py proves it, and the cc_stream_state face
    puts it under the driver's RECURSIVE-CTE oracle.

    Replay discipline: prev labels are the newest published version
    strictly below the batch id (_prev_version, declared schema — the
    empty-first-batch rule), so a replayed batch recomputes
    ``labels_v{batch_id}`` from the same inputs, and _lsh_index_batch
    re-emits the identical pair partition.

    Scale shape per batch: the LSH probe is the index sink's own cost;
    the label-edge graph is bounded by the batch's PAIR count (not
    the corpus, not the history) and — because contraction collapses
    every prior round's work into single nodes — is near-diameter-1,
    so below SMALL_GRAPH_EDGE_CAP it resolves in ONE bounded driver
    union-find (graph.components_unionfind_small — r14, deleting the
    distributed fixpoint's per-round tiny-job cadence that made the
    face suite-noise-sensitive at sf0.1); past the cap the generic
    distributed loop takes over unchanged. Each batch rewrites the
    whole label table (one row per doc drained so far).

    Old versions prune offline like every face's:
    prune_state_versions(spark, state_dir, "labels") for the label
    table, and prune_state_versions(spark, f"{state_dir}/lsh",
    "bcounts") for the nested LSH sub-state (r13 ADVICE: it is the
    face's dominant state volume). The ``sigs`` index ``_batch_id``
    partitions under ``{state_dir}/lsh`` are append-only partitions,
    not versions, so the version pruner does not see them: prune
    those below the checkpoint watermark with the same offline
    cadence."""
    return _sink(stream_docs, _cc_labels_batch, checkpoint_dir, state_dir, out_dir)


def _refuse_label_manifest(spark: SparkSession, state_dir: str) -> None:
    """Fail loudly on a state root written by the retired label-range
    sharded protocol: ``lmanifest_v*`` files mapping shards to the
    ``labels_v*`` versions that each hold only the shards their batch
    rewrote. Read as whole tables, those versions would silently drop
    every shard the newest one did not rewrite. There is no migration:
    rebuild the state by replaying the stream into a fresh state dir
    and checkpoint."""
    manifests = _state_versions(spark, state_dir, "lmanifest")
    if manifests:
        raise RuntimeError(
            f"{state_dir}/lmanifest_v{max(manifests)} belongs to the retired "
            "sharded label layout, which this sink cannot read. Replay the "
            "stream into a fresh state dir and checkpoint to rebuild it."
        )


def _cc_labels_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One cc_labels_sink micro-batch (module-level for replay tests);
    see the sink docstring for the protocol."""
    from flink_kafka_filter_transform_spark.operators.graph import (
        components_unionfind_small,
        connected_components,
    )

    spark = batch_df.sparkSession
    _refuse_label_manifest(spark, state_dir)
    _lsh_index_batch(batch_df, batch_id, f"{state_dir}/lsh", out_dir)
    id_type = batch_df.schema["doc_id"].dataType
    # this batch's verified pairs — the partition _lsh_index_batch just
    # wrote (replay overwrites it, so the read always sees exactly this
    # batch's recomputed pairs)
    pair_schema = StructType(
        [
            StructField("doc_a", id_type),
            StructField("doc_b", id_type),
            StructField("jaccard", DoubleType()),
        ]
    )
    label_schema = StructType(
        [StructField("doc_id", id_type), StructField("label", id_type)]
    )
    prev = _prev_version(spark, state_dir, "labels", batch_id, label_schema)
    fresh = batch_df.select("doc_id").distinct().select(
        "doc_id", F.col("doc_id").alias("label")
    )
    # a doc arrives in exactly one batch (the delivery contract every
    # face shares) and prev is strictly pre-batch, so fresh and prev
    # are disjoint by construction — plain union, no key-merge shuffle.
    # Both multi-consumer relations persist for the batch (the
    # index-batch bodies' sig/chunks/fr/ex discipline — r13 review):
    # base feeds the two endpoint-label joins and the relabel write;
    # ledges feeds the edge count and the small-graph collect or the
    # distributed fixpoint.
    base = (fresh if prev is None else prev.unionByName(fresh)).persist()
    try:
        pairs_now = _read_batches(
            spark, out_dir, pair_schema, F.col("_batch_id") == batch_id
        ).select("doc_a", "doc_b")
        a_lab = base.select(F.col("doc_id").alias("doc_a"), F.col("label").alias("la"))
        b_lab = base.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("lb"))
        ledges = (
            pairs_now.join(a_lab, "doc_a")
            .join(b_lab, "doc_b")
            .filter(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
            .distinct()
            .persist()
        )
        try:
            # the label graph resolves driver-side below the cap (the
            # r14 fast path — ONE bounded collect replaces the
            # distributed loop's per-round tiny-job cadence);
            # components_unionfind_small returns None past the cap and
            # the generic fixpoint takes over.
            small = components_unionfind_small(ledges)
            remap_df = None
            if small is not None:
                remap_rows = [(n, c) for n, c in small if n != c]
                if remap_rows:
                    # ONE parallelize slice: createDataFrame splits local
                    # rows into defaultParallelism near-empty slices, so
                    # the remap's broadcast BUILD would schedule a
                    # core-count-wide task wave per micro-batch (r14);
                    # r15: the earlier ``.coalesce(1)`` still executed
                    # all parent python slices sequentially inside one
                    # task (a python-worker round-trip each) — slice at
                    # creation instead
                    remap_df = spark.createDataFrame(
                        spark.sparkContext.parallelize(remap_rows, 1),
                        StructType(
                            [
                                StructField("label", id_type),
                                StructField("_new", id_type),
                            ]
                        ),
                    )
            else:
                lverts = (
                    ledges.select(F.col("src").alias("id"))
                    .unionAll(ledges.select(F.col("dst").alias("id")))
                    .distinct()
                )
                # lverts IS the endpoint set of ledges, so the induced-
                # subgraph restriction is a no-op — skip its semi-joins
                m = connected_components(
                    lverts, ledges, edges_within_vertices=True
                )
                remap_df = m.filter(F.col("component") != F.col("id")).select(
                    F.col("id").alias("label"), F.col("component").alias("_new")
                )
            labels = base
            if remap_df is not None:
                labels = base.join(F.broadcast(remap_df), "label", "left").select(
                    "doc_id", F.coalesce("_new", "label").alias("label")
                )
            _merge_version(spark, state_dir, "labels", batch_id, labels)
        finally:
            ledges.unpersist()
    finally:
        # released even on a failed write (the r12 ADVICE rule)
        base.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


def cc_labels_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The latest published component-label table (doc_id, label), or
    None before the first batch commits. A drain of an empty corpus
    publishes an empty table, typed by its part file."""
    _refuse_label_manifest(spark, state_dir)
    return _current(spark, state_dir, "labels")


# ---------------------------------------------------------------------------
# Driver-checkable batch faces for the maintenance sinks
# ---------------------------------------------------------------------------
#
# The merge sinks above are pytest-proven equivalent to their batch
# operators, but equivalence tests live outside the driver's DuckDB
# gate. These query-shaped faces close that gap. Each one projects its
# sf-dir table and hands it to _drain_face, the one runner: it stages
# the table as a real file stream under a fresh face scratch dir and
# drains it through the ACTUAL sink (availableNow +
# maxFilesPerTrigger=1, so the state is built across several genuine
# micro-batch merges, not one), i.e. the replayable source half of
# Structured Streaming's recovery model, written once. The face then
# reads the final published state as a DataFrame. Because every
# maintained state is a commutative monoid fold (register max /
# counter sum) over disjoint row partitions, the drained state is
# micro-batch-split INVARIANT — equal to the one-shot batch sketch —
# which is exactly what a plain DuckDB oracle over the same table
# computes. Scratch placement goes through _face_scratch
# (cluster-addressability guard); dirs are not cleaned eagerly — the
# returned DataFrame lazily reads the published state parquet — but
# cleanup_face_scratch lets a harness reclaim them once the state has
# been consumed.

FACE_SCRATCH_ROOT_CONF = "spark.flinkKafkaFilterTransformSpark.faceScratchRoot"
_FACE_SCRATCH_DIRS: list[str] = []


def _scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh ``{prefix}…`` scratch dir that every task can address:
    the one resolver behind the sink faces' per-run scratch
    (_face_scratch) and the session-lived layout twins
    (operators.relational._ensure_layout_table), which keep separate
    cleanup registries. With FACE_SCRATCH_ROOT_CONF set the dir is
    created under that root through the Hadoop FileSystem API. On
    local[*] masters it is otherwise a driver-local mkdtemp — the
    executors share the driver's filesystem. On a REAL cluster a
    driver-local temp dir is NOT addressable from executors (the same
    rule _hadoop_fs enforces for the sinks' own state), so the
    resolver refuses to guess and requires FACE_SCRATCH_ROOT_CONF to
    name a cluster-addressable URI (HDFS/S3A/...)."""
    import tempfile
    import uuid

    root = spark.conf.get(FACE_SCRATCH_ROOT_CONF, None)
    if root:
        scratch = f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
        jpath, fs = _hadoop_fs(spark, scratch)
        fs.mkdirs(jpath)
        return scratch
    if not spark.sparkContext.master.startswith("local"):
        raise RuntimeError(
            f"{prefix}* scratch dirs (streaming face source/checkpoint/state, "
            "layout-twin tables) must be cluster-addressable; on a non-local "
            f"master set {FACE_SCRATCH_ROOT_CONF} to a cluster-addressable URI "
            "(driver-local temp dirs are invisible to executors)"
        )
    return tempfile.mkdtemp(prefix=prefix)


def _face_scratch(spark: SparkSession, prefix: str) -> str:
    """Scratch root for one sink-face run (source files, checkpoint,
    state): a _scratch_dir recorded for cleanup_face_scratch."""
    scratch = _scratch_dir(spark, prefix)
    _FACE_SCRATCH_DIRS.append(scratch)
    return scratch


def cleanup_face_scratch(spark: SparkSession) -> list[str]:
    """Delete every scratch dir the sink faces created in this process
    and return the deleted paths. Call only after the DataFrames the
    faces returned have been fully consumed (they read the published
    state lazily from inside the scratch dir)."""
    deleted: list[str] = []
    while _FACE_SCRATCH_DIRS:
        scratch = _FACE_SCRATCH_DIRS.pop()
        _delete_path(spark, scratch)
        deleted.append(scratch)
    return deleted


def _drain_face(
    df: DataFrame, name: str, sink_fn, out: str = "pairs"
) -> tuple[str, str]:
    """Drain ``df`` through one sink face and return its
    ``(state_dir, out_dir)``: ``{scratch}/state`` and ``{scratch}/{out}``
    under a fresh ``sgraft_{name}_stream_`` face scratch dir. ``df`` is
    staged as a 4-file parquet stream under ``src`` (an empty frame
    still writes one schema-bearing part file, so even an empty table
    commits batch 0) and drained through ``sink_fn(stream, state_dir,
    out_dir, checkpoint_dir)`` with an availableNow trigger, one file
    per micro-batch, within 600 s."""
    spark = df.sparkSession
    scratch = _face_scratch(spark, f"sgraft_{name}_stream_")
    src, state, out_dir = f"{scratch}/src", f"{scratch}/state", f"{scratch}/{out}"
    df.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ckpt = f"{scratch}/ckpt"
    q = sink_fn(stream, state, out_dir, ckpt).trigger(availableNow=True).start()
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("streaming sink did not drain within 600s")
    return state, out_dir


def hll_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the events table drained through
    hll_merge_sink (distinct user_id per event_type), returning the
    final HLL register relation (event_type, _idx, _r). The oracle
    computes the registers directly in SQL — max-merge across
    micro-batches is lossless, so streamed state == batch sketch."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    events = load_table(spark, "events", sf_dir).select("event_type", "user_id")
    state, _ = _drain_face(
        events,
        "hll",
        lambda stream, state, out, ckpt: hll_merge_sink(
            stream, "user_id", "event_type", state, ckpt
        ),
    )
    return hll_current(spark, state)


def cms_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the documents table drained through
    cms_merge_sink, returning the final Count-Min grid (row, bucket,
    cell). Sum-merge over disjoint micro-batches equals the one-shot
    grid, which the oracle builds in SQL."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state, _ = _drain_face(
        docs, "cms", lambda stream, state, out, ckpt: cms_merge_sink(stream, state, ckpt)
    )
    return cms_current(spark, state)


def bloom_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the documents table drained through
    bloom_merge_sink (content-hash membership), returning the final
    Bloom register relation (reg, bits) — <= BLOOM_REGS rows however
    large the corpus. OR-merge across micro-batches is lossless (the
    register OR of per-batch key sets equals the registers of the
    union), so streamed state == the one-shot batch filter, which the
    oracle builds in SQL from the same double-hash probe positions."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state, _ = _drain_face(
        docs,
        "bloom",
        lambda stream, state, out, ckpt: bloom_merge_sink(stream, state, ckpt),
    )
    return bloom_current(spark, state)


def _cached_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default kmeans_fit codebook over the sf_dir embeddings,
    materialized once per (sf_dir, kmeans-source version) to a parquet
    cache — the cdc_events_df pattern (sources.cdc_fixture). The IVF
    face otherwise re-runs the full deterministic Lloyd chain that the
    gated kmeans family already computes in the same bench run — ~40%
    of the face's 10.9 s (VERDICT r6 item 5). Pure memoization of a
    deterministic computation: the cache key hashes the kmeans module
    SOURCE, so any trainer edit invalidates; values are bit-identical
    to an inline kmeans_fit (tests/test_streaming.py asserts it).
    Production streams freeze their quantizer offline — this cache is
    the harness's stand-in for that frozen-codebook store.

    Cache key (r7 ADVICE): hashes the kmeans module source PLUS its
    kmeans-affecting transitive deps (operators.params,
    functions.hashing) PLUS a fingerprint of the embeddings parquet
    files themselves (name+size+mtime per file) — so an in-place
    dataset regeneration or a helper-module edit invalidates the
    machine-wide cache instead of silently serving stale centroids."""
    import glob as _glob
    import hashlib
    import inspect
    import os
    import shutil
    import tempfile

    from flink_kafka_filter_transform_spark.functions import hashing as _hashing_mod
    from flink_kafka_filter_transform_spark.operators import kmeans as kmeans_ops
    from flink_kafka_filter_transform_spark.operators import params as _params_mod
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    emb_path = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    data_parts = []
    for p in sorted(_glob.glob(emb_path) + _glob.glob(os.path.join(emb_path, "*"))):
        st = os.stat(p)
        data_parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    key = "{}_{}".format(
        os.path.basename(os.path.normpath(sf_dir)),
        hashlib.md5(
            (
                "v2\x00"
                + os.path.abspath(sf_dir)
                + "\x00"
                + "\x00".join(data_parts)
                + "\x00"
                + inspect.getsource(kmeans_ops)
                + "\x00"
                + inspect.getsource(_params_mod)
                + "\x00"
                + inspect.getsource(_hashing_mod)
            ).encode()
        ).hexdigest()[:10],
    )
    cache = os.path.join(tempfile.gettempdir(), "spark_graft_codebook_cache", key)
    if not os.path.isdir(cache):
        emb = load_table(spark, "embeddings", sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        _, cents = kmeans_ops.kmeans_fit(emb)
        tmp = f"{cache}.tmp-{os.getpid()}"
        cents.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, cache)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race; cache exists
    return spark.read.parquet(cache)


def ivf_stream_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the embeddings table drained through
    ivf_assign_sink against the frozen kmeans_fit codebook (the same
    deterministic Lloyd chain the gated kmeans family uses, memoized
    via _cached_kmeans_codebook), returning the final per-cell
    occupancy (cid, n_vectors). The incremental counters must sum to
    the batch assignment's cell sizes — the oracle recomputes the full
    Lloyd chain + final assignment in SQL and counts per cell."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    # cast to double BEFORE staging: the sink assigns whatever element
    # type arrives, and the oracle's distance math is all-double (the
    # same cast kmeans_clusters applies before kmeans_fit)
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = _cached_kmeans_codebook(spark, sf_dir)
    state, _ = _drain_face(
        emb,
        "ivf",
        lambda stream, state, out, ckpt: ivf_assign_sink(stream, cents, out, state, ckpt),
        out="postings",
    )
    return ivf_cell_counts(spark, state)


def scd2_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the parsed CDC changelog drained through
    scd2_incremental_sink, returning the final published SCD2 table.
    Each micro-batch recomputes ONLY its affected entity keys from the
    (deduped) changelog store and carries every untouched key over, so
    after the drain the state equals the one-shot batch
    cdc.scd2_history over the full changelog — micro-batch-split
    invariant, verified by the cdc_scd2_history oracle. Unlike the
    sketch faces this exercises the splice/carry-over merge path, the
    versioned-publication discipline, and the r6 strictly-pre-batch
    prev rule end-to-end under a real multi-batch stream."""
    from flink_kafka_filter_transform_spark.operators import cdc as cdc_ops
    from flink_kafka_filter_transform_spark.sources.cdc_fixture import cdc_events_df

    parsed = cdc_ops.parse_envelope(cdc_events_df(spark, sf_dir)).select(
        *SCD2_CHANGE_COLS
    )
    state, _ = _drain_face(
        parsed,
        "scd2",
        lambda stream, state, out, ckpt: scd2_incremental_sink(stream, state, ckpt),
    )
    return scd2_current(spark, state)


def lsh_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the documents table drained through
    lsh_index_sink — MinHash signatures built per micro-batch,
    candidates from the within-batch self-join UNION batch-vs-index
    probes, exact-Jaccard verification, index append — returning the
    accumulated verified pair log (doc_a, doc_b, jaccard). Each pair
    is emitted in exactly the batch its LATER member arrives in, so
    after the drain the log equals the one-shot batch operator
    minhash_lsh_pairs, which is exactly what the DuckDB oracle
    computes. (The sink docstring's one documented divergence — a
    band bucket crossing LSH_BUCKET_CAP mid-stream — cannot occur at
    driver scale: the cap is far above any sf0.01/sf0.001 bucket, and
    the CI parity test verifies the face differentially every run.)
    The last of the five maintenance sinks to get a driver-checkable
    face (VERDICT r6 item 8)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    _, out = _drain_face(docs, "lsh", lsh_index_sink)
    return _read_batches(
        spark, out, StructType.fromDDL("doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE")
    )



def phash_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the documents table drained through
    phash_index_sink — real Arrow decode + dHash per micro-batch,
    candidates from the within-batch bucket expansion UNION
    batch-vs-index chunk probes, bit_count verification, index append
    — returning the accumulated pair log (doc_a, doc_b, hamming).
    Each pair is emitted in exactly the batch its LATER member arrives
    in, so after the drain the log equals the one-shot batch operator
    image_phash_pairs, which is exactly what the shared DuckDB oracle
    computes (the cap-boundary caveat cannot occur at driver scale).
    The first streaming face over the multimodal stack."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    _, out = _drain_face(docs, "phash", phash_index_sink)
    return _read_batches(
        spark, out, StructType.fromDDL("doc_a BIGINT, doc_b BIGINT, hamming INT")
    )


def afp_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r10): the documents table drained through
    afp_index_sink — real WAV decode + energy-contour fingerprint per
    micro-batch, chunk-bucket candidates within-batch UNION
    batch-vs-index probes, bit_count verification, index append —
    returning the accumulated pair log (doc_a, doc_b, hamming). Each
    pair is emitted in exactly the batch its LATER member arrives in,
    so after the drain the log equals the one-shot batch operator
    audio_fingerprint_pairs, which is what the shared DuckDB oracle
    computes (cap-boundary caveat cannot occur at driver scale).
    Closes the multimodal streaming pair with phash_stream_state
    (VERDICT r9 item 6)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    _, out = _drain_face(docs, "afp", afp_index_sink)
    return _read_batches(
        spark, out, StructType.fromDDL("doc_a BIGINT, doc_b BIGINT, hamming INT")
    )


def vfp_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r11): the documents table drained through
    vfp_index_sink — real PPM demux + per-frame dHash per micro-batch,
    per-fh match rows from the within-batch bucket expansion UNION
    batch-vs-index frame probes, ONE pair-keyed count aggregate at
    >= VID_MIN_MATCH — returning the accumulated pair log (doc_a,
    doc_b, n_matched). A doc's frames all arrive in its one batch, so
    the later member's batch emits each pair exactly once with its
    complete matched-frame count; after the drain the log equals the
    one-shot batch operator video_frame_match_pairs, which is what the
    shared DuckDB oracle computes (cap-boundary caveat cannot occur at
    driver scale). Completes the multimodal near-dup triad's streaming
    story (VERDICT r10 item 5)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    _, out = _drain_face(docs, "vfp", vfp_index_sink)
    return _read_batches(
        spark, out, StructType.fromDDL("doc_a BIGINT, doc_b BIGINT, n_matched BIGINT")
    )


def ivo_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r11): the lineitem table drained through
    ivo_overlap_sink — transit intervals bucketed on the day axis per
    micro-batch, within-batch self-join pairs UNION batch-vs-index
    probes under the symmetric ownership predicate, per-supplier
    monoid rollup sum-merged across batches — returning the final
    published (l_suppkey, n_pairs, sum_overlap_days,
    max_overlap_days) relation. Pair-in-later-batch + bucket
    ownership make each overlapping pair count exactly once, so after
    the drain the rollup equals the one-shot batch operator
    interval_overlap_pairs — checked by the SAME naive-inequality
    DuckDB oracle (VERDICT r10 item 7)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
    )
    state, _ = _drain_face(
        li, "ivo", lambda stream, state, out, ckpt: ivo_overlap_sink(stream, state, ckpt)
    )
    return _current(spark, state, "osum").select(
        F.col("suppkey").alias("l_suppkey"),
        "n_pairs",
        "sum_overlap_days",
        "max_overlap_days",
    )


def edit_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r12): the customer table drained through
    edit_index_sink — symmetric-delete variant explode per
    micro-batch, within-batch sorted-block pairs UNION batch-vs-index
    variant probes, built-in levenshtein verify, lifetime
    EDIT_BLOCK_CAP (_accumulated_over_cap) — returning the
    accumulated pair log (a_c_custkey, b_c_custkey, distance). Each
    pair is emitted in exactly the batch its LATER member arrives in,
    so after the drain the log equals the one-shot batch operator
    name_edit_neighbors, which is exactly what the shared naive
    quadratic DuckDB oracle computes (the cap-boundary caveat cannot
    occur at driver scale — fixture blocks stay <= ~20 entities).
    Closes the linkage family's streaming story (VERDICT r11
    item 6)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    _, out = _drain_face(
        cust,
        "edit",
        lambda stream, state, out, ckpt: edit_index_sink(
            stream, "c_custkey", "c_name", state, out, ckpt
        ),
    )
    return _read_batches(
        spark,
        out,
        StructType.fromDDL("a_c_custkey BIGINT, b_c_custkey BIGINT, distance INT"),
    )


def cc_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r13): the documents table drained through
    cc_labels_sink — per micro-batch the LSH index face produces the
    batch's verified near-dup pairs and the component-label table
    merges them via min-label propagation over the AFFECTED label
    graph only — returning the final cluster table (doc_id,
    cluster_id, cluster_size, is_kept). Cluster size and keeper flag
    derive from the drained labels with one count aggregate, exactly
    as the batch operator derives them from its component relation,
    so the result equals graph.neardup_clusters over the same corpus
    — which is what the shared RECURSIVE-CTE DuckDB oracle computes
    (min reachable doc_id, an independent fixpoint formulation; the
    inherited lsh_index_sink cap-boundary caveat cannot occur at
    driver scale, exactly as for the pair face).
    Closes the last first-class streaming gap (VERDICT r12 item 4):
    survivor sets stay current as pairs stream in, with no CC re-run
    over the pair history."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state, _ = _drain_face(docs, "cc", cc_labels_sink)
    labels = cc_labels_current(spark, state)
    sized = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sized, "label").select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("label")).alias("is_kept"),
    )


# State-store width of the first-seen ledger face. Structured Streaming
# pins it at the first batch for the life of the checkpoint, so it is
# fixed rather than the session's core-count default (at 2x32 each batch
# paid 64 near-empty state-store commits: ~2.1 s vs ~0.8 s at 16).
_DEDUP_STATE_PARTITIONS = 16


def dedup_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the documents table drained through the
    first-seen dedup ledger (streaming.state.streaming_first_seen —
    applyInPandasWithState keyed on content_hash, update mode),
    returning the final ledger (content_hash, first_doc_id,
    n_suppressed). The ledger's winner is a MIN over doc_id and its
    count a sum over disjoint micro-batches, so the drained state
    equals one-shot batch exact dedup — which is what the oracle
    computes. The first-seen ledger was the one stateful operator
    without a driver face (VERDICT r7 item 6).

    Face mechanics: each micro-batch's update rows land through
    _write_batch_partition (the effectively-once publication the
    metered sink uses), and the final ledger row per key is the one
    from its LAST touching batch: a key is revised only in a batch
    that brings it rows, so first_doc_id only ever decreases and
    n_suppressed strictly grows, and the last revision is the min
    first_doc_id and the max n_suppressed over the key's rows. State
    scales as one ledger row per distinct hash, shuffled by hash
    exactly like the batch groupBy."""
    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming import state as state_mod

    docs = load_table(spark, "documents", sf_dir).select(
        portable_hash64(F.col("text")).alias("content_hash"), "doc_id"
    )

    def sink(stream, state, ledger, ckpt) -> DataStreamWriter:
        # the stateful operator's output arrives in state-store
        # partitioning (one near-empty slice per state partition);
        # REBALANCE + AQE sizes the ledger partition's files by BYTES at
        # any scale instead of writing one tiny file per state partition
        # per batch (guide §6 small-files rule)
        return _sink(
            state_mod.streaming_first_seen(stream),
            lambda bdf, i: _write_batch_partition(bdf.hint("rebalance"), ledger, i),
            ckpt,
        ).outputMode("update")

    # SCOPE (r14 ADVICE, documented here at the one site that mutates
    # it): this override is session-global for the duration of the
    # drain — any query PLANNED concurrently on the shared session
    # would inherit the narrow width. The declared-query contract runs
    # every face serially on the driver's session (bench and oracle
    # both), and the finally below restores the previous value on
    # every exit; a concurrent deployment must isolate the drain on
    # spark.newSession() instead (not done here: a second session
    # would re-pay session-state init per face for a race that cannot
    # occur under the serial contract).
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_DEDUP_STATE_PARTITIONS))
    try:
        _, ledger = _drain_face(docs, "firstseen", sink, out="ledger")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    led = _read_batches(
        spark, ledger, StructType.fromDDL(state_mod.FIRSTSEEN_OUTPUT_SCHEMA)
    )
    return led.groupBy("content_hash").agg(
        F.min("first_doc_id").alias("first_doc_id"),
        F.max("n_suppressed").alias("n_suppressed"),
    )


def prune_state_versions(
    spark: SparkSession, state_dir: str, prefix: str, keep_last: int = 2
) -> list[int]:
    """Offline maintenance for the versioned-state sinks: delete
    published ``{prefix}_v*`` versions older than the newest
    ``keep_last``, returning the deleted version numbers.

    Versions accumulate by design (one small state relation per
    micro-batch); this is the pruner the sink docstrings point
    production deploys at. Safety rules:

    - ``keep_last`` is floored at 2: a crash between publication and
      checkpoint commit replays the LATEST batch id, and that replay
      resolves prev = the newest version STRICTLY BELOW it
      (_latest_state_version) — pruning everything below the latest
      version would break exactly that recovery path.
    - only versions below the _LATEST pointer are candidates (a
      version above the pointer is an in-flight publication).
    - ``keep_last`` counts PUBLISHED versions only (``_SUCCESS``
      marker present, the same rule _latest_state_version applies):
      an unpublished residue dir — a version whose parquet write
      crashed mid-flight — can never serve as a replay prev, so
      letting it occupy a kept slot could evict the newest published
      pre-latest version, the exact state the keep_last>=2 floor
      protects (r6 ADVICE). Unpublished residue below the pointer is
      deleted unconditionally.
    - runs against the Hadoop FileSystem API, so the state may live on
      any cluster-addressable storage; delete is recursive per version
      directory and the pointer file is never touched.

    Run it OFFLINE (or between micro-batches): pruning a version while
    a concurrent batch is reading it as prev would fail that batch's
    scan mid-flight."""
    keep_last = max(2, keep_last)
    latest = _read_latest_pointer(spark, state_dir, prefix=prefix)
    if latest is None:
        return []
    versions = _state_versions(spark, state_dir, prefix)
    published = sorted(v for v, ok in versions.items() if ok and v <= latest)
    residue = [v for v, ok in versions.items() if not ok and v <= latest]
    doomed = sorted(residue + published[:-keep_last])
    for v in doomed:
        _delete_path(spark, f"{state_dir}/{prefix}_v{v}")
    return doomed
