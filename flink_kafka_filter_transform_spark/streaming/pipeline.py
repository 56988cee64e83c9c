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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

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


def inbound_counter_stream(stream: DataFrame) -> DataFrame:
    """O9 as a streaming aggregation (update mode): the
    flink_cdc_event_count family (mq/mod.rs:47-53)."""
    return cdc.inbound_counts(cdc.parse_envelope(stream))


def outbound_counter_stream(stream: DataFrame, rules: list[dict]) -> DataFrame:
    """O10: flink_kafka_filter_transform_count family (mq/mod.rs:35-39)."""
    return cdc.outbound_counts(cdc.forwarded(stream, rules))


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
    2. the routed write: the forwarded rows append to ``out_dir`` under
       dynamic partition overwrite by batch id (effectively-once).

    The counters are at-least-once under replay (a re-delivered batch
    re-increments), matching Prometheus counter semantics — scrape-side
    rate() absorbs it, and the reference's counters behave identically
    on redelivery."""
    labelled = cdc.route_forwarded(cdc.parse_envelope(raw_stream), rules)

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        _batch_aqe(batch_df.sparkSession)
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
        (
            cdc.project_outgoing(cdc.drop_unrouted(batch_df))
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return labelled.writeStream.foreachBatch(feed).option(
        "checkpointLocation", checkpoint_dir
    )


def observed(stream: DataFrame, name: str = "cdc_in") -> DataFrame:
    """Attach streaming metrics via DataFrame.observe — the lightweight
    analog of the Prometheus counters: per-micro-batch row counts and
    delete counts, published to StreamingQueryListener without an extra
    aggregation subtree."""
    return stream.observe(
        name,
        F.count(F.lit(1)).alias("n_messages"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_deletes"),
    )


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
    parsed = cdc.parse_envelope(stream)
    creates = (
        parsed.filter(F.col("op") == "c")
        .select(
            F.col("key").alias("c_key"),
            F.col("ts").alias("c_ts"),
            F.col("msg_id").alias("c_msg_id"),
        )
        .withWatermark("c_ts", watermark_delay)
    )
    updates = (
        parsed.filter(F.col("op") == "u")
        .select(
            F.col("key").alias("u_key"),
            F.col("ts").alias("u_ts"),
            F.col("msg_id").alias("u_msg_id"),
        )
        .withWatermark("u_ts", watermark_delay)
    )
    return creates.join(
        updates,
        F.expr(
            f"c_key = u_key AND u_ts >= c_ts AND u_ts <= c_ts + INTERVAL {window}"
        ),
    ).select("c_key", "c_msg_id", "u_msg_id", "c_ts", "u_ts")


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
    parsed = cdc.parse_envelope(stream)
    creates = (
        parsed.filter(F.col("op") == "c")
        .select(
            F.col("key").alias("c_key"),
            F.col("ts").alias("c_ts"),
            F.col("msg_id").alias("c_msg_id"),
        )
        .withWatermark("c_ts", watermark_delay)
    )
    updates = (
        parsed.filter(F.col("op") == "u")
        .select(
            F.col("key").alias("u_key"),
            F.col("ts").alias("u_ts"),
            F.col("msg_id").alias("u_msg_id"),
        )
        .withWatermark("u_ts", watermark_delay)
    )
    return creates.join(
        updates,
        F.expr(
            f"c_key = u_key AND u_ts >= c_ts AND u_ts <= c_ts + INTERVAL {window}"
        ),
        "leftOuter",
    ).select("c_key", "c_msg_id", "u_msg_id", "c_ts", "u_ts")


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
       (broadcast semi-join of the affected-key set against the
       changelog — at scale the store is partitioned by key hash, so
       this prunes to the affected partitions);
    3. carry every untouched key's intervals over unchanged (broadcast
       anti-join) and publish the union as a new table version.

    Work per batch is proportional to the affected keys' history, never
    the table size. Changes are deduped on (key, msg_id) before the
    recompute, so at-least-once redelivery (a retried batch re-appends)
    cannot corrupt history — the same idempotence a Delta/Iceberg MERGE
    target provides; versioned parquet dirs stand in for that table
    format here, and readers always see a complete published version
    (``scd2_current``), never a half-written one.
    """
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _scd2_merge_batch(batch_df, batch_id, state_dir)

    return parsed_stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def _batch_aqe(spark: SparkSession) -> SparkSession:
    """Re-enable ADAPTIVE execution for the batch queries a
    foreachBatch body runs, and return the session (r14, guide §2.2/
    §3.1).

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
    tests can re-drive a batch id directly. ``prev`` comes from
    ``_latest_state_version(..., before=batch_id)`` — STRICTLY
    pre-batch — so a replayed batch never reads the version it is
    about to overwrite (the read-the-write-target wedge, r5 ADVICE)
    and recomputes scd2_v{batch_id} to identical content (the
    changelog is deduped on (key, msg_id), so the re-appended changes
    collapse)."""
    from flink_kafka_filter_transform_spark.operators import cdc as cdc_ops

    changes_dir = f"{state_dir}/changes"
    spark = _batch_aqe(batch_df.sparkSession)
    batch = batch_df.filter(F.col("op").isNotNull()).select(*SCD2_CHANGE_COLS)
    batch.write.mode("append").parquet(changes_dir)
    affected = batch.select("db", "table_name", "key").dropDuplicates()
    key = ["db", "table_name", "key"]
    changes = (
        spark.read.parquet(changes_dir)
        .join(F.broadcast(affected), key, "left_semi")
        .dropDuplicates(["db", "table_name", "key", "msg_id"])
    )
    recomputed = cdc_ops.scd2_history(changes)
    v = _latest_state_version(spark, state_dir, "scd2", before=batch_id)
    prev = spark.read.parquet(f"{state_dir}/scd2_v{v}") if v is not None else None
    merged = (
        recomputed
        if prev is None
        else prev.join(F.broadcast(affected), key, "left_anti").unionByName(
            recomputed
        )
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/scd2_v{batch_id}")
    _write_latest_pointer(spark, state_dir, batch_id)


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


def _write_latest_pointer(spark: SparkSession, state_dir: str, batch_id: int) -> None:
    """Publish the reader-facing _LATEST pointer without ever exposing
    a partial file: the id is fully written to a temp path first, then
    moved over _LATEST (delete + rename — both single-file metadata
    ops on HDFS/local; object stores emulate rename with copy+delete
    but the copy is still of a COMPLETE source object). The r6
    truncate-in-place fs.create(path, true) let a concurrent
    _read_latest_pointer observe an empty/half-written pointer and
    crash on int('') (r6 ADVICE). The one remaining window — pointer
    briefly ABSENT between the delete and the rename — is handled on
    the read side, which falls back to listing published versions."""
    tmp = f"{state_dir}/._LATEST.tmp.{batch_id}"
    jtmp, fs = _hadoop_fs(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(str(batch_id).encode("ascii"))
    finally:
        out.close()
    jdst = spark._jvm.org.apache.hadoop.fs.Path(f"{state_dir}/_LATEST")
    if fs.exists(jdst):
        fs.delete(jdst, False)
    if not fs.rename(jtmp, jdst):
        raise IOError(
            f"failed to publish {state_dir}/_LATEST (rename returned false); "
            f"partial pointer left at {tmp}"
        )


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

    jpath, fs = _hadoop_fs(spark, f"{state_dir}/_LATEST")
    line = None
    if fs.exists(jpath):
        # narrow catch (not bare): the pointer can vanish between the
        # exists probe and the open (the delete→rename publish window),
        # and a pointer corrupted out-of-band trips the checksummed
        # local FS on read — both are exactly the "unreadable pointer"
        # case the digit-check fallback below handles. Any other IO
        # failure also lands in the fallback, which resolves the same
        # answer from the version listing instead of crashing a reader.
        try:
            stream = fs.open(jpath)
            try:
                reader = spark._jvm.java.io.BufferedReader(
                    spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
                )
                line = reader.readLine()
            finally:
                stream.close()
        except Py4JJavaError:
            line = None
    text = "" if line is None else line.strip()
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
    state_dir.

    Listing goes through the Hadoop FileSystem API (_hadoop_fs), so
    state_dir may be any cluster-addressable URI."""
    import re as _re

    dirpath, fs = _hadoop_fs(spark, state_dir)
    if not fs.exists(dirpath):
        return None
    best: int | None = None
    for status in fs.listStatus(dirpath):
        name = status.getPath().getName()
        m = _re.fullmatch(rf"{_re.escape(prefix)}_v(\d+)", name)
        if m is None:
            continue
        success = spark._jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
        if not fs.exists(success):
            continue
        v = int(m.group(1))
        if before is not None and v >= before:
            continue
        if best is None or v > best:
            best = v
    return best


def _accumulated_over_cap(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    bn: DataFrame,
    batch_id: int,
    cap: int,
    key_cols: list[str],
):
    """The versioned LIFETIME-count replay protocol, single-sourced
    (r12 review — it had grown four hand-copies: bcounts/ccounts/
    fcounts/vcounts, and the r11 ``before=batch_id`` replay fix had to
    touch every one): sum-merge this batch's per-key counts ``bn``
    (columns ``key_cols`` + ``_n``) into ``{prefix}_v{batch_id}``
    using the strictly-pre-batch prev (recompute-on-replay,
    _latest_state_version), publish it, and return the BROADCAST
    over-cap key relation both pairing sides anti-join. Over-cap keys
    are bounded by total_rows / cap — a cap-th of the key space at
    worst — which is why the broadcast is safe at any scale.

    Both counts reads carry an EXPLICIT schema (``bn``'s own key
    fields + ``_n``), the same discipline _read_index_before applies
    to the partitioned index reads (r12 ADVICE): an all-empty counts
    version must not depend on Spark writing a schema-bearing empty
    part file. A fresh StructType is built — StructType.add mutates,
    and df.schema is cached on the DataFrame."""
    from pyspark.sql.types import StructType

    counts_schema = StructType([bn.schema[c] for c in key_cols] + [bn.schema["_n"]])
    v = _latest_state_version(spark, state_dir, prefix, before=batch_id)
    prev = (
        spark.read.schema(counts_schema).parquet(f"{state_dir}/{prefix}_v{v}")
        if v is not None
        else None
    )
    totals = (
        bn
        if prev is None
        else prev.unionByName(bn).groupBy(*key_cols).agg(F.sum("_n").alias("_n"))
    )
    totals.write.mode("overwrite").parquet(f"{state_dir}/{prefix}_v{batch_id}")
    return F.broadcast(
        spark.read.schema(counts_schema)
        .parquet(f"{state_dir}/{prefix}_v{batch_id}")
        .filter(F.col("_n") > cap)
        .select(*key_cols)
    )


def _read_index_before(
    spark: SparkSession, path: str, row_rel: DataFrame, batch_id: int
) -> DataFrame:
    """Read a ``_batch_id``-partitioned index strictly before this
    batch with an EXPLICIT schema (``row_rel``'s — the exact relation
    the sink appends — plus the partition column): a first batch that
    produced ZERO rows writes only ``_SUCCESS`` under dynamic
    overwrite, so the path exists but schema inference would fail and
    brick the stream on the NEXT batch (r12 review — the vfp pair-log
    explicit-schema rule applied to every index read). A FRESH
    StructType is built (StructType.add mutates and df.schema is
    cached on the DataFrame, so add() would corrupt row_rel's own
    schema object).

    The partition column is declared LongType (r12 ADVICE):
    foreachBatch batch ids are 64-bit, and the value is parsed from
    the partition DIRECTORY NAME against this declared type, so the
    read stays correct past 2^31 batches regardless of the width
    F.lit() happened to give the writer's in-memory column."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(row_rel.schema.fields) + [StructField("_batch_id", LongType())]
    )
    return (
        spark.read.schema(schema)
        .parquet(path)
        .filter(F.col("_batch_id") < batch_id)
        .drop("_batch_id")
    )


def scd2_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The latest published SCD2 table version, or None before the
    first batch commits."""
    version = _read_latest_pointer(spark, state_dir, prefix="scd2")
    if version is None:
        return None
    return spark.read.parquet(f"{state_dir}/scd2_v{version}")


def foreach_batch_parquet_sink(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """foreachBatch escape hatch: sinks Spark lacks natively get the
    micro-batch as a plain DataFrame plus a batch id for idempotence.
    Here each batch appends to a parquet dir partitioned by batch id —
    re-delivered batches overwrite their own partition, giving
    effectively-once output on top of at-least-once delivery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _batch_aqe(batch_df.sparkSession)
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )


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
    straddles micro-batches. Output is partitioned by batch id for
    effectively-once semantics on top of at-least-once delivery."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        contamination_profile,
    )
    from flink_kafka_filter_transform_spark.operators.text import token_ngrams, tokens

    def guard(batch_df: DataFrame, batch_id: int) -> None:
        _batch_aqe(batch_df.sparkSession)
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
        (
            clean.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return stream_docs.writeStream.foreachBatch(guard).option(
        "checkpointLocation", checkpoint_dir
    )


def hll_merge_sink(
    stream: DataFrame, key: str, group: str, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental distinct-count sketching: maintain the HLL register
    relation (operators.sketch.hll_registers) across micro-batches via
    foreachBatch merge — the streaming face of sketch MERGEABILITY.

    Per batch: build the batch's registers (<= m rows per group however
    large the batch), union with the current state, max(_r) per
    (group, register), publish a new version (versioned parquet +
    _LATEST pointer, same effectively-once publication discipline as
    scd2_incremental_sink). State size is bounded at m rows per group
    FOREVER — the property that lets a 100 TB ingest stream keep
    running distinct-user counts without ever storing a key set.

    Replay semantics — doubly safe: prev is loaded strictly pre-batch
    (``_latest_state_version(..., before=batch_id)``), so a replayed
    batch recomputes regs_v{batch_id} from the same inputs rather than
    reading its own write target; and max is idempotent as well as
    associative/commutative, so even a true duplicate DELIVERY that
    re-merges the same registers is a NO-OP — the estimate cannot
    drift under replay (contrast streaming.state's first-seen ledger,
    where only the min-winner column carries that guarantee).
    tests/test_streaming.py proves batch-vs-streaming equivalence and
    replay idempotence."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _hll_merge_batch(batch_df, batch_id, key, group, state_dir)

    return stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )


def _hll_merge_batch(
    batch_df: DataFrame, batch_id: int, key: str, group: str, state_dir: str
) -> None:
    """One hll_merge_sink micro-batch (module-level for replay tests);
    see _latest_state_version for the strictly-pre-batch prev rule."""
    from flink_kafka_filter_transform_spark.operators.sketch import hll_registers

    spark = _batch_aqe(batch_df.sparkSession)
    regs = hll_registers(batch_df, key, [group])
    v = _latest_state_version(spark, state_dir, "regs", before=batch_id)
    prev = spark.read.parquet(f"{state_dir}/regs_v{v}") if v is not None else None
    merged = (
        regs
        if prev is None
        else prev.unionByName(regs)
        .groupBy(group, "_idx")
        .agg(F.max("_r").alias("_r"))
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/regs_v{batch_id}")
    _write_latest_pointer(spark, state_dir, batch_id)


def hll_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published HLL register state, or None before the first
    batch (readers never see a half-written version)."""
    v = _read_latest_pointer(spark, state_dir, prefix="regs")
    if v is None:
        return None
    return spark.read.parquet(f"{state_dir}/regs_v{v}")


def cms_merge_sink(
    stream_docs: DataFrame, state_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Incremental Count-Min maintenance — the ADDITIVE counterpart of
    hll_merge_sink, completing incremental upkeep for all three sketch
    families (HLL distinct / CMS frequency / Bloom membership, whose
    bit_or registers merge exactly like the HLL max).

    Per batch: build the batch's CMS grid (operators.sketch.cms_grid,
    the IDENTICAL structure the batch estimator uses), SUM-merge it
    into state, publish a new version. State stays <= DEPTH*WIDTH rows
    forever.

    Replay semantics — deliberately contrasted with the HLL sink: sum
    is associative and commutative but NOT idempotent, so replay
    safety cannot come from the merge operator itself. It comes from
    the state protocol: prev is loaded STRICTLY pre-batch
    (``_latest_state_version(..., before=batch_id)``), so a replayed
    batch id recomputes grid_v{batch_id} = grid_v{<batch_id} + batch —
    identical content, never reading its own write target (r5 ADVICE:
    the _LATEST-based prev both double-counted and wedged the restart
    on Spark's read/overwrite conflict check). What remains
    non-idempotent is a true duplicate DELIVERY (same rows under a NEW
    batch id), where the CMS failure mode is benign for its contract:
    estimates are upper bounds and only inflate — the documented
    asymmetry between max-merge and sum-merge sketches."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _cms_merge_batch(batch_df, batch_id, state_dir)

    return stream_docs.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )


def _cms_merge_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One cms_merge_sink micro-batch (module-level for replay tests);
    see _latest_state_version for the strictly-pre-batch prev rule."""
    from flink_kafka_filter_transform_spark.operators.sketch import cms_grid

    spark = _batch_aqe(batch_df.sparkSession)
    grid = cms_grid(batch_df)
    v = _latest_state_version(spark, state_dir, "grid", before=batch_id)
    prev = spark.read.parquet(f"{state_dir}/grid_v{v}") if v is not None else None
    merged = (
        grid
        if prev is None
        else prev.unionByName(grid)
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/grid_v{batch_id}")
    _write_latest_pointer(spark, state_dir, batch_id)


def cms_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published CMS grid, or None before the first batch."""
    v = _read_latest_pointer(spark, state_dir, prefix="grid")
    if v is None:
        return None
    return spark.read.parquet(f"{state_dir}/grid_v{v}")


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
    structure the batch probe uses) -> bit_or-merge into state ->
    versioned publication (same discipline as hll/cms).

    Replay semantics — the strongest of the three: bit_or, like HLL's
    max and unlike CMS's sum, is associative, commutative, AND
    idempotent, so both a replayed batch id (prev loaded strictly
    pre-batch via ``_latest_state_version(..., before=batch_id)``)
    and a true duplicate DELIVERY are no-ops. A Bloom filter cannot
    drift under at-least-once; it can only converge."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _bloom_merge_batch(batch_df, batch_id, state_dir)

    return stream_docs.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )


def _bloom_merge_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One bloom_merge_sink micro-batch (module-level for replay
    tests); see _latest_state_version for the strictly-pre-batch prev
    rule."""
    from flink_kafka_filter_transform_spark.functions.hashing import (
        portable_hash64,
        portable_hash64_second,
    )
    from flink_kafka_filter_transform_spark.operators.sketch import bloom_build

    spark = _batch_aqe(batch_df.sparkSession)
    keys = batch_df.select(
        portable_hash64("text").alias("_h1"),
        portable_hash64_second("text").alias("_h2"),
    ).distinct()
    regs = bloom_build(keys)
    v = _latest_state_version(spark, state_dir, "bloom", before=batch_id)
    prev = spark.read.parquet(f"{state_dir}/bloom_v{v}") if v is not None else None
    merged = (
        regs
        if prev is None
        else prev.unionByName(regs)
        .groupBy("reg")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/bloom_v{batch_id}")
    _write_latest_pointer(spark, state_dir, batch_id)


def bloom_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published Bloom registers, or None before the first
    batch."""
    v = _read_latest_pointer(spark, state_dir, prefix="bloom")
    if v is None:
        return None
    return spark.read.parquet(f"{state_dir}/bloom_v{v}")


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
    versioned state (same publication discipline as cms_merge_sink):
    the signal that tells the operator a cell has outgrown its target
    size and the codebook needs offline re-training — the maintenance
    loop behind `embedding_neardup_refined`'s adaptive-cardinality
    lesson, run incrementally.

    Scale shape per batch: one broadcast crossJoin (k x dim codebook)
    + the per-vector argmin window over k candidate rows + a
    cell-partitioned append; the only aggregation is cell-cardinality
    counters. tests/test_streaming.py proves assignment equivalence
    with the batch operator and count-state correctness."""
    def assign(batch_df: DataFrame, batch_id: int) -> None:
        _ivf_assign_batch(batch_df, batch_id, centroids, out_dir, state_dir)

    return stream_vecs.writeStream.foreachBatch(assign).option(
        "checkpointLocation", checkpoint_dir
    )


def _ivf_assign_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    out_dir: str,
    state_dir: str,
) -> None:
    """One ivf_assign_sink micro-batch (module-level for replay
    tests). The posting-list append is replay-safe via dynamic
    partition overwrite on (cid, _batch_id); the sum-merged cell
    counters are replay-safe via the strictly-pre-batch prev rule
    (_latest_state_version) — same protocol as _cms_merge_batch."""
    from flink_kafka_filter_transform_spark.operators.kmeans import _assign

    spark = _batch_aqe(batch_df.sparkSession)
    a = _assign(batch_df.select("vec_id", F.col("embedding").alias("v")), centroids)
    (
        batch_df.join(a, "vec_id")
        .withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cid", "_batch_id")
        .parquet(out_dir)
    )
    counts = a.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))
    v = _latest_state_version(spark, state_dir, "cells", before=batch_id)
    prev = spark.read.parquet(f"{state_dir}/cells_v{v}") if v is not None else None
    merged = (
        counts
        if prev is None
        else prev.unionByName(counts)
        .groupBy("cid")
        .agg(F.sum("n_vectors").alias("n_vectors"))
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/cells_v{batch_id}")
    _write_latest_pointer(spark, state_dir, batch_id)


def ivf_cell_counts(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest published per-cell occupancy, or None before batch 0."""
    v = _read_latest_pointer(spark, state_dir, prefix="cells")
    if v is None:
        return None
    return spark.read.parquet(f"{state_dir}/cells_v{v}")


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
    pair log, the batch's signatures+bands append to the index.

    After the stream drains, the pair log equals the batch operator's
    output — tests/test_streaming.py proves it — PROVIDED no band
    bucket crosses LSH_BUCKET_CAP mid-stream: the batch operator drops
    an over-cap bucket wholesale, while the incremental index stopped
    probing it only once its ACCUMULATED size crossed the cap (earlier
    emissions stand). That divergence is one-sided (the stream may
    emit a superset near the cap boundary) and bounded by the cap
    itself; exact batch parity near degenerate buckets requires a
    batch re-run, the same answer every incremental index gives.

    Replay discipline (r5 ADVICE): the index state is published the
    same way as the pair log — parquet partitioned by ``_batch_id``
    with DYNAMIC partition overwrite — so an at-least-once replay
    overwrites its own band/signature partitions instead of
    re-appending them (duplicate sigs rows would fan out the
    verification join and re-emit pairs; duplicate band rows would
    inflate accumulated bucket sizes toward LSH_BUCKET_CAP, silently
    dropping future pairs). The prev index read filters
    ``_batch_id < batch_id``, so a replayed batch never sees its own
    earlier partial write.

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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _lsh_index_batch(batch_df, batch_id, state_dir, out_dir)

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def _lsh_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One lsh_index_sink micro-batch (module-level for replay tests);
    see the sink docstring for the partition-overwrite replay rule."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.dedup import (
        band_relation,
        lsh_candidates,
        minhash_signatures,
    )

    spark = _batch_aqe(batch_df.sparkSession)
    # The batch's signature relation feeds FIVE consumers (bucket
    # counts, probe side, within-batch self-join, verification sigs,
    # the sig state write); unpersisted, each consumer would re-run
    # the shingling+minhash lineage over the batch. Materialize it
    # once per batch — batch-sized, released before the batch returns.
    sig = minhash_signatures(batch_df).persist()
    try:
        bands = band_relation(sig)
        within = lsh_candidates(sig)
        # Accumulated bucket sizes are MAINTAINED as sum-merged versioned
        # state (bcounts_v{batch_id}, the cells_v protocol: strictly-
        # pre-batch prev, recompute-on-replay), not recomputed: the r6
        # implementation re-windowed the ENTIRE accumulated index every
        # batch — a shuffle+sort of all index rows whose cost grows with
        # the stream, O(index) per batch where the merge is O(distinct
        # band keys) with map-side combine and no sort. Cap decisions are
        # identical: n_total(key) = sum of every prior batch's
        # contributions + this batch's, exactly what the window counted.
        bn = bands.groupBy("band_idx", "band_key").agg(F.count(F.lit(1)).alias("_n"))
        over_cap = _accumulated_over_cap(
            spark, state_dir, "bcounts", bn, batch_id,
            params.LSH_BUCKET_CAP, ["band_idx", "band_key"],
        )
        # no bare except: before the first published batch the state dirs
        # simply don't exist (an actual read failure should surface, not
        # silently reset the index to empty — r5 ADVICE). The existence
        # probe goes through the Hadoop FileSystem API, not os.path — the
        # state dir is any Hadoop-compatible URI at scale (S3/HDFS), where
        # a driver-local isdir would be False forever and silently disable
        # the cross-batch index.
        if _hadoop_path_exists(spark, f"{state_dir}/sigs"):
            idx_sigs = _read_index_before(spark, f"{state_dir}/sigs", sig, batch_id)
            # r15 (guide §6/§2 — VERDICT r14 item 5): the accumulated
            # band index is a DETERMINISTIC PROJECTION of the signature
            # index (band_relation is a pure map over the mh columns),
            # so maintaining it as separate state bought nothing and
            # cost one 4-rows-per-doc parquet write + one partition
            # listing EVERY micro-batch. Derive it from the sig index
            # instead — parquet column pruning reads doc_id + the mh
            # columns only (the heavy shingle arrays stay unread), and
            # the derived rows are bit-identical to what the dropped
            # state dir contained.
            idx_bands = band_relation(idx_sigs)
        else:
            idx_bands, idx_sigs = None, None
        if idx_bands is not None:
            # cap on the ACCUMULATED bucket (index + batch contributions):
            # drop rows in over-cap buckets on BOTH sides before probing.
            # Index docs and batch docs are disjoint sets (a doc arrives in
            # exactly one batch; a replay's own partial write is excluded
            # by the _batch_id < batch_id filter), so side provenance is
            # the relation itself — no doc-id semi-joins needed.
            old = idx_bands.join(over_cap, ["band_idx", "band_key"], "left_anti")
            new = bands.join(over_cap, ["band_idx", "band_key"], "left_anti")
            cross = (
                old.alias("a")
                .join(
                    new.alias("b"),
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                )
                .select(
                    F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            cand = within.unionByName(cross).distinct()
            all_sigs = idx_sigs.unionByName(sig)
        else:
            cand = within
            all_sigs = sig
        s1 = all_sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        s2 = all_sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
            F.array_union("sh_a", "sh_b")
        )
        verified = (
            cand.join(s1, "doc_a")
            .join(s2, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= params.JACCARD_THRESHOLD)
        )
        verified.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "_batch_id"
        ).parquet(out_dir)
        # ONE state write: the band index is derived from sigs on read
        # (see above, r15) — its per-batch write is gone
        (
            sig.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(f"{state_dir}/sigs")
        )
    finally:
        # Everything downstream of sig has been written to parquet; the
        # block-manager copy must not outlive the batch (bench r5 lesson:
        # leaked blocks tax every later query in a shared JVM).
        sig.unpersist()
    # Same reader-facing publication protocol as the other sinks: the
    # pointer lands only after every state relation of the batch
    # (bcounts + sigs partitions) is fully written. Readers
    # that race the publish fall back to the published-version listing
    # (_read_latest_pointer prefix fallback), never a partial batch.
    _write_latest_pointer(spark, state_dir, batch_id)



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
    chunk rows append to the index.

    After the stream drains, the pair log equals image_phash_pairs —
    the CI parity test proves it against the SAME DuckDB oracle —
    PROVIDED no chunk bucket crosses PHASH_BUCKET_CAP mid-stream (the
    lsh_index_sink one-sided cap-boundary caveat, verbatim).

    Replay discipline: pair log, chunk index, and the sum-merged
    accumulated bucket counts (``ccounts_v{batch_id}``, the bcounts
    protocol: strictly-pre-batch prev, recompute-on-replay) all
    publish as ``_batch_id`` dynamic-overwrite partitions / versioned
    relations, so an at-least-once replay overwrites its own writes
    instead of re-appending (duplicate chunk rows would inflate
    accumulated buckets toward the cap and re-propose pairs).

    Scale shape per batch: decode+hash is the map-only Arrow stage;
    the index probe is an equi-join on (ci, ck) — at 100 TB the index
    store is partitioned by chunk-key hash so the probe prunes to
    matching partitions; only 16-byte (doc_id, hash) rows ever
    shuffle; cap decisions cost O(distinct chunk keys) with map-side
    combine."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _phash_index_batch(batch_df, batch_id, state_dir, out_dir)

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def _phash_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One phash_index_sink micro-batch (module-level for replay
    tests); see the sink docstring for the publication protocol."""
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
    afp_index_sink (audio). Both batch operators already share
    dedup.hamming_chunk_pairs for their blocking; this is the same
    factoring on the streaming side (r10): ``hash_stage`` is the
    map-only Arrow decode+hash stage, ``hash_col`` its output column,
    and the chunk/cap/probe/verify/publish protocol is identical —
    see phash_index_sink's docstring for the full replay discipline."""
    spark = _batch_aqe(batch_df.sparkSession)
    mask = (1 << chunk_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(c).alias("ci"),
            F.shiftright(F.col(hash_col), chunk_bits * c)
            .bitwiseAND(F.lit(mask))
            .alias("ck"),
        )
        for c in range(n_chunks)
    ]
    # The chunk relation feeds four consumers (bucket counts, the
    # within-batch buckets, the index probe, the state append);
    # unpersisted, each would re-run the DECODE stage over the batch —
    # the exact re-evaluation the batch operator's r9 rework removed.
    chunks = (
        hash_stage(batch_df)
        .select("doc_id", hash_col, F.explode(F.array(*chunk_structs)).alias("c"))
        .select("doc_id", hash_col, "c.ci", "c.ck")
        .persist()
    )
    try:
        bn = chunks.groupBy("ci", "ck").agg(F.count(F.lit(1)).alias("_n"))
        over_cap = _accumulated_over_cap(
            spark, state_dir, "ccounts", bn, batch_id, bucket_cap, ["ci", "ck"]
        )
        # cap on the ACCUMULATED bucket (index + this batch): both sides
        # drop over-cap keys before any pairing, like the LSH face.
        new = chunks.join(over_cap, ["ci", "ck"], "left_anti")
        within_buckets = (
            new.groupBy("ci", "ck")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", F.col(hash_col).alias("sig")))
                ).alias("ds")
            )
            .filter(F.size("ds") >= 2)
        )
        within = within_buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), b -> "
                    "struct(a.doc_id AS doc_a, a.sig AS sh_a, "
                    "b.doc_id AS doc_b, b.sig AS sh_b))))"
                )
            ).alias("p")
        ).select("p.doc_a", "p.sh_a", "p.doc_b", "p.sh_b")
        if _hadoop_path_exists(spark, f"{state_dir}/hashes"):
            # r15 (the bands-state rule, guide §6/§2): the chunk rows
            # are a DETERMINISTIC EXPLOSION of the (doc_id, hash)
            # fingerprints, so the state stores ONE row per doc — the
            # expensive DECODE result, which is the thing worth keeping
            # — and the n_chunks bucket rows are re-derived on read
            # instead of written every micro-batch.
            idx_hashes = _read_index_before(
                spark,
                f"{state_dir}/hashes",
                chunks.select("doc_id", hash_col),
                batch_id,
            )
            idx = idx_hashes.select(
                "doc_id", hash_col, F.explode(F.array(*chunk_structs)).alias("c")
            ).select("doc_id", hash_col, "c.ci", "c.ck")
            old = idx.join(over_cap, ["ci", "ck"], "left_anti")
            # index docs and batch docs are disjoint (a doc arrives in one
            # batch; a replay's own partial write is excluded by the
            # _batch_id < batch_id filter) — the a side is always the
            # indexed doc, so (sh_a, sh_b) assignment is deterministic and
            # the pair distinct() below is exact.
            cross = (
                old.alias("a")
                .join(
                    new.alias("b"),
                    (F.col("a.ci") == F.col("b.ci"))
                    & (F.col("a.ck") == F.col("b.ck"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                )
                .select(
                    F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.col(f"a.{hash_col}").alias("sh_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                    F.col(f"b.{hash_col}").alias("sh_b"),
                )
            )
            cand = within.unionByName(cross).distinct()
        else:
            cand = within.distinct()
        hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        verified = cand.select(
            "doc_a", "doc_b", hamming.alias("hamming")
        ).filter(F.col("hamming") <= max_hamming)
        verified.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "_batch_id"
        ).parquet(out_dir)
        # one (doc_id, hash) row per input row: the ci==0 slice of the
        # PERSISTED chunk relation (exactly one chunk row per
        # fingerprint, no shuffle, no decode re-run)
        (
            chunks.filter(F.col("ci") == 0)
            .select("doc_id", hash_col)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(f"{state_dir}/hashes")
        )
    finally:
        # released even on a failed write: a leaked block taxes
        # every later query in a shared JVM (bench r5 lesson /
        # r12 ADVICE)
        chunks.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


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
    _batch_id dynamic-overwrite replay idempotence — carries over
    unchanged."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _afp_index_batch(batch_df, batch_id, state_dir, out_dir)

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


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
    — so the shared engine's distinct()-then-verify shape doesn't
    apply and this sink keeps the COUNT path instead:

    per batch: (1) real demux + per-frame dHash for arriving videos
    (the IDENTICAL video_frame_hashes Arrow stage), DISTINCT (doc,
    fh); (2) accumulated per-fh distinct-doc counts maintained as
    sum-merged ``fcounts_v{batch_id}`` (disjoint batches make the
    distinct-doc count a plain sum — the bcounts/ccounts protocol:
    strictly-pre-batch prev, recompute-on-replay); buckets whose
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

    Replay discipline: pair log and frame index publish as
    ``_batch_id`` dynamic-overwrite partitions, fcounts as versioned
    relations — an at-least-once replay overwrites its own writes.

    Scale shape per batch: demux/decode is the map-only Arrow stage
    (frame pixels never shuffle; 16-byte (doc_id, fh) rows do); the
    index probe is an fh equi-join that a real deployment prunes by
    fh-hash partitioning; cap decisions are map-side-combined counts;
    the pair aggregate is bounded by capped-bucket expansion."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _vfp_index_batch(batch_df, batch_id, state_dir, out_dir)

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def _vfp_index_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, out_dir: str
) -> None:
    """One vfp_index_sink micro-batch (module-level for replay
    tests); see the sink docstring for the protocol."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.multimodal import (
        SORTED_PAIR_EXPANSION,
        video_frame_hashes,
    )

    spark = _batch_aqe(batch_df.sparkSession)
    # The frame relation feeds three consumers (bucket counts, the
    # within-batch buckets, the index probe, the state append);
    # unpersisted, each would re-run the demux+decode Arrow stage.
    fr = video_frame_hashes(batch_df).select("doc_id", "fh").distinct().persist()
    try:
        bn = fr.groupBy("fh").agg(F.count(F.lit(1)).alias("_n"))
        over_cap = _accumulated_over_cap(
            spark, state_dir, "fcounts", bn, batch_id, params.VID_FRAME_CAP, ["fh"]
        )
        new = fr.join(over_cap, ["fh"], "left_anti")
        within = (
            new.groupBy("fh")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(F.explode(F.expr(SORTED_PAIR_EXPANSION)).alias("p"))
            .select("p.doc_a", "p.doc_b")
        )
        if _hadoop_path_exists(spark, f"{state_dir}/frames"):
            idx = _read_index_before(spark, f"{state_dir}/frames", fr, batch_id)
            old = idx.join(over_cap, ["fh"], "left_anti")
            # index docs and batch docs are disjoint under exactly-once
            # delivery, so least/greatest orients each cross pair
            # deterministically and one row per shared fh survives —
            # exactly the count contribution the batch operator's bucket
            # expansion produces. The explicit != guard (the sibling
            # faces' rule, r11 review) covers at-least-once REDELIVERY of
            # a whole doc in a later batch: without it the doc would
            # cross-join its own indexed frames into a self-pair whose
            # n_matched is its full frame count — a pair the batch
            # operator can never emit. The guard stops at SELF-pairs by
            # design: cross-batch whole-doc redelivery is OUTSIDE the
            # delivery contract here, exactly as for the sibling faces —
            # the checkpoint replays a failed batch with the SAME batch_id
            # and input, which the _batch_id < batch_id filter plus
            # dynamic overwrite make fully idempotent; a doc re-arriving
            # under a NEW batch_id would double-count shared-frame rows
            # for pairs with genuinely-new docs and re-emit its old pairs
            # under the new partition, and no per-batch guard can repair
            # that without a doc-id dedup ledger upstream (r11 ADVICE —
            # documented, not defended, because the mode is unreachable
            # under the checkpoint contract).
            cross = (
                old.alias("a")
                .join(
                    new.alias("b"),
                    (F.col("a.fh") == F.col("b.fh"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                )
                .select(
                    F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                )
            )
            match_rows = within.unionByName(cross)
        else:
            match_rows = within
        pairs = (
            match_rows.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_matched"))
            .filter(F.col("n_matched") >= params.VID_MIN_MATCH)
        )
        # Dynamic overwrite only rewrites partitions PRESENT in the new
        # data: a replay that computes an EMPTY pair set would leave the
        # original partition standing (silent stale pairs, not an error).
        # That is sound ONLY because the checkpoint contract replays a
        # batch with identical input — same pairs, same partition — which
        # the replay tests pin (r11 ADVICE: assumption recorded here, at
        # the one site whose failure mode would be silent).
        pairs.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "_batch_id"
        ).parquet(out_dir)
        (
            fr.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(f"{state_dir}/frames")
        )
    finally:
        # released even on a failed write: a leaked block taxes
        # every later query in a shared JVM (bench r5 lesson /
        # r12 ADVICE)
        fr.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


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
    sum-merged ``osum_v{batch_id}`` versions under the bcounts
    protocol (strictly-pre-batch prev, recompute-on-replay), plus the
    exploded interval index under ``_batch_id`` dynamic-overwrite
    partitions. After the drain the published rollup equals the
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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _ivo_overlap_batch(batch_df, batch_id, state_dir)

    return stream_lineitem.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def _ivo_overlap_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One ivo_overlap_sink micro-batch (module-level for replay
    tests); see the sink docstring for the protocol."""
    from flink_kafka_filter_transform_spark.operators.rangejoin import (
        lineitem_transit_intervals,
        overlap_bucketed,
        overlap_days,
        overlap_pred,
        overlap_side,
    )

    spark = _batch_aqe(batch_df.sparkSession)
    # the shared rangejoin helpers guarantee bucket assignment, side
    # projections, ownership, and overlap arithmetic stay BYTE-
    # IDENTICAL with the batch operator (r11 review — exactly-once
    # depends on it)
    ex = overlap_bucketed(lineitem_transit_intervals(batch_df)).persist()
    try:
        left = overlap_side(ex, "a")
        right = overlap_side(ex, "b")
        within = (
            left.join(right.hint("shuffle_hash"), ["suppkey", "_bucket"])
            .filter((F.col("a_iid") < F.col("b_iid")) & overlap_pred())
            .select("suppkey", overlap_days().alias("overlap_days"))
        )
        if _hadoop_path_exists(spark, f"{state_dir}/iv"):
            # the index stores ex's own column names, so the probe side is
            # the SAME overlap_side projection the batch operator uses —
            # no hand-rolled copy to drift (r11 review)
            idx = overlap_side(
                spark.read.parquet(f"{state_dir}/iv")
                .filter(F.col("_batch_id") < batch_id)
                .drop("_batch_id"),
                "a",
            )
            # a_iid != b_iid mirrors the batch op's strict a_iid < b_iid:
            # iids are NOT unique in the fixture (duplicate (orderkey,
            # linenumber) rows), and same-iid pairs are excluded from the
            # pair space on both engines — without this, two same-iid rows
            # landing in different batches would emit a self-pair the
            # batch operator never counts.
            cross = (
                idx.join(right.hint("shuffle_hash"), ["suppkey", "_bucket"])
                .filter((F.col("a_iid") != F.col("b_iid")) & overlap_pred())
                .select("suppkey", overlap_days().alias("overlap_days"))
            )
            match_rows = within.unionByName(cross)
        else:
            match_rows = within
        delta = match_rows.groupBy("suppkey").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("overlap_days").alias("sum_overlap_days"),
            F.max("overlap_days").alias("max_overlap_days"),
        )
        v = _latest_state_version(spark, state_dir, "osum", before=batch_id)
        totals = delta
        if v is not None:
            prev = spark.read.parquet(f"{state_dir}/osum_v{v}")
            totals = (
                prev.unionByName(delta)
                .groupBy("suppkey")
                .agg(
                    F.sum("n_pairs").alias("n_pairs"),
                    F.sum("sum_overlap_days").alias("sum_overlap_days"),
                    F.max("max_overlap_days").alias("max_overlap_days"),
                )
            )
        totals.write.mode("overwrite").parquet(f"{state_dir}/osum_v{batch_id}")
        (
            ex.select("l_suppkey", "iid", "start_day", "end_day", "_bucket")
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(f"{state_dir}/iv")
        )
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
    _fingerprint_index_batch protocol over VARIANT keys:

    per batch: (1) arriving entities explode into their symmetric-
    delete variant rows (the SHARED linkage.variant_exploded — recall
    depends on both faces deriving variants identically); (2) the
    LIFETIME per-variant entity count is sum-merged as
    ``vcounts_v{batch_id}`` (bcounts protocol: strictly-pre-batch
    prev, recompute-on-replay) and variants over EDIT_BLOCK_CAP drop
    from BOTH sides before any pairing — the cap binds on the
    accumulated block exactly as the batch operator's cap binds on
    the whole-corpus block (one-sided cap-boundary caveat if a block
    crosses the cap mid-stream, verbatim from the LSH face);
    (3) candidate pairs = within-batch sorted-block expansion (the
    batch operator's own VARIANT_PAIR_EXPANSION) UNION batch-vs-index
    variant probes — each pair emits in exactly the batch its LATER
    member arrives in; (4) verification is the built-in levenshtein
    on the names already in hand — no separate verify state;
    (5) verified pairs land under ``_batch_id`` dynamic-overwrite
    partitions, the batch's variant rows append to the index.

    Cross-probe pairs orient by least/greatest over (k, nm) structs —
    the SAME lexicographic ordering array_sort gives the within-batch
    blocks — and the explicit a.k != b.k guard is the sibling faces'
    redelivery rule (same-batch-id replay is fully idempotent;
    cross-batch whole-doc redelivery is outside the delivery
    contract, as documented at the vfp probe).

    After the drain the pair log equals the one-shot batch operator,
    and the SAME naive quadratic DuckDB oracle gates the blocking,
    the verify, and the micro-batch split in one differential check.

    Scale shape per batch: variant fan-out <= len+1 per entity; the
    probe is an equi-join on the variant string — at 100 TB the index
    store is partitioned by variant hash so the probe prunes to
    matching partitions; only (key, name, variant) rows ever shuffle,
    never anything quadratic (blocks are capped)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _edit_index_batch(batch_df, batch_id, key_col, name_col, state_dir, out_dir)

    return stream_rows.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def _edit_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    key_col: str,
    name_col: str,
    state_dir: str,
    out_dir: str,
) -> None:
    """One edit_index_sink micro-batch (module-level for replay
    tests); see the sink docstring for the protocol."""
    from flink_kafka_filter_transform_spark.operators.linkage import (
        EDIT_BLOCK_CAP,
        VARIANT_PAIR_EXPANSION,
        variant_exploded,
    )

    spark = _batch_aqe(batch_df.sparkSession)
    # the variant relation feeds three consumers (block counts, the
    # within-batch blocks, the index probe) plus the state append;
    # persisted so the explode runs once per batch
    ex = variant_exploded(batch_df, key_col, name_col).persist()
    try:
        bn = ex.groupBy("variant").agg(F.count(F.lit(1)).alias("_n"))
        over_cap = _accumulated_over_cap(
            spark, state_dir, "vcounts", bn, batch_id, EDIT_BLOCK_CAP, ["variant"]
        )
        new = ex.join(over_cap, ["variant"], "left_anti")
        within = (
            new.groupBy("variant")
            .agg(F.array_sort(F.collect_set(F.struct("k", "nm"))).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(F.explode(F.expr(VARIANT_PAIR_EXPANSION)).alias("p"))
            .select("p.ak", "p.anm", "p.bk", "p.bnm")
        )
        if _hadoop_path_exists(spark, f"{state_dir}/names"):
            # r15 (the bands-state rule, guide §6/§2): the variant index
            # is a DETERMINISTIC EXPLOSION of the (k, nm) name rows
            # (variant_exploded is a pure map), so the state stores ONE
            # narrow row per entity and the ~L+1 variant rows — each
            # carrying the name AND a variant string — are re-derived on
            # read instead of written every micro-batch.
            idx_names = _read_index_before(
                spark, f"{state_dir}/names", ex.select("k", "nm"), batch_id
            )
            idx = variant_exploded(idx_names, "k", "nm")
            old = idx.join(over_cap, ["variant"], "left_anti")
            sa = F.struct(F.col("a.k").alias("k"), F.col("a.nm").alias("nm"))
            sb = F.struct(F.col("b.k").alias("k"), F.col("b.nm").alias("nm"))
            lo, hi = F.least(sa, sb), F.greatest(sa, sb)
            cross = (
                old.alias("a")
                .join(
                    new.alias("b"),
                    (F.col("a.variant") == F.col("b.variant"))
                    & (F.col("a.k") != F.col("b.k")),
                )
                .select(
                    lo["k"].alias("ak"),
                    lo["nm"].alias("anm"),
                    hi["k"].alias("bk"),
                    hi["nm"].alias("bnm"),
                )
            )
            cand = within.unionByName(cross).distinct()
        else:
            cand = within.distinct()
        verified = (
            cand.withColumn("distance", F.levenshtein("anm", "bnm"))
            .filter(F.col("distance") <= 1)
            .select(
                F.col("ak").alias(f"a_{key_col}"),
                F.col("bk").alias(f"b_{key_col}"),
                F.col("distance").cast("int").alias("distance"),
            )
        )
        # same empty-replay dynamic-overwrite assumption as the vfp pair
        # log — sound under the checkpoint contract's identical-input rule
        verified.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "_batch_id"
        ).parquet(out_dir)
        # the name state is one (k, nm) row per entity — batch_df
        # projected directly (NOT distinct over ex: the explode never
        # drops or adds entities, and nm-null rows are filtered exactly
        # as variant_exploded filters them)
        (
            batch_df.select(
                F.col(key_col).alias("k"), F.col(name_col).alias("nm")
            )
            .filter(F.col("nm").isNotNull())
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(f"{state_dir}/names")
        )
    finally:
        # released even on a failed write: a leaked block taxes
        # every later query in a shared JVM (bench r5 lesson /
        # r12 ADVICE)
        ex.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


# One labels_v shard covers this many consecutive LABEL ids (floor
# division, so a shard is a contiguous label range). Labels are min
# doc_ids, and doc ids arrive roughly monotonically in a real ingest,
# so fresh singletons concentrate in the tail shard(s) while merges
# touch only the shards the remap names — the property that makes the
# per-batch label-table rewrite O(affected), not O(corpus). The
# default keeps driver-scale corpora (<= ~1M docs) in ONE shard —
# the pre-r14 full-rewrite behavior, zero extra overhead — while any
# larger deploy picks up sharding automatically; tests pass small
# spans explicitly to exercise multi-shard publication.
CC_LABEL_SHARD_SPAN = 1 << 20


def cc_labels_sink(
    stream_docs: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    shard_span: int = CC_LABEL_SHARD_SPAN,
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
    the full pair history; (4) graph.connected_components runs on
    that label graph ONLY (nodes <= 2x batch pairs — the SCD2 face's
    affected-key recompute pattern), yielding old-label -> new-label;
    (5) the remap broadcasts into one relabel pass over the label
    table, and ``labels_v{batch_id}`` publishes.

    Correctness invariant: every component's label is the MIN doc_id
    of the component. It holds inductively — new docs start as their
    own label, and a merge takes the min over merged labels (min-label
    propagation on the label graph), which IS the min doc_id of the
    union. After the drain the labels equal the one-shot batch
    operator graph.neardup_clusters over the same corpus —
    tests/test_streaming.py proves it, and the cc_stream_state face
    puts it under the driver's RECURSIVE-CTE oracle.

    Replay discipline: the prev label table is resolved strictly
    pre-batch (_latest_state_version before=batch_id), so a replayed
    batch recomputes ``labels_v{batch_id}`` from the same inputs —
    idempotent — and _lsh_index_batch's own dynamic partition
    overwrite re-emits the identical pair partition. Reads carry
    explicit schemas (the empty-first-batch rule).

    Scale shape per batch: the LSH probe is the index sink's own cost;
    the label-edge graph is bounded by the batch's PAIR count (not
    the corpus, not the history) and — because contraction collapses
    every prior round's work into single nodes — is near-diameter-1,
    so below SMALL_GRAPH_EDGE_CAP it resolves in ONE bounded driver
    union-find (graph.components_unionfind_small — r14, deleting the
    distributed fixpoint's per-round tiny-job cadence that made the
    face suite-noise-sensitive at sf0.1); past the cap the generic
    distributed loop takes over unchanged. The label table publishes
    SHARDED BY LABEL RANGE (r14, the rewrite the r13 docstring only
    promised): ``labels_v{batch_id}/_shard=K`` holds only the shards
    the batch AFFECTED — shards of fresh labels plus shards named by
    the remap on either side (a relabel moves a row from its old
    label's shard to its new label's shard, both named) — and
    ``lmanifest_v{batch_id}`` maps every shard to the version holding
    its current rows, so per-batch label-table WRITE cost is
    O(affected)/batch, not O(corpus)/batch: the difference between a
    100 TB deploy rewriting 100 TB per batch and rewriting megabytes.
    Readers (cc_labels_current) assemble shard-pruned reads across
    the manifest's versions. Old versions prune via
    prune_cc_label_state (NOT the generic prune_state_versions,
    prefix="labels" — a sharded version dir stays live while ANY
    manifest-referenced shard points at it) — AND the nested
    LSH sub-state this sink drives under ``{state_dir}/lsh`` needs its
    OWN pruning pass (r13 ADVICE: it is the face's dominant state
    volume): run prune_state_versions(spark, f"{state_dir}/lsh",
    prefix="bcounts") for the bucket-count versions, and prune the
    ``bands``/``sigs`` index ``_batch_id`` partitions below the
    checkpoint watermark with the same offline cadence (they are
    append-only partitions, not versions, so the version pruner does
    not see them)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _cc_labels_batch(
            batch_df, batch_id, state_dir, out_dir, shard_span=shard_span
        )

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def _shard_expr(col: str, span: int):
    """Label-range shard id: floor(label / span) — the dual-dialect
    integer-division spelling (exact for |label| < 2^52)."""
    return F.expr(f"CAST(floor({col} / {span}) AS BIGINT)")


def _cc_label_schema(id_field) -> "StructType":
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [
            StructField("doc_id", id_field.dataType),
            StructField("label", id_field.dataType),
        ]
    )


def _cc_manifest_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """All published ``lmanifest_v{N}`` FILE versions, ascending. The
    manifest is a single driver-written file (the _LATEST pointer
    pattern — it is bookkeeping, not data): publication is the atomic
    tmp→rename, so existence == published; a crashed partial write
    leaves only a ``._lmanifest.tmp.*`` residue the regex never
    matches."""
    import re as _re

    dirpath, fs = _hadoop_fs(spark, state_dir)
    if not fs.exists(dirpath):
        return []
    out = []
    for status in fs.listStatus(dirpath):
        m = _re.fullmatch(r"lmanifest_v(\d+)", status.getPath().getName())
        if m is not None:
            out.append(int(m.group(1)))
    return sorted(out)


def _cc_write_manifest(
    spark: SparkSession, state_dir: str, batch_id: int, manifest: dict[int, int]
) -> None:
    """Publish ``lmanifest_v{batch_id}`` (lines of ``shard version``)
    via the FS API — tmp write + rename, the _write_latest_pointer
    discipline. Driver-side on purpose: the map is corpus/shard_span
    rows of bookkeeping the batch already holds in memory, and a
    Spark write here costs a whole scheduled job per micro-batch
    (measured ~1 s even via repartition(1), ~5-6 s via the
    locality-stalled coalesce(1)) for a file of a few KB."""
    tmp = f"{state_dir}/._lmanifest.tmp.{batch_id}"
    jtmp, fs = _hadoop_fs(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        body = "".join(
            f"{s} {v}\n" for s, v in sorted(manifest.items())
        )
        out.write(body.encode("ascii"))
    finally:
        out.close()
    jdst = spark._jvm.org.apache.hadoop.fs.Path(
        f"{state_dir}/lmanifest_v{batch_id}"
    )
    if fs.exists(jdst):
        fs.delete(jdst, False)
    if not fs.rename(jtmp, jdst):
        raise IOError(
            f"failed to publish {state_dir}/lmanifest_v{batch_id} "
            f"(rename returned false); partial manifest left at {tmp}"
        )


def _cc_read_manifest(
    spark: SparkSession, state_dir: str, before: int | None = None
) -> dict[int, int] | None:
    """shard -> version map from the newest published
    ``lmanifest_v*`` file (strictly below ``before`` when given), or
    None before the first publication. Manifest cardinality is
    corpus/shard_span — bounded driver rows by design."""
    versions = _cc_manifest_versions(spark, state_dir)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    path = f"{state_dir}/lmanifest_v{versions[-1]}"
    jpath, fs = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        manifest: dict[int, int] = {}
        line = reader.readLine()
        while line is not None:
            line = line.strip()
            if line:
                s, v = line.split(" ")
                manifest[int(s)] = int(v)
            line = reader.readLine()
    finally:
        stream.close()
    return manifest


def _cc_assembled_labels(
    spark: SparkSession,
    state_dir: str,
    manifest: dict[int, int],
    label_schema=None,
) -> DataFrame | None:
    """The complete (doc_id, label) table a manifest describes:
    per distinct version ONE shard-pruned read of
    ``labels_v{version}`` (``_shard`` is a partition column, so the
    isin filter prunes directories before any file is opened), then a
    plain union — shards are disjoint across the selected versions by
    the manifest's construction. None for an empty manifest (labels
    published but the corpus so far is empty)."""
    from pyspark.sql.types import LongType, StructField, StructType

    if not manifest:
        return None
    by_version: dict[int, list[int]] = {}
    for shard, version in manifest.items():
        by_version.setdefault(version, []).append(shard)
    parts = []
    for version, shards in sorted(by_version.items()):
        reader = spark.read
        if label_schema is not None:
            reader = reader.schema(
                StructType(
                    list(label_schema.fields)
                    + [StructField("_shard", LongType())]
                )
            )
        parts.append(
            reader.parquet(f"{state_dir}/labels_v{version}")
            .filter(F.col("_shard").isin(shards))
            .select("doc_id", "label")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _cc_labels_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    shard_span: int = CC_LABEL_SHARD_SPAN,
) -> None:
    """One cc_labels_sink micro-batch (module-level for replay tests);
    see the sink docstring for the protocol. ``shard_span`` is the
    label-range width of one ``labels_v`` shard (tests pass small
    spans to exercise multi-shard publication; the default keeps a
    driver-scale corpus in one shard, where the protocol degenerates
    to the r13 full rewrite)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from flink_kafka_filter_transform_spark.operators.graph import (
        components_unionfind_small,
        connected_components,
    )

    spark = _batch_aqe(batch_df.sparkSession)
    _lsh_index_batch(batch_df, batch_id, f"{state_dir}/lsh", out_dir)
    id_field = batch_df.schema["doc_id"]
    # this batch's verified pairs — the partition _lsh_index_batch just
    # wrote (replay overwrites it, so the read always sees exactly this
    # batch's recomputed pairs). Explicit schema: an all-empty batch
    # writes only _SUCCESS under dynamic overwrite.
    pair_schema = StructType(
        [
            StructField("doc_a", id_field.dataType),
            StructField("doc_b", id_field.dataType),
            StructField("jaccard", DoubleType()),
        ]
    )
    label_schema = _cc_label_schema(id_field)
    prev_manifest = _cc_read_manifest(spark, state_dir, before=batch_id)
    prev = (
        _cc_assembled_labels(spark, state_dir, prev_manifest, label_schema)
        if prev_manifest is not None
        else None
    )
    fresh = batch_df.select("doc_id").distinct().select(
        "doc_id", F.col("doc_id").alias("label")
    )
    # a doc arrives in exactly one batch (the delivery contract every
    # face shares) and prev is strictly pre-batch, so fresh and prev
    # are disjoint by construction — plain union, no key-merge shuffle.
    # Both multi-consumer relations persist for the batch (the
    # index-batch bodies' sig/chunks/fr/ex discipline — r13 review):
    # base feeds the two endpoint-label joins, the relabel join, and
    # the changed-shard write; ledges feeds the small-graph collect or
    # the distributed fixpoint.
    base = (fresh if prev is None else prev.unionByName(fresh)).persist()
    try:
        pairs_now = _this_batch_pairs(spark, out_dir, pair_schema, batch_id)
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
            # ONE probe job computes everything the protocol needs to
            # know before acting: the distinct fresh-label shards AND
            # the ledge count (fused — separate count / collect_set
            # jobs each cost ~0.3 s of scheduler latency per
            # micro-batch, measured r14)
            probe = (
                fresh.select(
                    _shard_expr("label", shard_span).alias("v")
                )
                .distinct()
                .withColumn("k", F.lit("shard"))
                .unionByName(
                    ledges.agg(
                        F.count(F.lit(1)).cast("bigint").alias("v")
                    ).withColumn("k", F.lit("n"))
                )
                .collect()
            )
            n_ledges = next(r["v"] for r in probe if r["k"] == "n")
            fresh_shards = {r["v"] for r in probe if r["k"] == "shard"}
            # the label graph resolves driver-side below the cap (the
            # r14 fast path — ONE bounded collect replaces the
            # distributed loop's per-round tiny-job cadence; an empty
            # edge set is free); components_unionfind_small returns
            # None past the cap and the generic fixpoint takes over.
            small = components_unionfind_small(ledges, n_edges=n_ledges)
            remap_df = None
            remap_shards: set[int] = set()
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
                                StructField("label", id_field.dataType),
                                StructField("_new", id_field.dataType),
                            ]
                        ),
                    )
                    remap_shards = {
                        x // shard_span for r in remap_rows for x in r
                    }
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
                remap_shards = {
                    r["s"]
                    for r in remap_df.select(
                        F.explode(
                            F.array(
                                _shard_expr("label", shard_span),
                                _shard_expr("_new", shard_span),
                            )
                        ).alias("s")
                    )
                    .distinct()
                    .collect()
                }
            # affected shards = the probe's fresh-label shards plus
            # every shard the remap names on either side (a relabel
            # moves a row from its old label's shard to its new
            # label's shard — both named, so the changed set is closed)
            affected = sorted(fresh_shards | remap_shards)
            changed = base.filter(
                _shard_expr("label", shard_span).isin(affected)
            )
            if remap_df is not None:
                changed = changed.join(
                    F.broadcast(remap_df), "label", "left"
                ).select("doc_id", F.coalesce("_new", "label").alias("label"))
            (
                changed.withColumn("_shard", _shard_expr("label", shard_span))
                .write.mode("overwrite")
                .partitionBy("_shard")
                .parquet(f"{state_dir}/labels_v{batch_id}")
            )
            new_manifest = dict(prev_manifest or {})
            new_manifest.update({s: batch_id for s in affected})
            _cc_write_manifest(spark, state_dir, batch_id, new_manifest)
        finally:
            ledges.unpersist()
    finally:
        # released even on a failed write (the r12 ADVICE rule)
        base.unpersist()
    _write_latest_pointer(spark, state_dir, batch_id)


def _this_batch_pairs(
    spark: SparkSession, out_dir: str, pair_schema, batch_id: int
) -> DataFrame:
    """EXACTLY this batch's rows of a ``_batch_id``-partitioned pair
    log, with the explicit-schema discipline of _read_index_before
    (same LongType partition column, same fresh-StructType rule).
    Two guard layers, both load-bearing (r13 review): an all-empty
    first batch DOES create out_dir with a _SUCCESS marker (the r12
    empty-first-batch finding — which is exactly why the read carries
    an explicit schema: inference over marker-only output would
    brick), while the exists-guard covers the path genuinely not
    existing yet — _cc_labels_batch reads the log its own
    _lsh_index_batch call just wrote, so in-protocol the dir exists,
    but a direct _cc_labels_batch caller (the replay tests) must not
    crash before any write has happened."""
    from pyspark.sql.types import LongType, StructField, StructType

    if not _hadoop_path_exists(spark, out_dir):
        return spark.createDataFrame([], pair_schema).select("doc_a", "doc_b")
    schema = StructType(
        list(pair_schema.fields) + [StructField("_batch_id", LongType())]
    )
    return (
        spark.read.schema(schema)
        .parquet(out_dir)
        .filter(F.col("_batch_id") == batch_id)
        .drop("_batch_id")
        .select("doc_a", "doc_b")
    )


def cc_labels_current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The latest published component-label table (doc_id, label),
    assembled across the shard manifest's versions with shard-pruned
    reads, or None before the first batch commits (also None when the
    corpus drained so far is empty — the manifest exists but names no
    shard, so there is no parquet to type a frame from; callers
    already treat None as 'no labels')."""
    manifest = _cc_read_manifest(spark, state_dir)
    if not manifest:
        return None
    # schema comes from the data itself here (a manifest-referenced
    # version always holds >= 1 shard's rows); the sink side passes
    # the explicit schema because ITS reads can race an empty corpus
    return _cc_assembled_labels(spark, state_dir, manifest)


def prune_cc_label_state(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> list[str]:
    """Offline pruning for the SHARDED label state: the generic
    prune_state_versions(prefix="labels") rule — delete all but the
    newest versions — is WRONG here, because an old ``labels_v{v}``
    stays live for as long as any manifest shard still points at it
    (unaffected shards are never rewritten). Keep = every version
    referenced by the newest ``keep_last`` published manifests, plus
    those manifests themselves, plus the newest ``keep_last`` version
    dirs (the replay-prev floor prune_state_versions also honors);
    delete the rest. Returns the deleted paths. Run OFFLINE or
    between micro-batches, like every pruner. The nested
    ``{state_dir}/lsh`` sub-state still prunes separately (see the
    cc_labels_sink docstring)."""
    import re as _re

    keep_last = max(2, keep_last)
    dirpath, fs = _hadoop_fs(spark, state_dir)
    if not fs.exists(dirpath):
        return []
    latest = _read_latest_pointer(spark, state_dir)
    manifests = _cc_manifest_versions(spark, state_dir)
    labels: list[int] = []
    for status in fs.listStatus(dirpath):
        name = status.getPath().getName()
        m = _re.fullmatch(r"labels_v(\d+)", name)
        if m is None:
            continue
        success = spark._jvm.org.apache.hadoop.fs.Path(
            status.getPath(), "_SUCCESS"
        )
        if not fs.exists(success):
            continue
        labels.append(int(m.group(1)))
    # never touch an in-flight publication above the pointer
    if latest is not None:
        manifests = [v for v in manifests if v <= latest]
        labels = [v for v in labels if v <= latest]
    keep_manifests = set(sorted(manifests)[-keep_last:])
    referenced: set[int] = set()
    for mv in keep_manifests:
        mf = _cc_read_manifest(spark, state_dir, before=mv + 1)
        referenced |= set((mf or {}).values())
    keep_labels = referenced | set(sorted(labels)[-keep_last:])
    deleted: list[str] = []
    for prefix, versions, keep in (
        ("lmanifest", manifests, keep_manifests),
        ("labels", labels, keep_labels),
    ):
        for v in versions:
            if v in keep:
                continue
            path = f"{state_dir}/{prefix}_v{v}"
            jp, pfs = _hadoop_fs(spark, path)
            if pfs.delete(jp, True):
                deleted.append(path)
    return deleted


# ---------------------------------------------------------------------------
# Driver-checkable batch faces for the maintenance sinks
# ---------------------------------------------------------------------------
#
# The merge sinks above are pytest-proven equivalent to their batch
# operators, but equivalence tests live outside the driver's DuckDB
# gate. These query-shaped faces close that gap: each stages the
# sf-dir table as a real file stream, drains it through the ACTUAL
# sink (availableNow + maxFilesPerTrigger=1, so the state is built
# across several genuine micro-batch merges, not one), then returns
# the final published state as a DataFrame. Because every maintained
# state is a commutative monoid fold (register max / counter sum)
# over disjoint row partitions, the drained state is micro-batch-split
# INVARIANT — equal to the one-shot batch sketch — which is exactly
# what a plain DuckDB oracle over the same table computes. Scratch
# placement goes through _face_scratch (cluster-addressability guard);
# dirs are not cleaned eagerly — the returned DataFrame lazily reads
# the published state parquet — but cleanup_face_scratch lets a
# harness reclaim them once the state has been consumed.

FACE_SCRATCH_ROOT_CONF = "spark.flinkKafkaFilterTransformSpark.faceScratchRoot"
_FACE_SCRATCH_DIRS: list[str] = []


def _face_scratch(spark: SparkSession, prefix: str) -> str:
    """Scratch root for one sink-face run (source files, checkpoint,
    state). On local[*] masters this is a driver-local mkdtemp — the
    executors share the driver's filesystem, so the path is
    addressable by every task. On a REAL cluster a driver-local temp
    dir is NOT addressable from executors (the same rule _hadoop_fs
    enforces for the sinks' own state), so the face refuses to guess
    and requires FACE_SCRATCH_ROOT_CONF to name a cluster-addressable
    URI (HDFS/S3A/...). Dirs are recorded for cleanup_face_scratch."""
    import tempfile
    import uuid

    root = spark.conf.get(FACE_SCRATCH_ROOT_CONF, None)
    if root:
        scratch = f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
        jpath, fs = _hadoop_fs(spark, scratch)
        fs.mkdirs(jpath)
    else:
        if not spark.sparkContext.master.startswith("local"):
            raise RuntimeError(
                "streaming sink faces stage their source/checkpoint/state "
                "under a scratch dir; on a non-local master set "
                f"{FACE_SCRATCH_ROOT_CONF} to a cluster-addressable URI "
                "(driver-local temp dirs are invisible to executors)"
            )
        scratch = tempfile.mkdtemp(prefix=prefix)
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
        jpath, fs = _hadoop_fs(spark, scratch)
        if fs.exists(jpath):
            fs.delete(jpath, True)
        deleted.append(scratch)
    return deleted


def _drain_through_sink(df: DataFrame, scratch: str, sink_fn) -> None:
    """Stage ``df`` as a 4-file parquet stream and drain it through
    ``sink_fn(stream, checkpoint_dir)`` with an availableNow trigger."""
    src = f"{scratch}/src"
    df.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sink_fn(stream, f"{scratch}/ckpt").trigger(availableNow=True).start()
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("streaming sink did not drain within 600s")


def hll_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the events table drained through
    hll_merge_sink (distinct user_id per event_type), returning the
    final HLL register relation (event_type, _idx, _r). The oracle
    computes the registers directly in SQL — max-merge across
    micro-batches is lossless, so streamed state == batch sketch."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    events = load_table(spark, "events", sf_dir).select("event_type", "user_id")
    scratch = _face_scratch(spark, "sgraft_hll_stream_")
    state = f"{scratch}/state"
    _drain_through_sink(
        events,
        scratch,
        lambda stream, ckpt: hll_merge_sink(
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
    scratch = _face_scratch(spark, "sgraft_cms_stream_")
    state = f"{scratch}/state"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: cms_merge_sink(stream, state, ckpt),
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
    scratch = _face_scratch(spark, "sgraft_bloom_stream_")
    state = f"{scratch}/state"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: bloom_merge_sink(stream, state, ckpt),
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
    scratch = _face_scratch(spark, "sgraft_ivf_stream_")
    state = f"{scratch}/state"
    out = f"{scratch}/postings"
    _drain_through_sink(
        emb,
        scratch,
        lambda stream, ckpt: ivf_assign_sink(stream, cents, out, state, ckpt),
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
    scratch = _face_scratch(spark, "sgraft_scd2_stream_")
    state = f"{scratch}/state"
    _drain_through_sink(
        parsed,
        scratch,
        lambda stream, ckpt: scd2_incremental_sink(stream, state, ckpt),
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
    scratch = _face_scratch(spark, "sgraft_lsh_stream_")
    state, out = f"{scratch}/state", f"{scratch}/pairs"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: lsh_index_sink(stream, state, out, ckpt),
    )
    return spark.read.parquet(out).select("doc_a", "doc_b", "jaccard")



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
    scratch = _face_scratch(spark, "sgraft_phash_stream_")
    state, out = f"{scratch}/state", f"{scratch}/pairs"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: phash_index_sink(stream, state, out, ckpt),
    )
    return spark.read.parquet(out).select("doc_a", "doc_b", "hamming")


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
    scratch = _face_scratch(spark, "sgraft_afp_stream_")
    state, out = f"{scratch}/state", f"{scratch}/pairs"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: afp_index_sink(stream, state, out, ckpt),
    )
    return spark.read.parquet(out).select("doc_a", "doc_b", "hamming")


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
    scratch = _face_scratch(spark, "sgraft_vfp_stream_")
    state, out = f"{scratch}/state", f"{scratch}/pairs"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: vfp_index_sink(stream, state, out, ckpt),
    )
    # explicit schema: a corpus where NO pair reaches VID_MIN_MATCH
    # writes only _SUCCESS markers per partition and schema inference
    # would fail on the empty log (r11 review); the declared schema
    # returns the correct empty relation instead
    return spark.read.schema(
        "doc_a BIGINT, doc_b BIGINT, n_matched BIGINT, _batch_id INT"
    ).parquet(out).select("doc_a", "doc_b", "n_matched")


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
    scratch = _face_scratch(spark, "sgraft_ivo_stream_")
    state = f"{scratch}/state"
    _drain_through_sink(
        li,
        scratch,
        lambda stream, ckpt: ivo_overlap_sink(stream, state, ckpt),
    )
    v = _read_latest_pointer(spark, state, prefix="osum")
    return spark.read.parquet(f"{state}/osum_v{v}").select(
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
    EDIT_BLOCK_CAP under the bcounts protocol — returning the
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
    scratch = _face_scratch(spark, "sgraft_edit_stream_")
    state, out = f"{scratch}/state", f"{scratch}/pairs"
    _drain_through_sink(
        cust,
        scratch,
        lambda stream, ckpt: edit_index_sink(
            stream, "c_custkey", "c_name", state, out, ckpt
        ),
    )
    # explicit schema: a corpus with no d<=1 pair writes only _SUCCESS
    # markers and inference would fail on the empty log (the vfp rule)
    return spark.read.schema(
        "a_c_custkey BIGINT, b_c_custkey BIGINT, distance INT, _batch_id INT"
    ).parquet(out).select("a_c_custkey", "b_c_custkey", "distance")


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
    scratch = _face_scratch(spark, "sgraft_cc_stream_")
    state, out = f"{scratch}/state", f"{scratch}/pairs"
    _drain_through_sink(
        docs,
        scratch,
        lambda stream, ckpt: cc_labels_sink(stream, state, out, ckpt),
    )
    labels = cc_labels_current(spark, state)
    if labels is None:
        # r13 ADVICE: cc_labels_current is None before any batch
        # commits — an empty documents table must yield an empty
        # cluster table, not an AttributeError on the None
        from pyspark.sql.types import BooleanType, LongType, StructField

        id_type = docs.schema["doc_id"].dataType
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("doc_id", id_type),
                    StructField("cluster_id", id_type),
                    StructField("cluster_size", LongType()),
                    StructField("is_kept", BooleanType()),
                ]
            ),
        )
    sized = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sized, "label").select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("label")).alias("is_kept"),
    )


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

    Face mechanics: each micro-batch's update rows land under a
    _batch_id partition (dynamic overwrite — the effectively-once
    publication the metered sink uses), and the final ledger row per
    key is the one from its LAST touching batch (max_by batch id —
    first_doc_id only ever decreases and n_suppressed only grows, so
    the latest revision is the total). State scales as one ledger row
    per distinct hash, shuffled by hash exactly like the batch
    groupBy."""
    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming import state as state_mod

    docs = load_table(spark, "documents", sf_dir).select(
        portable_hash64(F.col("text")).alias("content_hash"), "doc_id"
    )
    scratch = _face_scratch(spark, "sgraft_firstseen_stream_")
    ledger = f"{scratch}/ledger"

    def sink(stream: DataFrame, ckpt: str) -> DataStreamWriter:
        def write_batch(bdf: DataFrame, batch_id: int) -> None:
            # the stateful operator's output arrives in state-store
            # partitioning (one near-empty slice per state partition);
            # REBALANCE + AQE sizes the ledger partition's files by
            # BYTES at any scale instead of writing one tiny file per
            # state partition per batch (guide §6 small-files rule)
            _batch_aqe(bdf.sparkSession)
            (
                bdf.hint("rebalance")
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(ledger)
            )

        return (
            state_mod.streaming_first_seen(stream)
            .writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
        )

    # State-store partition count for the stateful operator (r14, guide
    # §2.2): Structured Streaming pins the stateful shuffle width to
    # spark.sql.shuffle.partitions AT FIRST BATCH (it can never change
    # for the life of the checkpoint), so it must be sized to the
    # stream's expected STATE VOLUME — a per-deployment decision — not
    # inherited from the session's transient 2×core default. At 2×32
    # the ledger's thousands of keys spread over 64 near-empty state
    # partitions: every micro-batch paid 64 state-store opens/commits
    # and 64 Arrow round-trips to the Python state worker for ~20 keys
    # each (measured: ~2.1 s per 1250-row batch; ~0.8 s at 16).
    # SPARK_GRAFT_STATE_PARTITIONS overrides for production key
    # cardinalities; the default stays fixed across driver core counts,
    # which keeps the bench series comparable at every CPU setting.
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
    import os as _os

    state_partitions = _os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "16")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", state_partitions)
    try:
        _drain_through_sink(docs, scratch, sink)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    led = spark.read.parquet(ledger)
    final = led.groupBy("content_hash").agg(
        F.max_by(F.struct("first_doc_id", "n_suppressed"), "_batch_id").alias("s")
    )
    return final.select(
        "content_hash",
        F.col("s.first_doc_id").alias("first_doc_id"),
        F.col("s.n_suppressed").alias("n_suppressed"),
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
    import re as _re

    dirpath, fs = _hadoop_fs(spark, state_dir)
    published: list[int] = []
    residue: list[int] = []
    for status in fs.listStatus(dirpath):
        m = _re.fullmatch(rf"{_re.escape(prefix)}_v(\d+)", status.getPath().getName())
        if m is None or int(m.group(1)) > latest:
            continue
        success = spark._jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
        (published if fs.exists(success) else residue).append(int(m.group(1)))
    published.sort()
    doomed = sorted(
        residue + (published[:-keep_last] if len(published) > keep_last else [])
    )
    for v in doomed:
        vpath = spark._jvm.org.apache.hadoop.fs.Path(f"{state_dir}/{prefix}_v{v}")
        fs.delete(vpath, True)
    return doomed
