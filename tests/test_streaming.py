"""Streaming twin tests: the SAME operators that passed the batch
oracle, run under Structured Streaming from a file source (availableNow
trigger), must produce identical results."""

import os
import re
import time
from collections import Counter

import pytest

from pyspark.sql import functions as SF
from pyspark.sql import types as ST

from flink_kafka_filter_transform_spark.operators import cdc
from flink_kafka_filter_transform_spark.sources.cdc_fixture import RULES, cdc_events_df
from flink_kafka_filter_transform_spark.streaming import pipeline as sp


def _jobs_per_batch(spark, q) -> float:
    """Spark jobs a terminated query launched per micro-batch with
    input: foreachBatch jobs run in the query's job group (its run
    id)."""
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert batches
    return len(jobs) / len(batches)


@pytest.fixture(params=["file", "kafka"])
def staged_source(request, spark, tmp_path_factory):
    """Factory staging ORDERED row batches into a streaming source —
    the one source fixture the late-data equivalence tests share
    (VERDICT r4 #8). 'file' = parquet appends + maxFilesPerTrigger
    (always runs); 'kafka' = a real topic behind the same broker gate
    as test_kafka_integration (skips without
    SPARK_GRAFT_KAFKA_BOOTSTRAP, lights up the O1 source wiring —
    subscribe, earliest offsets, session timeout — wherever a broker
    exists). Rows travel through Kafka as JSON with timestamps encoded
    as unix MICROS (to_json's default format truncates to millis,
    which would silently fail any unix_micros-based assertion);
    convergence assertions never depend on cross-partition order."""
    kind = request.param
    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if kind == "kafka" and not bootstrap:
        pytest.skip("SPARK_GRAFT_KAFKA_BOOTSTRAP not set (no broker in sandbox)")

    def stage(batches, name):
        schema = batches[0].schema
        tscols = {
            f.name for f in schema.fields if isinstance(f.dataType, ST.TimestampType)
        }
        if kind == "file":
            d = str(tmp_path_factory.mktemp(name))
            for i, b in enumerate(batches):
                if i:
                    time.sleep(1.1)  # file-source batch order is mtime-based
                b.repartition(2).write.mode("append").parquet(d)
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
        topic = f"staged-{name}-{os.getpid()}-{time.time_ns()}"
        total = 0
        for b in batches:
            enc = b
            for c in tscols:
                enc = enc.withColumn(c, SF.unix_micros(SF.col(c)))
            (
                enc.select(
                    SF.to_json(
                        SF.struct(*[SF.col(f.name) for f in schema.fields])
                    ).alias("value")
                )
                .write.format("kafka")
                .option("kafka.bootstrap.servers", bootstrap)
                .option("topic", topic)
                .save()
            )
            total += b.count()
        transport = ST.StructType(
            [
                ST.StructField(
                    f.name,
                    ST.LongType() if f.name in tscols else f.dataType,
                    True,
                )
                for f in schema.fields
            ]
        )
        raw = sp.kafka_stream_source(
            spark,
            bootstrap,
            [topic],
            max_offsets_per_trigger=max(1, total // (2 * len(batches))),
        )
        dec = raw.select(
            SF.from_json(SF.col("value").cast("string"), transport).alias("r")
        ).select("r.*")
        for c in tscols:
            dec = dec.withColumn(c, SF.timestamp_micros(SF.col(c)))
        return dec.select(*[f.name for f in schema.fields])

    return stage


@pytest.fixture(scope="module")
def cdc_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc_stream"))
    cdc_events_df(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def cdc_schema(spark, sf_dir):
    return cdc_events_df(spark, sf_dir).schema


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_transformed_stream_matches_batch(spark, sf_dir, cdc_dir, cdc_schema):
    stream = sp.file_stream_source(spark, cdc_dir, cdc_schema)
    assert stream.isStreaming
    _run_to_memory(sp.transformed_stream(stream, RULES), "t_out", "append")
    got = {
        (r["topic"], r["key"], r["value"])
        for r in spark.table("t_out").collect()
    }
    batch = cdc.project_outgoing(
        cdc.drop_unrouted(
            cdc.route_when_chain(
                cdc.filter_deletes(cdc.parse_envelope(cdc_events_df(spark, sf_dir))), RULES
            )
        )
    )
    want = {(r["topic"], r["key"], r["value"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_materialize_latest_matches_batch(spark, sf_dir, cdc_dir, cdc_schema):
    """Changelog compaction as a streaming aggregation (complete mode):
    the latest-state view computed incrementally must equal the batch
    compaction — the upsert-view maintenance a CDC consumer actually
    runs."""
    stream = sp.file_stream_source(spark, cdc_dir, cdc_schema)
    _run_to_memory(
        cdc.materialize_latest(cdc.parse_envelope(stream)), "t_mat", "complete"
    )
    cols = ("db", "table_name", "key", "op", "last_ts_us", "msg_id", "value")
    got = {tuple(r[c] for c in cols) for r in spark.table("t_mat").collect()}
    batch = cdc.materialize_latest(cdc.parse_envelope(cdc_events_df(spark, sf_dir)))
    want = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_materialize_latest_converges_with_late_data(
    spark, sf_dir, cdc_schema, tmp_path_factory
):
    """Out-of-order arrival: the OLDEST half of the changelog lands in
    files processed AFTER the newest half (maxFilesPerTrigger=1 forces
    one file per microbatch, file-source ordering by modification
    time). The complete-mode compaction must still converge to the
    batch answer — max_by is arrival-order-insensitive, so a late
    stale change can never overwrite a newer state. This is the
    upsert-view guarantee a CDC consumer needs when partitions replay
    or producers lag."""
    import time

    from pyspark.sql import functions as F

    src = cdc_events_df(spark, sf_dir)
    cutoff = src.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    late_dir = str(tmp_path_factory.mktemp("cdc_late"))
    # newest changes first (2 files), oldest changes last (2 files,
    # strictly later mtime so the file source orders them after)
    src.filter(F.unix_micros("ts") >= cutoff).repartition(2).write.mode(
        "append"
    ).parquet(late_dir)
    time.sleep(1.1)
    src.filter(F.unix_micros("ts") < cutoff).repartition(2).write.mode(
        "append"
    ).parquet(late_dir)

    stream = (
        spark.readStream.schema(cdc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(late_dir)
    )
    _run_to_memory(
        cdc.materialize_latest(cdc.parse_envelope(stream)), "t_mat_late", "complete"
    )
    cols = ("db", "table_name", "key", "op", "last_ts_us", "msg_id", "value")
    got = {tuple(r[c] for c in cols) for r in spark.table("t_mat_late").collect()}
    want = {
        tuple(r[c] for c in cols)
        for r in cdc.materialize_latest(cdc.parse_envelope(src)).collect()
    }
    assert got == want and len(want) > 0


def test_scd2_incremental_converges_with_late_data(
    spark, sf_dir, staged_source, tmp_path_factory
):
    """Incremental SCD2 via foreachBatch merge must equal the batch
    scd2_history even when the OLDEST half of the changelog arrives in
    LATER micro-batches (via the staged_source fixture — file twin
    here, real Kafka topic where a broker exists): a late change has
    to splice into an already-published interval — splitting it and
    re-closing valid_to — and a late delete has to close one. The
    changelog-as-state design makes this exact, not approximate."""
    from pyspark.sql import functions as F

    src = cdc_events_df(spark, sf_dir)
    cutoff = src.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    stream = staged_source(
        [
            src.filter(F.unix_micros("ts") >= cutoff),
            src.filter(F.unix_micros("ts") < cutoff),
        ],
        "scd2late",
    )
    state_dir = str(tmp_path_factory.mktemp("scd2_state"))
    ckpt = str(tmp_path_factory.mktemp("scd2_ckpt"))
    q = (
        sp.scd2_incremental_sink(cdc.parse_envelope(stream), state_dir, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = ("db", "table_name", "key", "op", "msg_id",
            "valid_from_us", "valid_to_us", "is_current")
    got = Counter(
        tuple(r[c] for c in cols)
        for r in sp.scd2_current(spark, state_dir).collect()
    )
    want = Counter(
        tuple(r[c] for c in cols)
        for r in cdc.scd2_history(cdc.parse_envelope(src)).collect()
    )
    assert got == want and len(want) > 0


def test_funnel_stream_converges_with_late_data(spark, sf_dir, staged_source):
    """The conversion funnel's stateful core (per-(user, day)
    conditional first-event mins) runs INCREMENTALLY: feed the events
    table through the staged_source fixture (file twin here, Kafka
    where a broker exists) with the OLDEST half arriving in LATER
    micro-batches, run the same funnel_user_day_state through
    Structured Streaming in complete mode, roll the sink table up with
    the shared funnel_day_rollup, and the result must equal the batch
    daily_funnel exactly — min() merges order-insensitively, so late
    or replayed events can only refine state, never corrupt it."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.operators import relational
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    src = load_table(spark, "events", sf_dir)
    cutoff = src.agg(F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.5)")).collect()[0][0]
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    stream = staged_source(
        [src.filter(ts_us >= cutoff), src.filter(ts_us < cutoff)],
        "funnellate",
    )
    _run_to_memory(
        relational.funnel_user_day_state(stream), "t_funnel_state", "complete"
    )
    got = {
        tuple(r)
        for r in relational.funnel_day_rollup(spark.table("t_funnel_state")).collect()
    }
    want = {tuple(r) for r in relational.daily_funnel(src).collect()}
    assert got == want and len(want) > 0


def test_streaming_first_seen_matches_batch_dedup(spark, sf_dir, tmp_path_factory):
    """The streaming first-seen dedup ledger, fed the documents corpus
    in multiple micro-batches (maxFilesPerTrigger=1), must converge to
    the batch answer — per content hash, the smallest doc_id survives
    and the rest count as suppressed. Update-mode memory sink keeps
    every revision; the LAST revision per key is the ledger state."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming.state import streaming_first_seen

    docs = load_table(spark, "documents", sf_dir)
    hashed = docs.select(
        portable_hash64(F.col("text")).alias("content_hash"), "doc_id"
    )
    src_dir = str(tmp_path_factory.mktemp("firstseen_src"))
    hashed.repartition(3).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema("content_hash BIGINT, doc_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    _run_to_memory(streaming_first_seen(stream), "t_firstseen", "update")

    sink = spark.table("t_firstseen")
    # last revision per key: n_suppressed is monotone, so max() is it
    got = {
        (r["content_hash"], r["first_doc_id"], r["n_suppressed"])
        for r in sink.groupBy("content_hash")
        .agg(
            F.min("first_doc_id").alias("first_doc_id"),
            F.max("n_suppressed").alias("n_suppressed"),
        )
        .collect()
    }
    want = {
        (r["content_hash"], r["first_doc_id"], r["n_suppressed"])
        for r in hashed.groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            (F.count(F.lit(1)) - 1).alias("n_suppressed"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_metrics_endpoint(spark, sf_dir, cdc_dir, cdc_schema):
    """O12 parity: /version and /metrics serve OpenMetrics text fed by
    the streaming counters."""
    import urllib.request

    from flink_kafka_filter_transform_spark.streaming import metrics as mx

    reg = mx.CounterRegistry()
    counts = cdc.cdc_pipeline(cdc_events_df(spark, sf_dir), RULES).collect()
    for r in counts:
        reg.inc_transform(r["target_topic"], r["op"], r["cnt"])
    server = mx.serve(reg, port=0, host="127.0.0.1")
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        ver = urllib.request.urlopen(f"{base}/version").read().decode()
        assert ver == mx.VERSION
        body = urllib.request.urlopen(f"{base}/metrics").read().decode()
        assert "# TYPE flink_kafka_filter_transform_count counter" in body
        total_served = sum(
            int(line.rsplit(" ", 1)[1])
            for line in body.splitlines()
            if line.startswith("flink_kafka_filter_transform_count_total")
        )
        assert total_served == sum(r["cnt"] for r in counts)
    finally:
        server.shutdown()


def test_hll_merge_sink_matches_batch_and_is_replay_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Streaming HLL register maintenance must converge to EXACTLY the
    batch sketch (same registers -> same estimate) after the stream
    drains, and re-merging a batch (at-least-once replay) must leave
    the registers untouched — max-merge is idempotent."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming.pipeline import (
        hll_current,
        hll_merge_sink,
    )

    events = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    src_dir = str(tmp_path_factory.mktemp("hll_src"))
    events.repartition(4).write.mode("overwrite").parquet(src_dir)
    state = str(tmp_path_factory.mktemp("hll_state"))
    ckpt = str(tmp_path_factory.mktemp("hll_ckpt"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        hll_merge_sink(stream, "user_id", "event_type", state, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    regs_stream = hll_current(spark, state)
    assert regs_stream is not None
    got = {
        (r.event_type, f"{r.hll_estimate:.9g}")
        for r in hll_estimate_from_registers(regs_stream, ["event_type"]).collect()
    }
    want = {
        (r.event_type, f"{r.hll_estimate:.9g}")
        for r in hll_estimate_from_registers(
            hll_registers(events, "user_id", ["event_type"]), ["event_type"]
        ).collect()
    }
    assert got == want and len(got) > 0

    # replay: merge the FULL input once more against the final state —
    # at-least-once redelivery of any prefix is a subset of this
    replayed = (
        regs_stream.unionByName(hll_registers(events, "user_id", ["event_type"]))
        .groupBy("event_type", "_idx")
        .agg(F.max("_r").alias("_r"))
    )
    before = {(r.event_type, r._idx, r._r) for r in regs_stream.collect()}
    after = {(r.event_type, r._idx, r._r) for r in replayed.collect()}
    assert before == after


def test_cms_merge_sink_matches_batch_grid(spark, sf_dir, tmp_path_factory):
    """Streaming CMS maintenance must converge to EXACTLY the batch
    grid (integer cells, sum-merge) after the stream drains — so any
    estimate read from streaming state equals the batch estimate."""
    from flink_kafka_filter_transform_spark.operators.sketch import cms_grid
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming.pipeline import (
        cms_current,
        cms_merge_sink,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src_dir = str(tmp_path_factory.mktemp("cms_src"))
    docs.repartition(4).write.mode("overwrite").parquet(src_dir)
    state = str(tmp_path_factory.mktemp("cms_state"))
    ckpt = str(tmp_path_factory.mktemp("cms_ckpt"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = cms_merge_sink(stream, state, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {
        (r.row, r.bucket, r.cell) for r in cms_current(spark, state).collect()
    }
    want = {(r.row, r.bucket, r.cell) for r in cms_grid(docs).collect()}
    assert got == want and len(got) > 0


def test_bloom_merge_sink_matches_batch_and_is_replay_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Streaming Bloom maintenance must converge to EXACTLY the batch
    filter (bit_or over per-batch key-set registers == registers of
    the union), and re-merging the full input against the final state
    must be a no-op — OR, like HLL max and unlike CMS sum, is
    idempotent, so a Bloom filter cannot drift under at-least-once."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.functions.hashing import (
        portable_hash64,
        portable_hash64_second,
    )
    from flink_kafka_filter_transform_spark.operators.sketch import bloom_build
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming.pipeline import (
        bloom_current,
        bloom_merge_sink,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src_dir = str(tmp_path_factory.mktemp("bloom_src"))
    docs.repartition(4).write.mode("overwrite").parquet(src_dir)
    state = str(tmp_path_factory.mktemp("bloom_state"))
    ckpt = str(tmp_path_factory.mktemp("bloom_ckpt"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = bloom_merge_sink(stream, state, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    regs_stream = bloom_current(spark, state)
    assert regs_stream is not None
    got = {(r.reg, r.bits) for r in regs_stream.collect()}
    keys = docs.select(
        portable_hash64("text").alias("_h1"),
        portable_hash64_second("text").alias("_h2"),
    ).distinct()
    want = {(r.reg, r.bits) for r in bloom_build(keys).collect()}
    assert got == want and len(got) > 0

    # replay: OR the FULL input's registers once more — idempotent
    replayed = (
        regs_stream.unionByName(bloom_build(keys))
        .groupBy("reg")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    after = {(r.reg, r.bits) for r in replayed.collect()}
    assert got == after

    # the no-false-negative contract: every ingested content hash
    # probes positive against the final streamed state
    from flink_kafka_filter_transform_spark.operators import params

    m = params.BLOOM_REGS * params.BLOOM_REG_BITS
    probes = keys.select(
        F.explode(
            F.array(
                *[
                    ((F.col("_h1") + j * F.col("_h2")) % m).alias("p")
                    for j in range(1, params.BLOOM_K + 1)
                ]
            )
        ).alias("p")
    ).select(
        F.expr(f"p div {params.BLOOM_REG_BITS}").alias("reg"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p % {params.BLOOM_REG_BITS} AS INT))"
        ).alias("_b"),
    )
    misses = (
        probes.join(regs_stream, "reg", "left")
        .filter(
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_b")) == 0
        )
        .count()
    )
    assert misses == 0


def test_ivf_assign_sink_matches_batch_assignment(spark, sf_dir, tmp_path_factory):
    """Streamed IVF ingest must assign every vector to the SAME cell
    the batch operator picks (frozen broadcast codebook), and the
    maintained per-cell occupancy must equal the batch cell sizes."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.operators.kmeans import _assign, kmeans_fit
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming.pipeline import (
        ivf_assign_sink,
        ivf_cell_counts,
    )

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    _, cents = kmeans_fit(
        emb.select("vec_id", F.col("embedding").alias("v")), k=4, iters=2
    )
    src_dir = str(tmp_path_factory.mktemp("ivf_src"))
    emb.repartition(3).write.mode("overwrite").parquet(src_dir)
    out = str(tmp_path_factory.mktemp("ivf_out"))
    state = str(tmp_path_factory.mktemp("ivf_state"))
    ckpt = str(tmp_path_factory.mktemp("ivf_ckpt"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = ivf_assign_sink(stream, cents, out, state, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {(r.vec_id, r.cid) for r in spark.read.parquet(out).select("vec_id", "cid").collect()}
    want = {
        (r.vec_id, r.cid)
        for r in _assign(emb.select("vec_id", F.col("embedding").alias("v")), cents).collect()
    }
    assert got == want and len(got) > 0

    counts = {(r.cid, r.n_vectors) for r in ivf_cell_counts(spark, state).collect()}
    want_counts = {}
    for _, cid in want:
        want_counts[cid] = want_counts.get(cid, 0) + 1
    assert counts == set(want_counts.items())


def test_lsh_index_sink_matches_batch_pairs(spark, sf_dir, tmp_path_factory):
    """Draining documents through the incremental LSH index must emit
    exactly the batch operator's verified near-dup pairs (no bucket
    crosses the cap on this corpus, so equivalence is exact), with
    every pair appearing exactly once across batches."""
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming.pipeline import lsh_index_sink

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src_dir = str(tmp_path_factory.mktemp("lsh_src"))
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    state = str(tmp_path_factory.mktemp("lsh_state"))
    out = str(tmp_path_factory.mktemp("lsh_out"))
    ckpt = str(tmp_path_factory.mktemp("lsh_ckpt"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = lsh_index_sink(stream, state, out, ckpt).trigger(availableNow=True).start()
    if not q.awaitTermination(180):
        # r13 ADVICE: an ignored timeout leaves the query running and
        # the test reading partial state — fail as a timeout instead
        q.stop()
        raise TimeoutError("lsh_index_sink drain did not finish within 180s")

    emitted = [
        (r.doc_a, r.doc_b, f"{r.jaccard:.9g}")
        for r in spark.read.parquet(out).select("doc_a", "doc_b", "jaccard").collect()
    ]
    want = {
        (r.doc_a, r.doc_b, f"{r.jaccard:.9g}")
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert len(emitted) == len(set(emitted))  # exactly-once per pair
    assert set(emitted) == want and len(want) > 0


def test_merge_sinks_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """At-least-once replay simulation (r5 ADVICE): re-driving the SAME
    batch id through each merge sink's per-batch function must (a) not
    raise Spark's read-the-write-target conflict — prev state is
    strictly pre-batch — and (b) leave the published state content
    IDENTICAL, including for the sum-merged CMS/IVF state where the
    merge operator itself is not idempotent."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.operators.kmeans import kmeans_fit
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    events = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)

    # --- HLL: two batches, then replay batch 1 ---
    state = str(tmp_path_factory.mktemp("hll_replay_state"))
    sp._hll_merge_batch(events.limit(200), 0, "user_id", "event_type", state)
    sp._hll_merge_batch(events, 1, "user_id", "event_type", state)
    before = {(r.event_type, r._idx, r._r) for r in sp.hll_current(spark, state).collect()}
    sp._hll_merge_batch(events, 1, "user_id", "event_type", state)  # replay
    after = {(r.event_type, r._idx, r._r) for r in sp.hll_current(spark, state).collect()}
    assert before == after and len(after) > 0

    # --- CMS (sum-merge): replay must NOT double-count ---
    state = str(tmp_path_factory.mktemp("cms_replay_state"))
    sp._cms_merge_batch(half, 0, state)
    sp._cms_merge_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    before = {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()}
    sp._cms_merge_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, state)  # replay
    after = {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()}
    assert before == after and len(after) > 0

    # --- IVF cell counters (sum-merge) + posting lists ---
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    _, cents = kmeans_fit(
        emb.select("vec_id", SF.col("embedding").alias("v")), k=4, iters=2
    )
    out = str(tmp_path_factory.mktemp("ivf_replay_out"))
    state = str(tmp_path_factory.mktemp("ivf_replay_state"))
    e0 = emb.filter(SF.col("vec_id") % 2 == 0)
    e1 = emb.filter(SF.col("vec_id") % 2 == 1)
    sp._ivf_assign_batch(e0, 0, cents, out, state)
    sp._ivf_assign_batch(e1, 1, cents, out, state)
    before = {(r.cid, r.n_vectors) for r in sp.ivf_cell_counts(spark, state).collect()}
    rows_before = spark.read.parquet(out).count()
    sp._ivf_assign_batch(e1, 1, cents, out, state)  # replay
    after = {(r.cid, r.n_vectors) for r in sp.ivf_cell_counts(spark, state).collect()}
    assert before == after and len(after) > 0
    assert spark.read.parquet(out).count() == rows_before  # partition overwrite


def test_lsh_index_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Replaying an LSH index batch must overwrite its own band/sig
    partitions (not re-append — r5 ADVICE: duplicate sigs fan out the
    verification join; duplicate bands push buckets toward the cap)
    and re-emit the identical pair partition."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b0 = docs.filter(SF.col("doc_id") % 2 == 0)
    b1 = docs.filter(SF.col("doc_id") % 2 == 1)
    state = str(tmp_path_factory.mktemp("lsh_replay_state"))
    out = str(tmp_path_factory.mktemp("lsh_replay_out"))
    sp._lsh_index_batch(b0, 0, state, out)
    sp._lsh_index_batch(b1, 1, state, out)
    sigs_before = spark.read.parquet(f"{state}/sigs").count()
    pairs_before = {
        (r.doc_a, r.doc_b, f"{r.jaccard:.9g}")
        for r in spark.read.parquet(out).collect()
    }
    sp._lsh_index_batch(b1, 1, state, out)  # replay
    # r15: the band index is DERIVED from the sig index on read (no
    # bands state dir anymore) — sig idempotence covers both
    assert spark.read.parquet(f"{state}/sigs").count() == sigs_before
    pairs_after = {
        (r.doc_a, r.doc_b, f"{r.jaccard:.9g}")
        for r in spark.read.parquet(out).collect()
    }
    assert pairs_after == pairs_before and len(pairs_before) > 0


def test_lsh_index_sink_accumulated_cap_across_batches(
    spark, tmp_path_factory, monkeypatch
):
    """The bucket cap must gate on the ACCUMULATED bucket size, not the
    per-batch one (the r7 bcounts state's contract, identical to the
    r6 window it replaced): a bucket under the cap within every single
    batch but whose lifetime size crosses LSH_BUCKET_CAP mid-stream
    stops producing batch-vs-index pairs from that point on — the
    sink docstring's one documented divergence vs the one-shot batch
    operator — while within-batch pairs and healthy buckets keep
    flowing, and bcounts_v{batch_id} carries the lifetime totals."""
    from flink_kafka_filter_transform_spark.operators import params

    monkeypatch.setattr(params, "LSH_BUCKET_CAP", 10)
    t_hot = "alpha beta gamma delta epsilon"  # degenerate cluster text
    t_cool = "zeta eta theta iota kappa lambda"  # healthy cross-batch pair
    b0 = spark.createDataFrame(
        [(i, t_hot) for i in range(6)] + [(100, t_cool)],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(i, t_hot) for i in range(6, 12)] + [(101, t_cool)],
        "doc_id BIGINT, text STRING",
    )
    state = str(tmp_path_factory.mktemp("lsh_cap_state"))
    out = str(tmp_path_factory.mktemp("lsh_cap_out"))
    sp._lsh_index_batch(b0, 0, state, out)
    sp._lsh_index_batch(b1, 1, state, out)

    pairs = {(r.doc_a, r.doc_b) for r in spark.read.parquet(out).collect()}
    hot0, hot1 = set(range(6)), set(range(6, 12))
    # hot bucket: 6 docs per batch (under the cap per batch), 12
    # accumulated (over) — within-batch pairs survive on both sides...
    assert {(a, b) for a in hot0 for b in hot0 if a < b} <= pairs
    assert {(a, b) for a in hot1 for b in hot1 if a < b} <= pairs
    # ...but NOT ONE batch-0 x batch-1 pair crosses the capped bucket
    assert not {p for p in pairs if p[0] in hot0 and p[1] in hot1}
    # healthy bucket (2 accumulated) keeps its cross-batch pair
    assert (100, 101) in pairs
    # the state carries lifetime totals: every band bucket of the hot
    # signature counts all 12 contributions
    bc = spark.read.parquet(f"{state}/bcounts_v1")
    assert bc.agg(SF.max("_n")).collect()[0][0] == 12

    # the generic pruner maintains bcounts like every other sink state:
    # after a third batch, keep_last=2 drops only v0, the latest still
    # resolves, and a REPLAY of the newest batch still finds its
    # strictly-pre-batch prev (v1) — prune never breaks replayability
    b2 = spark.createDataFrame([(200, t_cool)], "doc_id BIGINT, text STRING")
    sp._lsh_index_batch(b2, 2, state, out)
    assert sp.prune_state_versions(spark, state, "bcounts", keep_last=2) == [0]
    assert sp._latest_state_version(spark, state, "bcounts") == 2
    sp._lsh_index_batch(b2, 2, state, out)  # replay after prune
    bc2 = spark.read.parquet(f"{state}/bcounts_v2")
    assert bc2.agg(SF.max("_n")).collect()[0][0] == 12  # totals intact


def test_scd2_merge_replay_same_batch_id_idempotent(spark, sf_dir, tmp_path_factory):
    """Re-driving the SAME scd2 batch id must leave the published table
    identical: the re-appended changelog rows collapse on the
    (key, msg_id) dedup and prev comes strictly pre-batch, so the
    recompute reproduces scd2_v{batch_id} without reading it. A LATER
    batch id re-delivering rows of an earlier batch (at-least-once
    redelivery) must not change the history either. Histories compare
    as multisets: the fixture's msg_id is unique, so the batch oracle
    has no duplicate rows, and a duplicated interval row is exactly
    what a misplaced dedup would publish."""
    from flink_kafka_filter_transform_spark.operators import cdc
    from flink_kafka_filter_transform_spark.sources.cdc_fixture import cdc_events_df

    parsed = cdc.parse_envelope(cdc_events_df(spark, sf_dir)).select(
        *sp.SCD2_CHANGE_COLS
    )
    b0 = parsed.filter(SF.col("msg_id") % 2 == 0)
    b1 = parsed.filter(SF.col("msg_id") % 2 == 1)
    state = str(tmp_path_factory.mktemp("scd2_replay_state"))
    cols = ["db", "table_name", "key", "op", "msg_id", "valid_from_us", "valid_to_us"]

    def history(df):
        return Counter(tuple(r) for r in df.select(cols).collect())

    sp._scd2_merge_batch(b0, 0, state)
    sp._scd2_merge_batch(b1, 1, state)
    before = history(sp.scd2_current(spark, state))
    assert before == history(cdc.scd2_history(parsed)) and len(before) > 0
    sp._scd2_merge_batch(b1, 1, state)  # replay
    assert history(sp.scd2_current(spark, state)) == before
    sp._scd2_merge_batch(b0.filter(SF.col("msg_id") % 3 == 0), 2, state)  # redelivery
    assert sp._read_latest_pointer(spark, state) == 2
    assert history(sp.scd2_current(spark, state)) == before


def test_scd2_sink_plans_four_jobs_per_batch(spark, sf_dir, tmp_path):
    """Each scd2_incremental_sink micro-batch launches exactly 4 Spark
    jobs: the changelog append, one broadcast of the batch's keys
    (reused by the semi- and the anti-join), one shuffle shared by the
    (key, msg_id) dedup and scd2_history's window, and the version
    write. Both state reads declare their schemas, so no job infers
    one. The published history still equals the batch oracle as a
    multiset."""
    from flink_kafka_filter_transform_spark.operators import cdc
    from flink_kafka_filter_transform_spark.sources.cdc_fixture import cdc_events_df

    full = cdc_events_df(spark, sf_dir)
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    full.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(full.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        sp.scd2_incremental_sink(cdc.parse_envelope(stream), state, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    assert _jobs_per_batch(spark, q) == 4

    cols = ["db", "table_name", "key", "op", "msg_id", "valid_from_us", "valid_to_us"]
    got = Counter(tuple(r) for r in sp.scd2_current(spark, state).select(cols).collect())
    want = Counter(
        tuple(r) for r in cdc.scd2_history(cdc.parse_envelope(full)).select(cols).collect()
    )
    assert got == want and len(want) > 0


def test_prune_state_versions_keeps_replay_recovery_path(
    spark, sf_dir, tmp_path_factory
):
    """The pruner must delete old versions, keep the newest two (the
    latest plus the strictly-pre-latest version a crash replay of the
    latest batch id resolves as prev), leave the reader working, and
    leave a same-id replay of the latest batch reproducible."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state = str(tmp_path_factory.mktemp("prune_state"))
    parts = [docs.filter(SF.col("doc_id") % 4 == i) for i in range(4)]
    for i, part in enumerate(parts):
        sp._cms_merge_batch(part, i, state)
    before = {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()}

    deleted = sp.prune_state_versions(spark, state, "grid", keep_last=2)
    assert deleted == [0, 1]
    assert not os.path.isdir(f"{state}/grid_v0") and not os.path.isdir(f"{state}/grid_v1")
    assert {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()} == before

    sp._cms_merge_batch(parts[3], 3, state)  # crash-replay of the latest id
    assert {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()} == before

    assert sp.prune_state_versions(spark, state, "grid", keep_last=2) == []
    # keep_last floors at 2 even if asked for less
    assert sp.prune_state_versions(spark, state, "grid", keep_last=0) == []


def test_prune_counts_published_versions_only(spark, sf_dir, tmp_path_factory):
    """keep_last must count PUBLISHED versions (those with a _SUCCESS
    marker) only: an unpublished residue dir below _LATEST — a crashed
    mid-flight write — must neither occupy a kept slot (evicting the
    replay prev) nor survive pruning (r6 ADVICE)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    import shutil

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state = str(tmp_path_factory.mktemp("prune_residue_state"))
    parts = [docs.filter(SF.col("doc_id") % 4 == i) for i in range(4)]
    for i in (0, 1):
        sp._cms_merge_batch(parts[i], i, state)
    # simulate batch 2 crashing mid-write: parquet files landed but the
    # _SUCCESS marker (and the pointer publish) never did
    shutil.copytree(f"{state}/grid_v1", f"{state}/grid_v2")
    os.remove(f"{state}/grid_v2/_SUCCESS")
    # the next batch's prev resolution must skip the unpublished v2
    sp._cms_merge_batch(parts[3], 3, state)
    before = {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()}

    deleted = sp.prune_state_versions(spark, state, "grid", keep_last=2)
    # published = [0, 1, 3] -> keep [1, 3]; residue v2 deleted outright
    assert deleted == [0, 2]
    assert os.path.isdir(f"{state}/grid_v1") and os.path.isdir(f"{state}/grid_v3")
    assert not os.path.isdir(f"{state}/grid_v0") and not os.path.isdir(f"{state}/grid_v2")
    assert {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()} == before
    # v1 — the newest PUBLISHED pre-latest version — is the prev a
    # crash-replay of batch 3 resolves; replay must still reproduce
    sp._cms_merge_batch(parts[3], 3, state)
    assert {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()} == before


def test_latest_pointer_publish_is_tearing_free_and_reader_tolerant(
    spark, sf_dir, tmp_path_factory
):
    """The _LATEST publish must never expose a partial pointer (temp
    write + rename), and the reader must tolerate the remaining
    absent-pointer window — plus legacy-garbled content — by falling
    back to the newest published version instead of crashing (r6
    ADVICE: int('') on a concurrent truncate-in-place read)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state = str(tmp_path_factory.mktemp("pointer_state"))
    sp._cms_merge_batch(docs.filter(SF.col("doc_id") % 2 == 0), 0, state)
    sp._cms_merge_batch(docs.filter(SF.col("doc_id") % 2 == 1), 1, state)
    assert sp._read_latest_pointer(spark, state) == 1
    # no temp residue left behind by the publish
    assert [p for p in os.listdir(state) if p.startswith("._LATEST.tmp")] == []

    expected = {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()}

    # absent pointer (mid-publish window): reader falls back to listing
    os.remove(f"{state}/_LATEST")
    assert sp._read_latest_pointer(spark, state) is None
    assert sp._read_latest_pointer(spark, state, prefix="grid") == 1
    assert {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()} == expected

    # garbled pointer (legacy truncate-in-place partial read): same fallback
    for garbage in ("", "1x", "\n"):
        with open(f"{state}/_LATEST", "w") as f:
            f.write(garbage)
        assert sp._read_latest_pointer(spark, state, prefix="grid") == 1
    # and a fresh publish heals the pointer
    sp._write_latest_pointer(spark, state, 1)
    assert sp._read_latest_pointer(spark, state) == 1


def test_cached_kmeans_codebook_matches_inline_fit(spark, sf_dir, tmp_path_factory):
    """_cached_kmeans_codebook is pure memoization: its parquet-cached
    codebook must be bit-identical to an inline kmeans_fit over the
    same embeddings (VERDICT r6 item 5), on both the cold (writing)
    and warm (reading) path — under the driver's temp dir and, with
    FACE_SCRATCH_ROOT_CONF set, under the configured root, where the
    cache must land (the root every task can address)."""
    from flink_kafka_filter_transform_spark.operators.kmeans import kmeans_fit
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", SF.col("embedding").cast("array<double>").alias("v")
    )
    _, cents = kmeans_fit(emb)
    expected = {(r.cid, tuple(r.centroid)) for r in cents.collect()}
    for _ in range(2):  # first call may write the cache, second reads it
        got = {
            (r.cid, tuple(r.centroid))
            for r in sp._cached_kmeans_codebook(spark, sf_dir).collect()
        }
        assert got == expected and len(got) > 0

    root = str(tmp_path_factory.mktemp("codebook_root"))
    spark.conf.set(sp.FACE_SCRATCH_ROOT_CONF, root)
    try:
        for _ in range(2):  # cold under the root, then warm
            cached = sp._cached_kmeans_codebook(spark, sf_dir)
            files = cached.inputFiles()
            assert files and all(f"{root}/spark_graft_codebook_cache/" in f for f in files)
            got = {(r.cid, tuple(r.centroid)) for r in cached.collect()}
            assert got == expected
    finally:
        spark.conf.unset(sp.FACE_SCRATCH_ROOT_CONF)
    # one published cache entry, no temp copy left beside it
    assert len(os.listdir(f"{root}/spark_graft_codebook_cache")) == 1


def test_cdc_fixture_follows_an_in_place_rewrite_of_events(spark, sf_dir, tmp_path):
    """cdc_events_df's cache key covers the events files' name, size and
    mtime (the key _cached_kmeans_codebook uses), so an events.parquet
    rewritten in place is read again, not served from the old cache."""
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    sf = tmp_path / "sf_rewrite"
    sf.mkdir()
    events = sf / "events.parquet"
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events)
    try:
        full = pq.read_table(events)
        assert cdc_events_df(spark, str(sf)).count() == full.num_rows
        half = full.slice(0, full.num_rows // 2)
        pq.write_table(half, events)
        assert cdc_events_df(spark, str(sf)).count() == half.num_rows > 0
    finally:
        cache = os.path.join(tempfile.gettempdir(), "spark_graft_cdc_cache", "sf_rewrite_*")
        for leaf in glob.glob(cache):
            shutil.rmtree(leaf, ignore_errors=True)


def test_face_scratch_configured_root_and_cleanup(spark, tmp_path_factory):
    """With FACE_SCRATCH_ROOT_CONF set, faces stage under the
    configured (cluster-addressable) root instead of a driver-local
    mkdtemp; cleanup_face_scratch reclaims every recorded dir."""
    root = str(tmp_path_factory.mktemp("face_root"))
    spark.conf.set(sp.FACE_SCRATCH_ROOT_CONF, root)
    try:
        scratch = sp._face_scratch(spark, "sgraft_test_face_")
        assert scratch.startswith(root) and os.path.isdir(scratch)
    finally:
        spark.conf.unset(sp.FACE_SCRATCH_ROOT_CONF)
    local = sp._face_scratch(spark, "sgraft_test_face_")
    assert os.path.isdir(local)
    deleted = sp.cleanup_face_scratch(spark)
    assert set(deleted) >= {scratch, local}
    assert not os.path.isdir(scratch) and not os.path.isdir(local)
    assert sp.cleanup_face_scratch(spark) == []


def test_metered_service_end_to_end_monotone(spark, sf_dir, tmp_path):
    """O12 closed end-to-end: the reference's full service loop
    (consume -> count inbound -> filter/route -> count outbound ->
    sink) as ONE streaming query feeding the Prometheus registry with
    FULL label sets, scraped over HTTP. Both family names appear,
    counts grow monotonically across drains, and the final totals AND
    per-label counts equal the batch operators' exactly. Each
    micro-batch launches exactly 3 Spark jobs: the label-grain counter
    aggregate (shuffle map + result) and the routed write."""
    import urllib.request

    from flink_kafka_filter_transform_spark.streaming import metrics as mx

    full = cdc_events_df(spark, sf_dir)
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    reg = mx.CounterRegistry()
    # port 0 -> ephemeral: parallel test runs (xdist / concurrent CI
    # jobs on one host) cannot collide on a hard-coded port (r7 ADVICE)
    server = mx.serve(reg, port=0, host="127.0.0.1")
    port = server.server_address[1]

    def scrape():
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
        totals = {
            fam: sum(
                int(line.rsplit(" ", 1)[1])
                for line in body.splitlines()
                if line.startswith(fam + "{")
            )
            for fam in (
                "flink_cdc_event_count_total",
                "flink_kafka_filter_transform_count_total",
            )
        }
        return body, totals

    def drain(df):
        df.write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            sp.metered_cdc_sink(stream, RULES, reg, out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        assert _jobs_per_batch(spark, q) == 3

    try:
        drain(full.filter(SF.col("msg_id") % 2 == 0).repartition(2))
        body1, t1 = scrape()
        assert "# TYPE flink_cdc_event_count counter" in body1
        assert "# TYPE flink_kafka_filter_transform_count counter" in body1
        assert t1["flink_cdc_event_count_total"] > 0
        assert t1["flink_kafka_filter_transform_count_total"] > 0

        drain(full.filter(SF.col("msg_id") % 2 == 1).repartition(2))
        _, t2 = scrape()
        for fam in t1:
            assert t2[fam] > t1[fam]  # monotone across drains

        # exact totals + per-label parity with the batch operators
        parsed = cdc.parse_envelope(full)
        lbl = lambda v: "" if v is None else v  # registry coalesces null labels
        inbound = {
            (lbl(r["topic"]), lbl(r["db"]), lbl(r["table_name"]), lbl(r["op"])):
            r["cnt"]
            for r in cdc.inbound_counts(parsed).collect()
        }
        outbound = {
            (r["target_topic"], r["op"]): r["cnt"]
            for r in cdc.cdc_pipeline(full, RULES).collect()
        }
        assert dict(reg.cdc_event) == inbound
        assert dict(reg.transform) == outbound
        assert t2["flink_cdc_event_count_total"] == sum(inbound.values())
        assert t2["flink_kafka_filter_transform_count_total"] == sum(outbound.values())

        # the routed sink carries exactly the forwarded messages
        routed = cdc.project_outgoing(
            cdc.drop_unrouted(
                cdc.route_when_chain(cdc.filter_deletes(parsed), RULES)
            )
        )
        assert spark.read.parquet(out).count() == routed.count()
    finally:
        server.shutdown()


def test_latest_pointer_concurrent_publish_and_read(spark, sf_dir, tmp_path_factory):
    """The r6 ADVICE race, exercised for real: a publisher thread
    republishing _LATEST (temp write + delete + rename) while a reader
    thread polls. The reader must NEVER raise and must always resolve
    a COMPLETE published version — the absent-pointer window falls
    back to the version listing."""
    import threading

    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state = str(tmp_path_factory.mktemp("pointer_race_state"))
    sp._cms_merge_batch(docs.filter(SF.col("doc_id") % 2 == 0), 0, state)
    sp._cms_merge_batch(docs.filter(SF.col("doc_id") % 2 == 1), 1, state)

    stop = threading.Event()
    publisher_err: list[Exception] = []

    def publisher() -> None:
        i = 0
        try:
            while not stop.is_set():
                sp._write_latest_pointer(spark, state, i % 2)
                i += 1
        except Exception as e:  # surfaced after join
            publisher_err.append(e)

    t = threading.Thread(target=publisher, daemon=True)
    t.start()
    seen = set()
    try:
        for _ in range(300):
            v = sp._read_latest_pointer(spark, state, prefix="grid")
            assert v in (0, 1)  # always a complete published version
            seen.add(v)
    finally:
        stop.set()
        t.join(timeout=30)
    assert not publisher_err
    assert seen  # the reader actually resolved versions throughout


def test_batch_aqe_reenables_adaptive_on_stream_clone(spark):
    """_batch_aqe must flip adaptive execution back ON for the batch
    queries a foreachBatch body runs on the stream-cloned session
    (ResolveWriteToStream force-disables it on the clone at start()),
    and must do so on the CLONE only — the caller's own session conf
    is not touched (r14, guide §2.2/§3.1)."""
    clone = spark.newSession()
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    before = spark.conf.get("spark.sql.adaptive.enabled")
    out = sp._batch_aqe(clone)
    assert out is clone
    assert clone.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        clone.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_dedup_stream_state_equals_batch_exact_dedup(spark, sf_dir):
    """The drained first-seen ledger face must equal one-shot batch
    exact dedup (same min-doc_id winner, same suppressed counts), and
    the drain must have genuinely crossed micro-batches (the staged
    stream arrives as 4 files at 1/trigger) — otherwise the face
    would not exercise keyed-state carry-over."""
    from flink_kafka_filter_transform_spark.operators import dedup as dedup_ops
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming import pipeline as pl

    face = pl.dedup_stream_state(spark, sf_dir)
    got = {
        (r["content_hash"], r["first_doc_id"], r["n_suppressed"])
        for r in face.collect()
    }
    batch = dedup_ops.exact_dedup(load_table(spark, "documents", sf_dir))
    want = {
        (r["text_hash"], r["keep_doc_id"], r["n_copies"] - 1)
        for r in batch.collect()
    }
    assert got == want
    # the ledger dir must hold revisions from >1 micro-batch
    ledger_dir = pl._FACE_SCRATCH_DIRS[-1] + "/ledger"
    n_batches = (
        spark.read.parquet(ledger_dir).select("_batch_id").distinct().count()
    )
    assert n_batches > 1


def test_prune_between_micro_batches_of_live_drain(spark, sf_dir, tmp_path_factory):
    """prune_state_versions' documented safe window is BETWEEN
    micro-batches of a live drain. Exercise exactly that: prune inside
    the foreachBatch callback right after each publication, while the
    stream is still draining. The drain must complete unaffected
    (later batches read the kept newest version as prev), the final
    state must equal the one-shot batch grid, pruning must have
    actually deleted versions mid-drain, and the replay-recovery
    invariant (>= 2 published versions retained) must hold at the
    end."""
    from flink_kafka_filter_transform_spark.operators.sketch import cms_grid
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from flink_kafka_filter_transform_spark.streaming import pipeline as sp

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src = str(tmp_path_factory.mktemp("cpr_src"))
    docs.repartition(4).write.mode("overwrite").parquet(src)
    state = str(tmp_path_factory.mktemp("cpr_state"))
    ckpt = str(tmp_path_factory.mktemp("cpr_ckpt"))
    pruned_mid_drain: list[tuple[int, list[int]]] = []

    def merge_then_prune(batch_df, batch_id):
        sp._cms_merge_batch(batch_df, batch_id, state)
        deleted = sp.prune_state_versions(spark, state, "grid", keep_last=2)
        pruned_mid_drain.append((batch_id, deleted))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_then_prune)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    got = {(r.row, r.bucket, r.cell) for r in sp.cms_current(spark, state).collect()}
    want = {(r.row, r.bucket, r.cell) for r in cms_grid(docs).collect()}
    assert got == want and len(got) > 0
    assert len(pruned_mid_drain) >= 4  # one publication per staged file
    # pruning genuinely fired while the stream was still draining (not
    # only after the last batch)
    assert any(deleted for bid, deleted in pruned_mid_drain[:-1])
    # replay-recovery invariant: at least the newest 2 published
    # versions survive
    import os

    versions = sorted(
        int(d.rsplit("_v", 1)[1])
        for d in os.listdir(state)
        if d.startswith("grid_v")
    )
    assert len(versions) >= 2
    latest = sp._read_latest_pointer(spark, state, prefix="grid")
    assert versions[-1] == latest


def test_phash_index_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Replaying a phash index batch must overwrite its own hash-state
    partition (r15: chunk rows are DERIVED from the stored fingerprints
    on read, not stored) and ccounts version (not re-append — duplicate
    rows would inflate accumulated buckets toward PHASH_BUCKET_CAP and
    re-propose pairs) and re-emit the identical pair partition."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    b0 = docs.filter(SF.col("doc_id") % 2 == 0)
    b1 = docs.filter(SF.col("doc_id") % 2 == 1)
    state = str(tmp_path_factory.mktemp("phash_replay_state"))
    out = str(tmp_path_factory.mktemp("phash_replay_out"))
    sp._phash_index_batch(b0, 0, state, out)
    sp._phash_index_batch(b1, 1, state, out)
    hashes_before = spark.read.parquet(f"{state}/hashes").count()
    counts_before = {
        (r.ci, r.ck, r._n)
        for r in spark.read.parquet(f"{state}/ccounts_v1").collect()
    }
    pairs_before = {
        (r.doc_a, r.doc_b, r.hamming) for r in spark.read.parquet(out).collect()
    }
    sp._phash_index_batch(b1, 1, state, out)  # replay
    assert spark.read.parquet(f"{state}/hashes").count() == hashes_before
    counts_after = {
        (r.ci, r.ck, r._n)
        for r in spark.read.parquet(f"{state}/ccounts_v1").collect()
    }
    pairs_after = {
        (r.doc_a, r.doc_b, r.hamming) for r in spark.read.parquet(out).collect()
    }
    assert counts_after == counts_before  # sum-merge not double-counted
    assert pairs_after == pairs_before and len(pairs_before) > 0


def test_phash_index_sink_cross_batch_pairs_match_batch_operator(spark, sf_dir):
    """The drained face equals the one-shot batch operator: every
    within-group pair whose members arrive in DIFFERENT micro-batches
    must be found by the batch-vs-index probe (group-mates have
    consecutive doc_ids, so the %2 split above puts most pairs across
    batches — here the real drain's output is compared to
    image_phash_pairs row for row)."""
    from flink_kafka_filter_transform_spark.operators import multimodal
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    face = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in sp.phash_stream_state(spark, sf_dir).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal.image_phash_pairs(
            load_table(spark, "documents", sf_dir)
        ).collect()
    }
    assert face == batch and len(batch) > 0


def test_afp_index_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """AFP face replay discipline: the shared _fingerprint_index_batch
    engine must overwrite its own chunk partition / ccounts version /
    pair partition on replay — the phash replay contract, re-proven
    through the audio hash stage."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    b0 = docs.filter(SF.col("doc_id") % 2 == 0)
    b1 = docs.filter(SF.col("doc_id") % 2 == 1)
    state = str(tmp_path_factory.mktemp("afp_replay_state"))
    out = str(tmp_path_factory.mktemp("afp_replay_out"))
    sp._afp_index_batch(b0, 0, state, out)
    sp._afp_index_batch(b1, 1, state, out)
    hashes_before = spark.read.parquet(f"{state}/hashes").count()
    counts_before = {
        (r.ci, r.ck, r._n)
        for r in spark.read.parquet(f"{state}/ccounts_v1").collect()
    }
    pairs_before = {
        (r.doc_a, r.doc_b, r.hamming) for r in spark.read.parquet(out).collect()
    }
    sp._afp_index_batch(b1, 1, state, out)  # replay
    assert spark.read.parquet(f"{state}/hashes").count() == hashes_before
    counts_after = {
        (r.ci, r.ck, r._n)
        for r in spark.read.parquet(f"{state}/ccounts_v1").collect()
    }
    pairs_after = {
        (r.doc_a, r.doc_b, r.hamming) for r in spark.read.parquet(out).collect()
    }
    assert counts_after == counts_before
    assert pairs_after == pairs_before and len(pairs_before) > 0


def test_afp_index_sink_cross_batch_pairs_match_batch_operator(spark, sf_dir):
    """The drained AFP face equals the one-shot batch operator
    audio_fingerprint_pairs — pair emitted in its later member's
    batch, no pair lost or duplicated across the micro-batch split."""
    from flink_kafka_filter_transform_spark.operators import multimodal
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    face = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in sp.afp_stream_state(spark, sf_dir).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal.audio_fingerprint_pairs(
            load_table(spark, "documents", sf_dir)
        ).collect()
    }
    assert face == batch and len(batch) > 0


def test_vfp_index_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Replaying a video frame-index batch must overwrite its own
    frame partition and fcounts version (duplicate frame rows would
    inflate accumulated buckets toward VID_FRAME_CAP and re-propose
    pairs) and re-emit the identical pair partition — the phash/afp
    replay contract, re-proven through the COUNT-aggregation path."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    b0 = docs.filter(SF.col("doc_id") % 2 == 0)
    b1 = docs.filter(SF.col("doc_id") % 2 == 1)
    state = str(tmp_path_factory.mktemp("vfp_replay_state"))
    out = str(tmp_path_factory.mktemp("vfp_replay_out"))
    sp._vfp_index_batch(b0, 0, state, out)
    sp._vfp_index_batch(b1, 1, state, out)
    frames_before = spark.read.parquet(f"{state}/frames").count()
    counts_before = {
        (r.fh, r._n) for r in spark.read.parquet(f"{state}/fcounts_v1").collect()
    }
    pairs_before = {
        (r.doc_a, r.doc_b, r.n_matched)
        for r in spark.read.parquet(out).collect()
    }
    sp._vfp_index_batch(b1, 1, state, out)  # replay
    assert spark.read.parquet(f"{state}/frames").count() == frames_before
    counts_after = {
        (r.fh, r._n) for r in spark.read.parquet(f"{state}/fcounts_v1").collect()
    }
    pairs_after = {
        (r.doc_a, r.doc_b, r.n_matched)
        for r in spark.read.parquet(out).collect()
    }
    assert counts_after == counts_before
    assert pairs_after == pairs_before and len(pairs_before) > 0


def test_vfp_index_sink_cross_batch_pairs_match_batch_operator(spark, sf_dir):
    """The drained video face equals the one-shot batch operator
    video_frame_match_pairs — each pair emitted once, in its later
    member's batch, with the COMPLETE matched-frame count (group-mates
    have consecutive doc_ids, so the drain's file split puts most
    pairs across micro-batches)."""
    from flink_kafka_filter_transform_spark.operators import multimodal
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    face = {
        (r.doc_a, r.doc_b, r.n_matched)
        for r in sp.vfp_stream_state(spark, sf_dir).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.n_matched)
        for r in multimodal.video_frame_match_pairs(
            load_table(spark, "documents", sf_dir)
        ).collect()
    }
    assert face == batch and len(batch) > 0


def test_ivo_overlap_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Replaying an interval-overlap batch must overwrite its own iv
    partition and recompute its osum version from the strictly-pre-
    batch prev (sum-merged counts double on a re-APPEND, not on a
    recompute) — the bcounts replay contract through the temporal
    join."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
    )
    b0 = li.filter(SF.col("l_orderkey") % 2 == 0)
    b1 = li.filter(SF.col("l_orderkey") % 2 == 1)
    state = str(tmp_path_factory.mktemp("ivo_replay_state"))
    sp._ivo_overlap_batch(b0, 0, state)
    sp._ivo_overlap_batch(b1, 1, state)
    iv_before = spark.read.parquet(f"{state}/iv").count()
    osum_before = {
        (r.suppkey, r.n_pairs, r.sum_overlap_days, r.max_overlap_days)
        for r in spark.read.parquet(f"{state}/osum_v1").collect()
    }
    sp._ivo_overlap_batch(b1, 1, state)  # replay
    assert spark.read.parquet(f"{state}/iv").count() == iv_before
    osum_after = {
        (r.suppkey, r.n_pairs, r.sum_overlap_days, r.max_overlap_days)
        for r in spark.read.parquet(f"{state}/osum_v1").collect()
    }
    assert osum_after == osum_before and len(osum_before) > 0


def test_ivo_overlap_sink_cross_batch_equals_batch_operator(spark, sf_dir):
    """The drained interval-overlap face equals the one-shot batch
    operator interval_overlap_pairs: bucket ownership dedups bucket
    multiplicity, pair-in-later-batch dedups batch multiplicity, and
    the supplier rollup is a monoid — so the micro-batch split is
    invisible in the final state."""
    from flink_kafka_filter_transform_spark.operators import rangejoin
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    face = {
        (r.l_suppkey, r.n_pairs, r.sum_overlap_days, r.max_overlap_days)
        for r in sp.ivo_stream_state(spark, sf_dir).collect()
    }
    batch = {
        (r.l_suppkey, r.n_pairs, r.sum_overlap_days, r.max_overlap_days)
        for r in rangejoin.interval_overlap_pairs(
            load_table(spark, "lineitem", sf_dir)
        ).collect()
    }
    assert face == batch and len(batch) > 0

def test_edit_index_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Replaying an edit-linkage batch must overwrite its own name-
    state partition (r15: variants are DERIVED from the stored (k, nm)
    rows on read, not stored) and recompute its vcounts version from
    the strictly-pre-batch prev (a re-append would inflate lifetime
    blocks toward EDIT_BLOCK_CAP and re-propose pairs) and re-emit the
    identical pair partition — the bcounts replay contract through the
    variant-key index."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    b0 = cust.filter(SF.col("c_custkey") % 2 == 0)
    b1 = cust.filter(SF.col("c_custkey") % 2 == 1)
    state = str(tmp_path_factory.mktemp("edit_replay_state"))
    out = str(tmp_path_factory.mktemp("edit_replay_out"))
    sp._edit_index_batch(b0, 0, "c_custkey", "c_name", state, out)
    sp._edit_index_batch(b1, 1, "c_custkey", "c_name", state, out)
    names_before = spark.read.parquet(f"{state}/names").count()
    counts_before = {
        (r.variant, r._n)
        for r in spark.read.parquet(f"{state}/vcounts_v1").collect()
    }
    pairs_before = {
        (r.a_c_custkey, r.b_c_custkey, r.distance)
        for r in spark.read.parquet(out).collect()
    }
    sp._edit_index_batch(b1, 1, "c_custkey", "c_name", state, out)  # replay
    assert spark.read.parquet(f"{state}/names").count() == names_before
    counts_after = {
        (r.variant, r._n)
        for r in spark.read.parquet(f"{state}/vcounts_v1").collect()
    }
    pairs_after = {
        (r.a_c_custkey, r.b_c_custkey, r.distance)
        for r in spark.read.parquet(out).collect()
    }
    assert counts_after == counts_before
    assert pairs_after == pairs_before and len(pairs_before) > 0


def test_edit_index_sink_cross_batch_pairs_match_batch_operator(spark, sf_dir):
    """The drained edit-linkage face equals the one-shot batch
    operator name_edit_neighbors: one-digit neighbors mostly land in
    OPPOSITE %2 halves of the key space (any pair differing in the
    last digit crosses the parity split), so the batch-vs-index probe
    carries most of the pair mass — pair-in-later-batch, no pair lost
    or duplicated across the micro-batch split."""
    from flink_kafka_filter_transform_spark.operators import linkage
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    face = {
        (r.a_c_custkey, r.b_c_custkey, r.distance)
        for r in sp.edit_stream_state(spark, sf_dir).collect()
    }
    batch = {
        (r.a_c_custkey, r.b_c_custkey, r.distance)
        for r in linkage.name_edit_neighbors(
            load_table(spark, "customer", sf_dir)
        ).collect()
    }
    assert face == batch and len(batch) > 0

def test_edit_index_sink_three_way_uneven_split_equals_batch(
    spark, sf_dir, tmp_path_factory
):
    """Micro-batch-split invariance beyond the %2 case: an UNEVEN
    3-way split (keys %5 in {0} / {1,2} / {3,4}) drives pairs through
    every protocol path — within-batch blocks in each of three
    batches, probes against a 1-batch index, and probes against a
    2-batch accumulated index — and the concatenated pair log must
    still equal the one-shot batch operator exactly."""
    from flink_kafka_filter_transform_spark.operators import linkage
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    parts = [
        cust.filter(SF.col("c_custkey") % 5 == 0),
        cust.filter((SF.col("c_custkey") % 5).isin(1, 2)),
        cust.filter((SF.col("c_custkey") % 5).isin(3, 4)),
    ]
    state = str(tmp_path_factory.mktemp("edit3_state"))
    out = str(tmp_path_factory.mktemp("edit3_out"))
    for i, b in enumerate(parts):
        sp._edit_index_batch(b, i, "c_custkey", "c_name", state, out)
    face = {
        (r.a_c_custkey, r.b_c_custkey, r.distance)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.a_c_custkey, r.b_c_custkey, r.distance)
        for r in linkage.name_edit_neighbors(cust).collect()
    }
    assert face == batch and len(batch) > 0

@pytest.mark.parametrize("face", ["lsh", "phash", "afp", "vfp", "edit", "ivo"])
def test_index_sinks_survive_empty_first_batch(spark, sf_dir, tmp_path, face):
    """An empty first micro-batch writes only _SUCCESS under each
    _batch_id-partitioned index dir (no partitions in the data), so
    the next batch's index read MUST use an explicit schema or the
    stream bricks on schema inference (r12 review — the vfp pair-log
    rule applied to every index read via _read_batches). Every index
    body is driven: after an empty batch 0 and the whole input as
    batch 1, its output equals the one-shot batch operator."""
    from flink_kafka_filter_transform_spark.operators import (
        dedup,
        linkage,
        multimodal,
        rangejoin,
    )

    oracle, cols = {
        "lsh": (dedup.minhash_lsh_pairs, ["doc_a", "doc_b"]),
        "phash": (multimodal.image_phash_pairs, ["doc_a", "doc_b", "hamming"]),
        "afp": (multimodal.audio_fingerprint_pairs, ["doc_a", "doc_b", "hamming"]),
        "vfp": (multimodal.video_frame_match_pairs, ["doc_a", "doc_b", "n_matched"]),
        "edit": (linkage.name_edit_neighbors, ["a_c_custkey", "b_c_custkey", "distance"]),
        "ivo": (
            rangejoin.interval_overlap_pairs,
            ["l_suppkey", "n_pairs", "sum_overlap_days", "max_overlap_days"],
        ),
    }[face]
    run, b0, b1 = _crash_face(spark, sf_dir, face)
    rows = b0.unionByName(b1)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    run(rows.filter(SF.lit(False)), 0, state, out)
    run(rows, 1, state, out)  # bricked before the declared-schema read
    if face == "ivo":
        got = sp._current(spark, state, "osum").withColumnRenamed("suppkey", "l_suppkey")
    else:
        got = spark.read.parquet(out)
    face_rows = {tuple(r) for r in got.select(cols).collect()}
    batch_rows = {tuple(r) for r in oracle(rows).select(cols).collect()}
    assert face_rows == batch_rows and len(batch_rows) > 0


def _jobs_in_group(spark, group, fn) -> int:
    """Spark jobs ``fn()`` launches, counted in its own job group (the
    way _jobs_per_batch counts a streaming query's)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "face, jobs",
    [("lsh", (11, 15)), ("phash", (8, 10)), ("vfp", (9, 11)), ("edit", (8, 10)), ("ivo", (7, 12))],
)
def test_index_bodies_plan_fixed_jobs_per_batch(spark, sf_dir, tmp_path, face, jobs):
    """Spark jobs of one index body on batch 0 (no index yet) and on
    batch 1 (probing batch 0's index), over _crash_face's halves. Each
    body runs one code path: before the first write _read_batches
    returns a relation that is empty at plan time, so Catalyst prunes
    the cross probe, its anti-join and the union, and batch 0 plans no
    more jobs than a body with a separate no-index branch. An empty
    read Catalyst cannot prune (an empty RDD) costs the LSH body 16
    jobs on batch 0 instead of 11."""
    run, b0, b1 = _crash_face(spark, sf_dir, face)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    got = tuple(
        _jobs_in_group(
            spark,
            f"{face}-batch-{i}-{tmp_path.name}",
            lambda b=b, i=i: run(b, i, state, out),
        )
        for i, b in enumerate((b0, b1))
    )
    assert got == jobs


@pytest.mark.parametrize(
    "batch_fn, table, cols, legacy",
    [
        pytest.param(
            sp._phash_index_batch,
            "documents", ["doc_id"], "chunks", id="phash_index_sink",
        ),
        pytest.param(
            sp._afp_index_batch,
            "documents", ["doc_id"], "chunks", id="afp_index_sink",
        ),
        pytest.param(
            lambda b, i, st, out: sp._edit_index_batch(
                b, i, "c_custkey", "c_name", st, out
            ),
            "customer", ["c_custkey", "c_name"], "variants", id="edit_index_sink",
        ),
    ],
)
def test_index_sinks_refuse_legacy_state_layout(
    spark, sf_dir, tmp_path, batch_fn, table, cols, legacy
):
    """A state root written before the index moved from chunks/variants
    to hashes/names must fail the batch, not silently start from an
    empty index (the pre-rename docs would never pair again)."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    state, out = tmp_path / "state", str(tmp_path / "out")
    (state / legacy).mkdir(parents=True)
    rows = load_table(spark, table, sf_dir).select(*cols)
    with pytest.raises(RuntimeError, match=re.escape(f"{state}/{legacy}")):
        batch_fn(rows, 1, str(state), out)


def test_cc_labels_refuse_sharded_state_root(spark, sf_dir, tmp_path):
    """A state root left by the retired label-range sharded protocol
    (an lmanifest_v file next to partial labels_v shard versions that
    carry _SUCCESS) must fail both the batch, before its first durable
    write, and the reader, not be read as a whole label table that
    silently lost its unrewritten shards."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    state, out = tmp_path / "state", tmp_path / "out"
    (state / "labels_v0" / "_shard=0").mkdir(parents=True)
    (state / "labels_v0" / "_SUCCESS").write_text("")
    (state / "lmanifest_v0").write_text("0 0\n")
    (state / "_LATEST").write_text("0")
    before = sorted(p.relative_to(tmp_path) for p in tmp_path.rglob("*"))
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    with pytest.raises(RuntimeError, match=re.escape(f"{state}/lmanifest_v0")):
        sp._cc_labels_batch(docs, 1, str(state), str(out))
    assert sorted(p.relative_to(tmp_path) for p in tmp_path.rglob("*")) == before
    with pytest.raises(RuntimeError, match=re.escape(f"{state}/lmanifest_v0")):
        sp.cc_labels_current(spark, str(state))


def test_cc_labels_sink_matches_batch_clusters(spark, sf_dir, tmp_path_factory):
    """Draining documents through the incremental CC label sink must
    converge to exactly the batch operator's cluster table — every
    doc, the min-doc_id cluster label, the size, the keeper flag —
    across genuine multi-batch merges."""
    from flink_kafka_filter_transform_spark.operators.graph import neardup_clusters
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src_dir = str(tmp_path_factory.mktemp("cc_src"))
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    state = str(tmp_path_factory.mktemp("cc_state"))
    out = str(tmp_path_factory.mktemp("cc_out"))
    ckpt = str(tmp_path_factory.mktemp("cc_ckpt"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = sp.cc_labels_sink(stream, state, out, ckpt).trigger(availableNow=True).start()
    if not q.awaitTermination(180):
        # r13 ADVICE: an ignored timeout leaves the query running and
        # the test reading partial state — fail as a timeout instead
        q.stop()
        raise TimeoutError("cc_labels_sink drain did not finish within 180s")

    labels = sp.cc_labels_current(spark, state)
    got = {(r.doc_id, r.label) for r in labels.collect()}
    want = {(r.doc_id, r.cluster_id) for r in neardup_clusters(docs).collect()}
    assert got == want and len(want) > 0
    # labels are key-unique (one row per doc)
    assert labels.count() == labels.select("doc_id").distinct().count()


def test_cc_labels_batch_merges_two_existing_components(spark, tmp_path_factory):
    """The core incremental property: a later batch's doc whose pairs
    BRIDGE two components formed in an earlier batch must merge them
    through the label graph — relabeling rows written batches ago —
    without touching the pair history. Chain fixture: X~M and M~Y are
    near-dups (shingle Jaccard 34/46 = 0.739 — as high as the chain
    can go, since 1-J is a metric: J(X,M)+J(M,Y) <= 1+J(X,Y) caps the
    bridges at ~0.78 while the ends stay under the 0.6 threshold) but
    X~Y is not (28/52 = 0.538), so batch 0 forms two 2-doc components
    and batch 1's single bridge doc collapses everything to one
    cluster labeled by the min doc_id. Deterministic: the minhash
    family is fixed, and at J = 0.739 the 4x2 banding collides for
    these specific shingle sets (the "kk" token prefix was chosen so
    BOTH bridge pairs band-collide while the end pair does not even
    become a candidate; pinned by this test)."""
    from flink_kafka_filter_transform_spark.operators.graph import neardup_clusters

    w = [f"kk{i:02d}" for i in range(1, 55)]
    X = " ".join(w[0:42])    # shingles s1..s40
    M = " ".join(w[6:48])    # s7..s46: J(X,M) = 34/46 = 0.739 >= 0.6
    Y = " ".join(w[12:54])   # s13..s52: J(M,Y) = 0.739; J(X,Y) = 0.538
    rows = [(1, X), (2, X), (7, Y), (8, Y), (4, M)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    b0 = docs.filter(SF.col("doc_id") != 4)
    b1 = docs.filter(SF.col("doc_id") == 4)
    state = str(tmp_path_factory.mktemp("cc_merge_state"))
    out = str(tmp_path_factory.mktemp("cc_merge_out"))
    sp._cc_labels_batch(b0, 0, state, out)
    after0 = {(r.doc_id, r.label) for r in sp.cc_labels_current(spark, state).collect()}
    assert after0 == {(1, 1), (2, 1), (7, 7), (8, 7)}  # two components
    sp._cc_labels_batch(b1, 1, state, out)
    after1 = {(r.doc_id, r.label) for r in sp.cc_labels_current(spark, state).collect()}
    assert after1 == {(1, 1), (2, 1), (4, 1), (7, 1), (8, 1)}  # merged
    # and the batch operator over the union corpus agrees
    want = {(r.doc_id, r.cluster_id) for r in neardup_clusters(docs).collect()}
    assert after1 == want


@pytest.mark.parametrize(
    "face, table, cols",
    [
        ("cc", "documents", ["doc_id", "cluster_id", "cluster_size", "is_kept"]),
        ("hll", "events", ["event_type", "_idx", "_r"]),
        ("lsh", "documents", ["doc_a", "doc_b", "jaccard"]),
        (
            "ivo",
            "lineitem",
            ["l_suppkey", "n_pairs", "sum_overlap_days", "max_overlap_days"],
        ),
        ("dedup", "documents", ["content_hash", "first_doc_id", "n_suppressed"]),
    ],
    ids=["cc", "hll", "lsh", "ivo", "dedup"],
)
def test_face_empty_input_returns_empty_relation(
    spark, sf_dir, tmp_path, face, table, cols
):
    """An empty input table must yield an EMPTY relation with the
    face's output columns, for every kind of face state: a version
    read (cc labels, hll registers, ivo rollup), a pair log (lsh) and
    the update-mode ledger (dedup). The face runner stages even an
    empty table as a schema-bearing part file, so the drain commits
    batch 0 and each face reads published state; the cc face has no
    separate branch for a drain that commits nothing."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    schema = load_table(spark, table, sf_dir).schema
    empty_sf = str(tmp_path)
    spark.createDataFrame([], schema).write.parquet(f"{empty_sf}/{table}.parquet")
    got = getattr(sp, f"{face}_stream_state")(spark, empty_sf)
    assert got.columns == cols
    assert got.count() == 0


def test_lsh_stream_state_without_any_pair(spark, tmp_path):
    """A corpus with no near-duplicate pair leaves a pair log of empty
    batch partitions; the face must still return the empty
    (doc_a, doc_b, jaccard) relation instead of failing schema
    inference."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
            (3, "lambda mu nu xi omicron"),
        ],
        "doc_id BIGINT, text STRING",
    ).write.parquet(f"{sf}/documents.parquet")
    got = sp.lsh_stream_state(spark, sf)
    assert got.columns == ["doc_a", "doc_b", "jaccard"]
    assert got.count() == 0


def test_cc_labels_sink_replay_same_batch_id_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Replaying a CC label batch must recompute labels_v{batch_id}
    from the strictly-pre-batch prev (not merge its own earlier
    publication — labels would stay correct but fresh rows would
    duplicate) and leave the published labels and the pair log
    byte-identical."""
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b0 = docs.filter(SF.col("doc_id") % 2 == 0)
    b1 = docs.filter(SF.col("doc_id") % 2 == 1)
    state = str(tmp_path_factory.mktemp("cc_replay_state"))
    out = str(tmp_path_factory.mktemp("cc_replay_out"))
    sp._cc_labels_batch(b0, 0, state, out)
    sp._cc_labels_batch(b1, 1, state, out)
    labels_before = sorted(
        (r.doc_id, r.label) for r in sp.cc_labels_current(spark, state).collect()
    )
    pairs_before = sorted(
        (r.doc_a, r.doc_b) for r in spark.read.parquet(out).select("doc_a", "doc_b").collect()
    )
    sp._cc_labels_batch(b1, 1, state, out)  # replay
    labels_after = sorted(
        (r.doc_id, r.label) for r in sp.cc_labels_current(spark, state).collect()
    )
    pairs_after = sorted(
        (r.doc_a, r.doc_b) for r in spark.read.parquet(out).select("doc_a", "doc_b").collect()
    )
    assert labels_after == labels_before and len(labels_before) > 0
    assert pairs_after == pairs_before
    # no duplicate doc rows snuck in through the replay
    assert len(labels_after) == len({d for d, _ in labels_after})


def test_cc_labels_sink_empty_first_batch(spark, sf_dir, tmp_path_factory):
    """An empty first micro-batch (no docs, no pairs, only _SUCCESS
    markers) must not brick the stream: the explicit-schema reads and
    the nonexistent-pair-log guard make batch 1 see an empty prev and
    produce the same labels a fresh drain would."""
    from flink_kafka_filter_transform_spark.operators.graph import neardup_clusters
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    state = str(tmp_path_factory.mktemp("cc_empty_state"))
    out = str(tmp_path_factory.mktemp("cc_empty_out"))
    sp._cc_labels_batch(docs.filter(SF.lit(False)), 0, state, out)
    sp._cc_labels_batch(docs, 1, state, out)
    got = {(r.doc_id, r.label) for r in sp.cc_labels_current(spark, state).collect()}
    want = {(r.doc_id, r.cluster_id) for r in neardup_clusters(docs).collect()}
    assert got == want and len(want) > 0


def test_cc_labels_batch_split_invariant(spark, sf_dir, tmp_path_factory):
    """Micro-batch SPLIT invariance — the claim the face exists on:
    however the corpus is partitioned into arriving batches, the
    final label table equals one-shot batch CC. Three different split
    shapes (hash thirds, skewed 90/10, id-range halves) over the
    sf documents corpus, each drained through _cc_labels_batch
    sequentially; afterwards the generic version pruner must keep the
    published head readable."""
    from flink_kafka_filter_transform_spark.operators.graph import neardup_clusters
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    want = {(r.doc_id, r.cluster_id) for r in neardup_clusters(docs).collect()}
    splits = {
        "thirds": [docs.filter(SF.col("doc_id") % 3 == i) for i in range(3)],
        "skewed": [
            docs.filter(SF.col("doc_id") % 10 != 0),
            docs.filter(SF.col("doc_id") % 10 == 0),
        ],
        "ranges": [
            docs.filter(SF.col("doc_id") < 250),
            docs.filter(SF.col("doc_id") >= 250),
        ],
    }
    states = {}
    for label, batches in splits.items():
        state = str(tmp_path_factory.mktemp(f"cc_split_{label}_state"))
        out = str(tmp_path_factory.mktemp(f"cc_split_{label}_out"))
        for i, b in enumerate(batches):
            sp._cc_labels_batch(b, i, state, out)
        got = {
            (r.doc_id, r.label) for r in sp.cc_labels_current(spark, state).collect()
        }
        assert got == want and len(want) > 0, f"split shape {label} diverged"
        states[label] = state
    # prune the 3-version state down to the keep_last=2 floor: v0 goes,
    # the published head stays readable
    assert sp.prune_state_versions(spark, states["thirds"], "labels", keep_last=2) == [0]
    got = {
        (r.doc_id, r.label)
        for r in sp.cc_labels_current(spark, states["thirds"]).collect()
    }
    assert got == want


class _InjectedCrash(Exception):
    """Raised by the fault injector in place of a durable write."""


def _crash_face(spark, sf_dir, face):
    """(run(batch_df, batch_id, state, out), batch 0, batch 1) for one
    per-batch sink body, over the same inputs its replay test uses."""
    from flink_kafka_filter_transform_spark.operators.kmeans import kmeans_fit
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    def halves(df, col):
        return df.filter(SF.col(col) % 2 == 0), df.filter(SF.col(col) % 2 == 1)

    if face == "scd2":
        parsed = cdc.parse_envelope(cdc_events_df(spark, sf_dir)).select(
            *sp.SCD2_CHANGE_COLS
        )
        return (lambda b, i, st, out: sp._scd2_merge_batch(b, i, st)), *halves(
            parsed, "msg_id"
        )
    if face == "hll":
        events = load_table(spark, "events", sf_dir).select(
            "event_type", SF.col("user_id").cast("string").alias("user_id")
        )
        return (
            lambda b, i, st, out: sp._hll_merge_batch(b, i, "user_id", "event_type", st)
        ), events.limit(200), events
    if face == "ivf":
        emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
        _, cents = kmeans_fit(
            emb.select("vec_id", SF.col("embedding").alias("v")), k=4, iters=2
        )
        # materialized: the codebook's own lineage must not run inside
        # the counted batch
        cents = spark.createDataFrame(cents.collect(), cents.schema)
        return (
            lambda b, i, st, out: sp._ivf_assign_batch(b, i, cents, out, st)
        ), *halves(emb, "vec_id")
    if face == "ivo":
        li = load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
        )
        return (lambda b, i, st, out: sp._ivo_overlap_batch(b, i, st)), *halves(
            li, "l_orderkey"
        )
    if face == "edit":
        cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
        return (
            lambda b, i, st, out: sp._edit_index_batch(
                b, i, "c_custkey", "c_name", st, out
            )
        ), *halves(cust, "c_custkey")
    docs = load_table(spark, "documents", sf_dir)
    if face in ("cms", "bloom"):
        fn = {"cms": sp._cms_merge_batch, "bloom": sp._bloom_merge_batch}[face]
        return (lambda b, i, st, out: fn(b, i, st)), *halves(
            docs.select("doc_id", "text"), "doc_id"
        )
    fn = {
        "lsh": sp._lsh_index_batch,
        "phash": sp._phash_index_batch,
        "afp": sp._afp_index_batch,
        "vfp": sp._vfp_index_batch,
        "cc": sp._cc_labels_batch,
    }[face]
    cols = ["doc_id", "text"] if face in ("lsh", "cc") else ["doc_id"]
    return fn, *halves(docs.select(*cols), "doc_id")


def _durable_snapshot(root, as_set=()):
    """Everything a batch leaves under ``root``: each parquet dataset (a
    directory holding ``_SUCCESS``, part files or ``key=value``
    partitions) as its sorted rows, every other visible file as its
    bytes. Datasets named in ``as_set`` are compared as row sets
    (append-only logs deduped on read)."""
    import pyarrow.parquet as pq

    snap = {}
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if (
            "_SUCCESS" in filenames
            or any(f.endswith(".parquet") for f in filenames)
            or any("=" in d for d in dirnames)
        ):
            dirnames.clear()
            data = any(
                f.endswith(".parquet") for _, _, fs in os.walk(dirpath) for f in fs
            )
            rows = sorted(map(repr, pq.read_table(dirpath).to_pylist())) if data else []
            snap[rel] = sorted(set(rows)) if rel in as_set else rows
            continue
        for f in filenames:
            if not f.startswith("."):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    snap[os.path.join(rel, f)] = fh.read()
    return snap


@pytest.mark.parametrize(
    "face",
    ["scd2", "hll", "cms", "bloom", "ivf", "lsh", "phash", "afp", "vfp", "ivo", "edit", "cc"],
)
def test_batch_survives_crash_before_any_durable_write(
    spark, sf_dir, tmp_path, monkeypatch, face
):
    """Structured Streaming's recovery contract (replayable source +
    idempotent sink) at every crash point: batch 1 is killed before its
    k-th durable write — a parquet write or the _LATEST publish — for
    every k, then re-driven under the same
    batch id. Published state, pair log and index must equal a run that
    never crashed. The scd2 changelog is append-only and deduped on
    read by (key, msg_id), so it is compared as a row set."""
    import shutil

    from pyspark.sql import DataFrameWriter

    run, b0, b1 = _crash_face(spark, sf_dir, face)
    as_set = {"state/changes"}
    base = str(tmp_path / "base")
    run(b0, 0, f"{base}/state", f"{base}/out")

    def inject(m, crash_at):
        """Count durable writes; raise instead of the crash_at-th."""
        seen = []

        def hit():
            seen.append(1)
            if len(seen) == crash_at:
                raise _InjectedCrash(f"crash before durable write {crash_at}")

        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, *a, **kw):
            hit()
            return orig_parquet(writer, *a, **kw)

        m.setattr(DataFrameWriter, "parquet", parquet)
        orig_publish = sp._write_latest_pointer

        def publish(*a, **kw):
            hit()
            return orig_publish(*a, **kw)

        m.setattr(sp, "_write_latest_pointer", publish)
        return seen

    ref = str(tmp_path / "ref")
    shutil.copytree(base, ref)
    with monkeypatch.context() as m:
        seen = inject(m, crash_at=None)
        run(b1, 1, f"{ref}/state", f"{ref}/out")
        writes = len(seen)
    want = _durable_snapshot(ref, as_set)
    assert writes >= 2 and want

    for k in range(1, writes + 1):
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(base, root)
        with monkeypatch.context() as m:
            inject(m, crash_at=k)
            with pytest.raises(_InjectedCrash):
                run(b1, 1, f"{root}/state", f"{root}/out")
        run(b1, 1, f"{root}/state", f"{root}/out")  # replay
        assert _durable_snapshot(root, as_set) == want, f"crash before write {k}"


_STATE_READERS = {
    "scd2": sp.scd2_current,
    "hll": sp.hll_current,
    "cms": sp.cms_current,
    "bloom": sp.bloom_current,
    "ivf": sp.ivf_cell_counts,
    "ivo": lambda spark, state: sp._current(spark, state, "osum"),
    "cc": sp.cc_labels_current,
}


@pytest.mark.parametrize(
    "face",
    ["scd2", "hll", "cms", "bloom", "ivf", "lsh", "phash", "afp", "vfp", "ivo", "edit", "cc"],
)
def test_state_root_refuses_other_format(spark, sf_dir, tmp_path, face):
    """A state root stamped with another STATE_FORMAT fails the next
    batch before it writes anything, and fails the face's reader:
    there is no migration, and state in an unknown layout must never be
    read as an empty or a partial one."""
    run, b0, b1 = _crash_face(spark, sf_dir, face)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    run(b0, 0, state, out)
    with open(f"{state}/_FORMAT", "w") as f:
        f.write(str(sp.STATE_FORMAT + 1))
    before = _durable_snapshot(str(tmp_path))
    with pytest.raises(RuntimeError, match=re.escape(f"{state}/_FORMAT")):
        run(b1, 1, state, out)
    assert _durable_snapshot(str(tmp_path)) == before
    if face in _STATE_READERS:
        with pytest.raises(RuntimeError, match=re.escape(f"{state}/_FORMAT")):
            _STATE_READERS[face](spark, state)


def test_state_root_refuses_unstamped_versions(spark, sf_dir, tmp_path):
    """A root without a stamp that already holds a version — as a root
    written before the stamp existed does — is refused, not adopted."""
    run, b0, _ = _crash_face(spark, sf_dir, "cms")
    state = tmp_path / "state"
    (state / "grid_v0").mkdir(parents=True)
    with pytest.raises(RuntimeError, match=re.escape(f"{state}/grid_v0")):
        run(b0, 1, str(state), str(tmp_path / "out"))
    assert os.listdir(state) == ["grid_v0"]


def test_state_root_stamps_over_stamp_temp_file(spark, sf_dir, tmp_path):
    """A root holding only the temp file of a stamp publish that crashed
    before its rename is fresh: the batch runs and stamps the root."""
    run, b0, _ = _crash_face(spark, sf_dir, "cms")
    state = tmp_path / "state"
    state.mkdir()
    (state / "._FORMAT.tmp.0").write_text(str(sp.STATE_FORMAT))
    run(b0, 0, str(state), str(tmp_path / "out"))
    assert (state / "_FORMAT").read_text() == str(sp.STATE_FORMAT)
    assert sp._read_latest_pointer(spark, str(state)) == 0
    assert sp.cms_current(spark, str(state)).count() > 0
