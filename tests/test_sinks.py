"""Lake-write checks: clustered and z-ordered writes must tighten the
row-group statistics readers prune on, and sketch registers must
survive a partitioned parquet round trip."""

from pyspark.sql import functions as F

from flink_kafka_filter_transform_spark.sources.parquet import load_table, ts_as_timestamp


def _rowgroup_ranges(path, col):
    """(min, max) of ``col`` for every row group in every parquet file."""
    import glob
    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    return spans


def test_clustered_write_tightens_rowgroup_stats(spark, sf_dir, tmp_path):
    """The scale claim behind write_clustered_parquet, measured from
    the actual parquet footers: after range-clustering on user_id, each
    row group covers a narrow slice of the key domain (so min/max
    pruning skips almost everything for a selective filter), while the
    unclustered layout's row groups each span ~the whole domain."""
    from flink_kafka_filter_transform_spark.sinks import write_clustered_parquet

    events = load_table(spark, "events", sf_dir)
    lo, hi = events.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    domain = hi - lo

    plain = str(tmp_path / "plain")
    events.repartition(8).write.mode("overwrite").parquet(plain)
    clustered = str(tmp_path / "clustered")
    write_clustered_parquet(events, clustered, ["user_id"], n_files=8)

    def mean_coverage(path):
        spans = _rowgroup_ranges(path, "user_id")
        assert spans, f"no row groups found under {path}"
        return sum((mx - mn) for mn, mx in spans) / (len(spans) * domain)

    cov_plain = mean_coverage(plain)
    cov_clustered = mean_coverage(clustered)
    # random layout: every row group spans ~the whole domain (>80%);
    # clustered: disjoint slices (~1/8 of the domain each)
    assert cov_plain > 0.8, cov_plain
    assert cov_clustered < 0.3, cov_clustered

    # correctness is untouched: a narrow range filter reads the same rows
    mid = lo + domain // 2
    pred = (F.col("user_id") >= mid) & (F.col("user_id") < mid + domain // 20)
    assert (
        spark.read.parquet(clustered).filter(pred).count()
        == events.filter(pred).count()
    )


def test_zordered_write_tightens_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs single-column range clustering, measured from real
    footers: range-clustering on user_id leaves each row group spanning
    ~the whole value domain (no pruning on value filters); the Z-order
    layout shrinks per-row-group coverage on BOTH dimensions."""
    from flink_kafka_filter_transform_spark.sinks import (
        write_clustered_parquet,
        write_zordered_parquet,
    )

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", F.floor(F.col("value")).cast("bigint").alias("value_i")
    )

    def coverage(path, col):
        rows = _rowgroup_ranges(path, col)
        los = [mn for mn, _ in rows]
        his = [mx for _, mx in rows]
        domain = max(his) - min(los)
        return sum(mx - mn for mn, mx in rows) / (len(rows) * domain)

    single = str(tmp_path / "single")
    write_clustered_parquet(events, single, ["user_id"], n_files=8)
    zpath = str(tmp_path / "zorder")
    write_zordered_parquet(events, zpath, "user_id", "value_i", n_files=8)

    # single-column clustering: tight on user_id, ~blind on value
    assert coverage(single, "user_id") < 0.3
    assert coverage(single, "value_i") > 0.6
    # z-order: materially tighter than blind on BOTH dimensions
    # (theoretical per-dim coverage for 8 files is ~8^-1/2 = 0.35)
    assert coverage(zpath, "user_id") < 0.55
    assert coverage(zpath, "value_i") < 0.55

    # correctness: same rows come back
    assert (
        spark.read.parquet(zpath).exceptAll(events).count() == 0
        and events.exceptAll(spark.read.parquet(zpath)).count() == 0
    )


def test_hll_registers_persist_and_merge(spark, sf_dir, tmp_path):
    """Sketch-as-data round trip: per-day HLL register tables written to
    parquet, read back, and merged must estimate exactly what the
    direct in-memory sketch estimates — the persistence contract that
    lets a daily pipeline store tiny register tables and re-slice
    distinct counts forever without raw data."""
    from flink_kafka_filter_transform_spark.operators import sketch

    events = load_table(spark, "events", sf_dir).filter(F.col("user_id").isNotNull())
    ev = events.select(
        "event_type",
        F.date_format(ts_as_timestamp(events), "yyyy-MM-dd").alias("_day"),
        "user_id",
    )
    regs = sketch.hll_registers(ev, "user_id", ["event_type", "_day"])
    path = str(tmp_path / "hll_regs")
    regs.write.mode("overwrite").partitionBy("_day").parquet(path)

    merged = (
        spark.read.parquet(path)
        .groupBy("event_type", "_idx")
        .agg(F.max("_r").alias("_r"))
    )
    got = {
        (r["event_type"], r["hll_estimate"])
        for r in sketch.hll_estimate_from_registers(merged, ["event_type"]).collect()
    }
    direct = sketch.hll_estimate_from_registers(
        sketch.hll_registers(ev, "user_id", ["event_type"]), ["event_type"]
    )
    want = {(r["event_type"], r["hll_estimate"]) for r in direct.collect()}
    assert got == want and len(want) > 0


def test_zorder_value_masks_negative_inputs(spark):
    """zorder_value must mask inputs to the declared bit width: a
    negative bigint sign-extends through shiftright and would
    otherwise poison the interleaving with garbage high bits."""
    from flink_kafka_filter_transform_spark.sinks import zorder_value

    df = spark.createDataFrame(
        [(-1, 0), (15, 0), (3, 5)], "a BIGINT, b BIGINT"
    ).select("a", "b", zorder_value("a", "b", bits=4).alias("z"))
    rows = {(r.a, r.b): r.z for r in df.collect()}

    def morton(a, b, bits=4):
        a, b = a & ((1 << bits) - 1), b & ((1 << bits) - 1)
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z

    assert rows[(-1, 0)] == rows[(15, 0)] == morton(15, 0)  # -1 & 0xF == 15
    assert rows[(3, 5)] == morton(3, 5)
    assert all(0 <= z < 2**8 for z in rows.values())  # never sign-poisoned
