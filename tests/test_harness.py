"""The bench.py measurement harness: reclaim leaves nothing behind,
the stage census repeats exactly, and the final stdout line keeps the
driver contract under the tail budget."""

import json
import os
import random

import pytest

import __spark_entry__
import bench
from flink_kafka_filter_transform_spark.streaming import pipeline as sp


def test_reclaim_removes_face_scratch_and_persisted_blocks(spark, sf_dir):
    bench.run(spark, "hll_stream_state", sf_dir)
    scratch = list(sp._FACE_SCRATCH_DIRS)
    assert scratch and all(os.path.isdir(d) for d in scratch)
    bench.reclaim(spark)
    assert not any(os.path.exists(d) for d in scratch)
    assert sp._FACE_SCRATCH_DIRS == []
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "cdc_materialize", "hll_stream_state"]
)
def test_census_repeats_exactly(spark, sf_dir, name):
    keys = ("jobs", "stages", "skipped_stages", "tasks", "shuffle_write_bytes")
    first, second = (bench.measure(spark, name, 1, sf_dir)[1] for _ in range(2))
    assert {k: first[k] for k in keys} == {k: second[k] for k in keys}
    # a census that reads zero would repeat trivially
    assert first["jobs"] > 0 and first["tasks"] > 0
    assert first["shuffle_write_bytes"] > 0


def test_driver_memory_is_half_the_host_capped_at_24g():
    gib = 1 << 30
    assert bench.driver_memory_mb(16 * gib) == 8 * 1024
    assert bench.driver_memory_mb(48 * gib) == 24 * 1024
    assert bench.driver_memory_mb(512 * gib) == 24 * 1024
    assert bench.driver_memory_mb(gib) == 1024  # spark-submit's default floor
    host = bench.host_memory_bytes()
    assert 0 < host and bench.driver_memory_mb(host) <= max(1024, (host >> 20) // 2)


def test_final_line_keeps_the_slowest_queries_under_the_tail_budget():
    rng = random.Random(7)
    names = list(__spark_entry__.queries())
    assert len(names) == 206 and set(bench.FACE_QUERIES) <= set(names)
    timings = {n: round(rng.uniform(0.05, 30.0), 3) for n in names}
    cold = {n: round(t * 1.5, 3) for n, t in timings.items()}
    warm = dict(timings)
    full, line = bench.summarize(timings, cold, warm, 0.1)

    assert len(line) < 1900
    payload = json.loads(line)
    assert set(payload) == {
        "metric", "value", "unit", "queries", "faces", "faces_sec",
        "total_with_faces_sec", "methodology", "cold_sec", "warm_sec",
        "sf", "reps", "detail", "queries_omitted",
    }
    assert payload["methodology"] == 3
    assert set(payload["faces"]) == set(bench.FACE_QUERIES)
    kept = payload["queries"]
    dropped = set(timings) - set(bench.FACE_QUERIES) - set(kept)
    assert dropped and payload["queries_omitted"] == len(dropped)
    assert full["queries_omitted_names"] == sorted(dropped)
    assert min(kept.values()) >= max(timings[n] for n in dropped)
    assert payload["value"] == round(sum(full["queries"].values()), 3)
