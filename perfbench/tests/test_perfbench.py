"""Tests for the service benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import check  # noqa: E402
import gen  # noqa: E402
import pct  # noqa: E402

SPEC = gen.Spec(2_000, 60, 50, 1_000, 100)


def _expected(table: pa.Table) -> check.Expected:
    exp = check.Expected()
    exp.add(table, check.Router(gen.RULES))
    return exp


def _service_output(exp: check.Expected) -> pa.Table:
    """The routed output a correct service writes for ``exp``."""
    rows = list(exp.forwarded.values())
    return pa.table(
        {
            "topic": [r[0] for r in rows],
            "key": [r[1] for r in rows],
            "value": [r[2] for r in rows],
        }
    )


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    paths = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        path = tmp_path / f"{name}.parquet"
        gen.write_file(gen.generate_file(SPEC, seed, 3), str(path))
        paths.append(path.read_bytes())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_generator_op_mix_and_damage():
    # 20k messages: about 200 malformed and 200 tombstones
    table = gen.generate_file(gen.Spec(20_000, 60, 50, 1_000, 100), 1, 0)
    parsed = [check.parse(v) for v in table.column("value").to_pylist()]
    n = len(parsed)
    ops = Counter(op for op, _, _ in parsed)
    tombstones = table.column("value").null_count
    assert 0.17 < ops["d"] / n < 0.23
    assert 0.005 < tombstones / n < 0.02
    assert 0.005 < (ops[None] - tombstones) / n < 0.02
    exp = _expected(table)
    assert exp.offered == n
    assert 0 < exp.unrouted < n and 0 < len(exp.forwarded) < n
    # every envelope carries its msg_id, so output rows can be matched
    ids = check.output_msg_ids(_service_output(exp))
    assert sorted(ids.tolist()) == sorted(exp.forwarded)


def test_checker_accepts_a_correct_service():
    exp = _expected(gen.generate_file(SPEC, 2, 0))
    got = check.compare_router(exp, _service_output(exp), dict(exp.inbound), dict(exp.outbound))
    assert got == {"missing": 0, "extra": 0, "misrouted": 0, "counter_cells": 0}


@pytest.mark.parametrize("plant", ["dropped", "duplicated", "misrouted", "counter"])
def test_checker_flags_a_planted_fault(plant):
    exp = _expected(gen.generate_file(SPEC, 3, 0))
    out = _service_output(exp)
    outbound = dict(exp.outbound)
    if plant == "dropped":
        out = out.slice(1)
    elif plant == "duplicated":
        out = pa.concat_tables([out, out.slice(5, 1)])
    elif plant == "misrouted":
        topics = out.column("topic").to_pylist()
        topics[7] = "audit-topic" if topics[7] != "audit-topic" else "table-topic"
        out = out.set_column(0, "topic", pa.array(topics))
    else:
        cell = next(iter(outbound))
        outbound[cell] += 1
    got = check.compare_router(exp, out, dict(exp.inbound), outbound)
    want = {"dropped": "missing", "duplicated": "extra", "misrouted": "misrouted", "counter": "counter_cells"}
    assert got[want[plant]] == 1
    assert sum(got.values()) == 1


def test_router_is_first_match_and_unanchored():
    router = check.Router(gen.RULES)
    # rules 1 and 2 both match; priority 1 wins
    assert router.route("flink-1", "db_1", "gsms_msg_ticket_sms_4") == "sms-topic-1"
    assert router.route("flink-1", "db_1", "gsms_msg_frame_4") == "gsms-catchall"
    # rule 6 is anchored, rule 7 is not
    assert router.route("flink-1", "db_3", "table_12") == "table-topic"
    assert router.route("flink-1", "db_3", "xtable_12") is None
    assert router.route("flink-2", "db_3", "my_audit_log") == "audit-topic"
    assert router.route("flink-2", "db_9", "audit_log") is None


def test_scd2_checker_flags_a_wrong_interval():
    exp = check.Expected()
    exp.changes = [
        ("db_1", "t", "k1", "c", 10, 1),
        ("db_1", "t", "k1", "u", 20, 2),
        ("db_1", "t", "k1", "d", 30, 3),
        ("db_1", "t", "k2", "c", 10, 4),
    ]
    right = pa.table(
        {
            "db": ["db_1"] * 3,
            "table_name": ["t"] * 3,
            "key": ["k1", "k1", "k2"],
            "op": ["c", "u", "c"],
            "msg_id": pa.array([1, 2, 4], pa.int64()),
            "valid_from_us": pa.array([10, 20, 10], pa.int64()),
            "valid_to_us": pa.array([20, 30, None], pa.int64()),
            "is_current": [False, False, True],
        }
    )
    assert check.compare_scd2(exp, right) == 0
    wrong = right.set_column(6, "valid_to_us", pa.array([20, None, None], pa.int64()))
    assert check.compare_scd2(exp, wrong) == 2


def test_percentile_refuses_a_thin_tail():
    values = list(range(1, 100))
    with pytest.raises(ValueError):
        pct.percentile(values, 90)  # 99 samples: 9 beyond p90
    assert pct.percentile(values + [100], 90) == 90  # 100 samples: 10 beyond
    assert pct.percentile([3.0, 1.0, 2.0], 50) == 2.0  # the median is exempt
    with pytest.raises(ValueError):
        pct.percentile([], 50)


def test_benchmark_json_matches_the_runner():
    import run

    bench = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    gated = [w for w in run.WORKLOADS if w not in run.UNGATED]
    assert [w["name"] for w in bench["workloads"]] == gated
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
