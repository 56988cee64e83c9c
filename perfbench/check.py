"""Independent reference for the service benchmark's outputs.

A pure-Python port of the reference router's per-message path
(kafka.rs:48-109, transform.rs:52-65), sharing no code with the
program under test:

- parse ``op`` and ``source.{db,table}`` from the envelope; a message
  that does not parse (malformed JSON, NULL tombstone, no ``op``) is
  discarded, but still counted inbound under empty labels;
- drop ``op == "d"``;
- route first-match in priority order on topic ==, db == and an
  unanchored ``re.search`` of the table pattern; no match is dropped.

``Expected`` holds what one stream must produce: the routed output
keyed by msg_id and both counter families. ``compare_router`` counts
missing, extra (including duplicated) and misrouted output messages and
differing counter cells. ``compare_scd2`` checks the final published
SCD2 version against a DuckDB computation of the same history.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def parse(value: str | None) -> tuple[str | None, str | None, str | None]:
    """(op, db, table) of an envelope; op is None when it does not parse."""
    if value is None:
        return None, None, None
    try:
        env = json.loads(value)
    except ValueError:
        return None, None, None
    if not isinstance(env, dict):
        return None, None, None
    src = env.get("source")
    src = src if isinstance(src, dict) else {}
    return env.get("op"), src.get("db"), src.get("table")


class Router:
    """First-match routing over the rule list, memoized per label triple."""

    def __init__(self, rules: list[dict]) -> None:
        self._rules = [
            (r["source_topic"], r["db"], re.compile(r["table_pattern"]), r["target_topic"])
            for r in sorted(rules, key=lambda r: (r["priority"], r["target_topic"]))
        ]
        self._memo: dict[tuple, str | None] = {}

    def route(self, topic: str, db: str | None, table: str | None) -> str | None:
        k = (topic, db, table)
        if k not in self._memo:
            self._memo[k] = next(
                (
                    target
                    for s_topic, s_db, pat, target in self._rules
                    if topic == s_topic and db == s_db and table is not None and pat.search(table)
                ),
                None,
            )
        return self._memo[k]


@dataclass
class Expected:
    """What the service must produce for the messages fed to ``add``."""

    offered: int = 0
    inbound: Counter = field(default_factory=Counter)
    outbound: Counter = field(default_factory=Counter)
    # forwarded messages: msg_id -> (target topic, key, value)
    forwarded: dict = field(default_factory=dict)
    # parsed changes (op not None), for the SCD2 reference
    changes: list = field(default_factory=list)
    malformed: int = 0
    deletes: int = 0
    unrouted: int = 0

    def add(self, table: pa.Table, router: Router) -> None:
        cols = [table.column(c).to_pylist() for c in ("msg_id", "topic", "key", "value")]
        ts_us = pc.cast(table.column("ts"), pa.int64()).to_pylist()
        for msg_id, topic, key, value, ts in zip(*cols, ts_us):
            self.offered += 1
            op, db, tbl = parse(value)
            self.inbound[(topic, db or "", tbl or "", op or "")] += 1
            if op is None:
                self.malformed += 1
                continue
            self.changes.append((db, tbl, key, op, ts, msg_id))
            if op == "d":
                self.deletes += 1
                continue
            target = router.route(topic, db, tbl)
            if target is None:
                self.unrouted += 1
                continue
            self.outbound[(target, op)] += 1
            self.forwarded[msg_id] = (target, key, value)


_LSN = r'"lsn":(?P<lsn>\d+)'


def output_msg_ids(out: pa.Table) -> np.ndarray:
    """msg_id of each output row, read back from the forwarded payload
    (the envelope's source.lsn); -1 where the payload lost it."""
    lsn = pc.struct_field(pc.extract_regex(out.column("value"), _LSN), "lsn")
    return pc.fill_null(pc.cast(lsn, pa.int64()), -1).to_numpy(zero_copy_only=False)


def compare_router(exp: Expected, out: pa.Table, inbound: dict, outbound: dict) -> dict:
    """Mismatch counts between the service's output and ``exp``.

    ``out`` has the routed rows (topic, key, value); ``inbound`` and
    ``outbound`` are the counter families the service published."""
    ids = output_msg_ids(out)
    uniq, first, counts = np.unique(ids, return_index=True, return_counts=True)
    known = np.array([i in exp.forwarded for i in uniq.tolist()], dtype=bool)
    extra = int(counts[~known].sum() + (counts[known] - 1).sum())
    missing = len(exp.forwarded) - int(known.sum())
    topics, keys, values = (out.column(c).to_pylist() for c in ("topic", "key", "value"))
    misrouted = sum(
        1
        for i, row in zip(uniq[known].tolist(), first[known].tolist())
        if exp.forwarded[i] != (topics[row], keys[row], values[row])
    )
    counter_cells = _cells_differing(exp.inbound, inbound) + _cells_differing(exp.outbound, outbound)
    return {
        "missing": missing,
        "extra": extra,
        "misrouted": misrouted,
        "counter_cells": counter_cells,
    }


def _cells_differing(want: Counter, got: dict) -> int:
    return sum(1 for k in set(want) | set(got) if want.get(k, 0) != got.get(k, 0))


_SCD2_SQL = """
WITH h AS (
  SELECT db, table_name, key, op, msg_id, ts_us AS valid_from_us,
         lead(ts_us) OVER (PARTITION BY db, table_name, key ORDER BY ts_us, msg_id)
           AS valid_to_us
  FROM changes
)
SELECT db, table_name, key, op, msg_id, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current
FROM h WHERE op <> 'd'
"""

SCD2_COLS = ("db", "table_name", "key", "op", "msg_id", "valid_from_us", "valid_to_us", "is_current")


def compare_scd2(exp: Expected, published: pa.Table) -> int:
    """Rows in either the published SCD2 version or the DuckDB history
    of ``exp.changes`` but not both (multiset difference)."""
    import duckdb

    db, tbl, key, op, ts, msg_id = zip(*exp.changes) if exp.changes else ([],) * 6
    changes = pa.table(  # noqa: F841 (read by DuckDB by name)
        {
            "db": pa.array(db, pa.string()),
            "table_name": pa.array(tbl, pa.string()),
            "key": pa.array(key, pa.string()),
            "op": pa.array(op, pa.string()),
            "ts_us": pa.array(ts, pa.int64()),
            "msg_id": pa.array(msg_id, pa.int64()),
        }
    )
    got = published.select(list(SCD2_COLS))  # noqa: F841
    con = duckdb.connect()
    try:
        con.register("changes", changes)
        con.register("got", got)
        cols = ", ".join(SCD2_COLS)
        want = f"SELECT {cols} FROM ({_SCD2_SQL})"
        have = f"SELECT {cols} FROM got"
        return con.execute(
            f"SELECT (SELECT count(*) FROM ({want} EXCEPT ALL {have}))"
            f" + (SELECT count(*) FROM ({have} EXCEPT ALL {want}))"
        ).fetchone()[0]
    finally:
        con.close()
