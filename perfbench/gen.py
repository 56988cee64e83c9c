"""Seeded Debezium CDC load for the service benchmark.

One process, pyarrow and numpy only. A workload's stream is a numbered
sequence of parquet files; ``generate_file(spec, seed, index)`` builds
file ``index`` from ``(seed, index)`` alone, so the same seed always
gives the same bytes and files can be built in any order.

Each row is one Kafka record as the service consumes it:

    msg_id  int64      unique, also carried in the envelope as source.lsn
    topic   string     flink-1 / flink-2 (the reference's source topics)
    key     string     the entity key
    ts      timestamp  the record time (= the envelope's ts_ms)
    value   string     the Debezium envelope JSON

The envelope carries ``before``/``after`` row images, ``source.{db,
table,lsn,ts_ms}``, ``op`` and ``ts_ms``. The op mix is about 20%
deletes; about 1% of values are truncated (malformed) and about 1% are
NULL (tombstones). Tables come in sharded families
(``gsms_msg_ticket_sms_N`` ...), whose shard count sets the counter
label cardinality; some topic/db/table combinations match no routing
rule (the unrouted share).

``ts_ms`` is a schedule, not a wall-clock reading: file ``k`` is
stamped ``EPOCH_MS + k * interval_ms`` for every message in it, so the
stamps depend on the seed and file index alone and a later file's
changes are later in SCD2 history.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_MS = 1_700_000_000_000

SCHEMA = pa.schema(
    [
        ("msg_id", pa.int64()),
        ("topic", pa.string()),
        ("key", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.string()),
    ]
)

TOPICS = ("flink-1", "flink-2")
DBS = ("db_1", "db_2", "db_3")
# op drawn for well-formed messages: create, update, snapshot read, delete
OPS = ("c", "u", "r", "d")
OP_P = (0.30, 0.42, 0.08, 0.20)
MALFORMED_P = 0.01
TOMBSTONE_P = 0.01
# table family shares: ticket_sms, frame, table_N, audit_log, unmatched_tbl_N
FAMILY_P = (0.40, 0.20, 0.10, 0.10, 0.20)
STATUSES = ("queued", "sent", "delivered", "failed", "retrying", "expired")

# Routing config in the reference's shape (config.yaml: source topic,
# db, unanchored table regex, target topic; first match in priority
# order wins). Rules 1 and 2 overlap on purpose; rule 6 is anchored.
RULES: list[dict] = [
    {"priority": 1, "source_topic": "flink-1", "db": "db_1", "table_pattern": "ticket_sms_[0-9]+", "target_topic": "sms-topic-1"},
    {"priority": 2, "source_topic": "flink-1", "db": "db_1", "table_pattern": "gsms_msg_.*", "target_topic": "gsms-catchall"},
    {"priority": 3, "source_topic": "flink-2", "db": "db_1", "table_pattern": "ticket_sms_[0-9]+", "target_topic": "sms-topic-2"},
    {"priority": 4, "source_topic": "flink-1", "db": "db_2", "table_pattern": "frame_[0-9]+", "target_topic": "frame-topic"},
    {"priority": 5, "source_topic": "flink-2", "db": "db_2", "table_pattern": "gsms_msg_.*", "target_topic": "gsms-topic-2"},
    {"priority": 6, "source_topic": "flink-1", "db": "db_3", "table_pattern": "^table_[0-9]+$", "target_topic": "table-topic"},
    {"priority": 7, "source_topic": "flink-2", "db": "db_3", "table_pattern": "audit.*", "target_topic": "audit-topic"},
]

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu order ticket message frame carrier route"
).split()


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's stream."""

    msgs_per_file: int
    image_bytes: int  # approximate filler bytes in each row image
    shards: int  # tables in the gsms_msg_ticket_sms family
    key_space: int  # distinct entity keys
    interval_ms: int  # schedule spacing between consecutive files


def _phrases() -> pa.Array:
    """A fixed table of 256 short phrases the row-image filler draws
    from: JSON row images repeat vocabulary, and random bytes would
    compress unrealistically badly."""
    rng = np.random.default_rng(0)
    words = np.array(_WORDS)
    return pa.array(
        [" ".join(words[rng.integers(0, len(words), 4)]) for _ in range(256)]
    )


_PHRASES = _phrases()
_PHRASE_MEAN = float(np.mean([len(p) for p in _PHRASES.to_pylist()])) + 1


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(choices).take(pa.array(idx))


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _table_names(rng: np.random.Generator, spec: Spec, n: int) -> pa.Array:
    family = rng.choice(len(FAMILY_P), size=n, p=FAMILY_P)
    ticket = _cat("gsms_msg_ticket_sms_", _str(rng.integers(0, spec.shards, n)))
    frame = _cat("gsms_msg_frame_", _str(rng.integers(0, max(spec.shards // 10, 1), n)))
    plain = _cat("table_", _str(rng.integers(1, 4, n)))
    unmatched = _cat("unmatched_tbl_", _str(rng.integers(0, 7, n)))
    out = unmatched
    for fam, arr in ((3, "audit_log"), (2, plain), (1, frame), (0, ticket)):
        out = pc.if_else(pa.array(family == fam), arr, out)
    return out


def _row_image(rng, spec: Spec, eid: pa.Array, ts_ms: pa.Array, n: int) -> pa.Array:
    filler_parts = max(int(round(spec.image_bytes / _PHRASE_MEAN)), 1)
    filler = pc.binary_join_element_wise(
        *[_PHRASES.take(pa.array(rng.integers(0, len(_PHRASES), n))) for _ in range(filler_parts)],
        " ",
    )
    cents = rng.integers(1, 1_000_000, n)
    return _cat(
        '{"id":', eid,
        ',"ticket_no":"T', eid,
        '","status":"', _pick(rng, STATUSES, n),
        '","channel":"sms","amount_cents":', _str(cents),
        ',"body":"', filler,
        '","updated_at":', ts_ms, "}",
    )


def generate_file(spec: Spec, seed: int, index: int) -> pa.Table:
    """File ``index`` of the stream for ``seed``."""
    n = spec.msgs_per_file
    rng = np.random.default_rng([seed, index])
    msg_id = index * n + np.arange(n, dtype=np.int64)
    ts_ms_int = np.full(n, EPOCH_MS + index * spec.interval_ms, dtype=np.int64)
    ts_ms = _str(ts_ms_int)
    topic = _pick(rng, TOPICS, n)
    db = _pick(rng, DBS, n)
    table = _table_names(rng, spec, n)
    op_idx = rng.choice(len(OPS), size=n, p=OP_P)
    op = pa.array(OPS).take(pa.array(op_idx))
    eid = _str(rng.integers(0, spec.key_space, n))
    before = pc.if_else(
        pa.array(np.isin(op_idx, (1, 3))), _row_image(rng, spec, eid, ts_ms, n), "null"
    )
    after = pc.if_else(
        pa.array(op_idx != 3), _row_image(rng, spec, eid, ts_ms, n), "null"
    )
    envelope = _cat(
        '{"before":', before,
        ',"after":', after,
        ',"source":{"version":"2.5.0.Final","connector":"mysql","name":"dbserver1","ts_ms":', ts_ms,
        ',"db":"', db,
        '","table":"', table,
        '","lsn":', _str(msg_id),
        '},"op":"', op,
        '","ts_ms":', ts_ms, "}",
    )
    damage = rng.random(n)
    value = pc.if_else(
        pa.array(damage < MALFORMED_P), pc.utf8_slice_codeunits(envelope, 0, 25), envelope
    )
    value = pc.if_else(
        pa.array(damage >= 1.0 - TOMBSTONE_P), pa.scalar(None, pa.string()), value
    )
    ts = pa.array(ts_ms_int * 1000, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    return pa.Table.from_arrays(
        [pa.array(msg_id), topic, eid, ts, value], schema=SCHEMA
    )


def write_file(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` atomically (temp file + rename), so a
    directory watcher never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


def file_name(index: int) -> str:
    return f"part-{index:06d}.parquet"
