"""Custom stateful streaming: the first-seen dedup ledger.

Spark's built-in streaming operators cover windowed counts, dedup and
joins (streaming/pipeline.py); this module is the *custom-operator*
escape hatch — ``applyInPandasWithState`` — for stateful logic the
built-ins can't express (per-key state machines, custom eviction,
session carryover).

State is partitioned by group key, so the operator scales exactly like
a streaming aggregation: state rows live in the state store shuffled
by key; Arrow batches cross the Python boundary per key-partition.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# ---------------------------------------------------------------------------
# Streaming first-seen dedup: per content hash, keep (first_doc_id,
# n_copies) in keyed state and emit the revised ledger row each time
# the key is touched. This is exact corpus dedup running
# INCREMENTALLY: state is the dedup ledger, shuffled by hash exactly
# like the batch groupBy, so a 100 TB backfill and the steady-state
# stream use the same partitioning and the same ledger. The winner is
# the SMALLEST doc_id (the batch min-survivor convention), so late or
# replayed micro-batches can never flip WHO WON — first_doc_id is a
# min, idempotent under replay. n_copies/n_suppressed are per-row
# increments and are replay-idempotent only as far as the source's
# exactly-once delivery (file-stream checkpointing here); an
# at-least-once source would double-count suppressions.
# ---------------------------------------------------------------------------

FIRSTSEEN_OUTPUT_SCHEMA = "content_hash BIGINT, first_doc_id BIGINT, n_suppressed BIGINT"
FIRSTSEEN_STATE_SCHEMA = "first_doc_id BIGINT, n_copies BIGINT"


def _update_first_seen(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    first_doc, n = state.get if state.exists else (None, 0)
    for pdf in pdfs:
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n += 1
            if first_doc is None or d < first_doc:
                first_doc = d
    state.update((first_doc, n))
    yield pd.DataFrame(
        {
            "content_hash": [int(key[0])],
            "first_doc_id": [first_doc],
            "n_suppressed": [n - 1],
        }
    )


def streaming_first_seen(hashed: DataFrame) -> DataFrame:
    """First-seen dedup ledger over a stream of (content_hash, doc_id)
    rows: emits, per touched hash, the surviving doc and how many
    duplicates it has suppressed so far. Output mode 'update' — each
    micro-batch revises only the touched keys."""
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _update_first_seen,
        outputStructType=FIRSTSEEN_OUTPUT_SCHEMA,
        stateStructType=FIRSTSEEN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
