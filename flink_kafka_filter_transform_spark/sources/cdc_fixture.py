"""Deterministic Debezium-CDC fixture derived from the ``events`` table.

The reference consumes Debezium envelopes from Kafka
(/root/reference/src/mq/kafka.rs:53-63, envelope documented at
/root/reference/README.md:7-35). The driver's oracle only knows the ten
testdata tables, so the CDC stream is *derived* from ``events`` with a
single SQL template valid in BOTH Spark SQL and DuckDB (modulo a tiny
dialect substitution). That makes every parity operator
(parse/filter/route/count) differentially testable.

Derivation (pure functions of event_id/user_id/event_type/props):

- ``topic``       : flink-1 / flink-2 (mirrors config.yaml:5-6)
- ``key``         : user_id as string (passthrough tested, kafka.rs:81)
- ``op``          : c/u/d/r from event_type (~20% deletes via 'error')
- ``db``          : db_1..db_3
- ``table_name``  : regex-edge families from transform.rs:136-153
                    (gsms_msg_ticket_sms_N, gsms_msg_frame_N, table_N,
                    audit_log, unmatched_tbl_N)
- ``value``       : the JSON envelope embedding the same fields; ~1%
                    malformed (truncated) and ~1% NULL (tombstone) rows
                    exercise the null-safe parse path the reference
                    lacks (it panics, kafka.rs:53-55 — see SURVEY §3.4)
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from flink_kafka_filter_transform_spark.sources.parquet import data_cache_key

# One source of truth for the derivation; {json_get} is the only
# dialect-specific token (Spark: get_json_object, DuckDB:
# json_extract_string).
_CDC_BASE_TEMPLATE = """
SELECT
  event_id AS msg_id,
  CASE WHEN event_id % 2 = 0 THEN 'flink-1' ELSE 'flink-2' END AS topic,
  CAST(user_id AS STRING) AS key,
  CASE event_type
    WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'c'
    WHEN 'click' THEN 'u' WHEN 'view' THEN 'r' ELSE 'd' END AS op,
  'db_' || CAST(user_id % 3 + 1 AS STRING) AS db,
  CASE
    WHEN event_id % 10 <= 3 THEN 'gsms_msg_ticket_sms_' || CAST(event_id % 1000 AS STRING)
    WHEN event_id % 10 <= 5 THEN 'gsms_msg_frame_' || CAST(event_id % 100 AS STRING)
    WHEN event_id % 10 = 6  THEN 'table_' || CAST(event_id % 3 + 1 AS STRING)
    WHEN event_id % 10 = 7  THEN 'audit_log'
    ELSE 'unmatched_tbl_' || CAST(event_id % 7 AS STRING)
  END AS table_name,
  {json_get}(props, '$.k') AS k,
  {ts_expr} AS ts
FROM events
"""

_CDC_VALUE_TEMPLATE = """
SELECT
  msg_id, topic, key, op, db, table_name, ts,
  CASE
    WHEN msg_id % 101 = 0 THEN NULL
    WHEN msg_id % 97 = 0 THEN substr(envelope, 1, 25)
    ELSE envelope
  END AS value
FROM (
  SELECT *,
    '{{"before":null,"after":{{"id":' || CAST(msg_id AS STRING) || ',"v":' || k
      || '}},"op":"' || op || '","source":{{"db":"' || db
      || '","table":"' || table_name || '"}}}}' AS envelope
  FROM ({base}) cdc_base
) enveloped
"""


def cdc_sql(dialect: str) -> str:
    """The full derivation as a SELECT, in the given dialect."""
    json_get = {"spark": "get_json_object", "duckdb": "json_extract_string"}[dialect]
    # Spark sees the events view with ts already normalized to
    # TIMESTAMP (sources.parquet.ts_as_timestamp handles both physical
    # encodings the driver has shipped); the cast is then an identity
    # on both engines, kept so the template stays dialect-shared.
    ts_expr = "CAST(ts AS TIMESTAMP)"
    base = _CDC_BASE_TEMPLATE.format(json_get=json_get, ts_expr=ts_expr)
    return _CDC_VALUE_TEMPLATE.format(base=base)


def synthesized_cdc_events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC fixture computed inline (events view auto-registered,
    with ts normalized to TIMESTAMP whatever the parquet encoding)."""
    from flink_kafka_filter_transform_spark.sources.parquet import (
        load_table,
        ts_as_timestamp,
    )

    ev = load_table(spark, "events", sf_dir)
    ev.withColumn("ts", ts_as_timestamp(ev)).createOrReplaceTempView("events")
    return spark.sql(cdc_sql("spark"))


def cdc_events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC fixture as a Spark DataFrame, materialized once per
    (events files, template version) to a parquet cache and scanned
    from there.

    The inline synthesis is a wide expression tree that Catalyst
    re-evaluates inside every from_json-derived filter, so it doubles
    the cost of each CDC query — and it models the input WORSE than a
    scan does: real messages arrive as stored bytes, not as expressions
    fused into the reader's plan. The cache key (``data_cache_key``)
    covers the events files and the template, so rewriting either
    invalidates; the rename is atomic, so a lost concurrent race just
    reuses the winner's directory."""
    # The version tag invalidates caches whose LAYOUT (not content)
    # predates a change — v3: caches are written pre-repartitioned so
    # every downstream CDC scan parallelizes (single-file caches capped
    # the whole CDC path at one core).
    key = data_cache_key(sf_dir, "events", "v3", cdc_sql("spark"))
    cache = os.path.join(tempfile.gettempdir(), "spark_graft_cdc_cache", key)
    if not os.path.isdir(cache):
        tmp = f"{cache}.tmp-{os.getpid()}"
        synthesized_cdc_events_df(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, cache)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race; cache exists
    return spark.read.parquet(cache)


# ---------------------------------------------------------------------------
# Routing rules — mirrors Transform at
# /root/reference/src/config/transform.rs:89-95 and config.yaml:7-11.
# ``priority`` is config order; first match wins (transform.rs:57-64).
# Patterns are UNANCHORED substring regexes (transform.rs:33 uses
# Regex::is_match == search semantics; Spark rlike and DuckDB
# regexp_matches match that). Rules 1 and 2 overlap on purpose to
# exercise first-match-wins; anchored rule 6 tests ^$ semantics.
# ---------------------------------------------------------------------------

RULES: list[dict] = [
    {"priority": 1, "source_topic": "flink-1", "db": "db_1", "table_pattern": "ticket_sms_[0-9]+", "target_topic": "sms-topic-1"},
    {"priority": 2, "source_topic": "flink-1", "db": "db_1", "table_pattern": "gsms_msg_.*", "target_topic": "gsms-catchall"},
    {"priority": 3, "source_topic": "flink-2", "db": "db_1", "table_pattern": "ticket_sms_[0-9]+", "target_topic": "sms-topic-2"},
    {"priority": 4, "source_topic": "flink-1", "db": "db_2", "table_pattern": "frame_[0-9]+", "target_topic": "frame-topic"},
    {"priority": 5, "source_topic": "flink-2", "db": "db_2", "table_pattern": "gsms_msg_.*", "target_topic": "gsms-topic-2"},
    {"priority": 6, "source_topic": "flink-1", "db": "db_3", "table_pattern": "^table_[0-9]+$", "target_topic": "table-topic"},
    {"priority": 7, "source_topic": "flink-2", "db": "db_3", "table_pattern": "audit.*", "target_topic": "audit-topic"},
]
