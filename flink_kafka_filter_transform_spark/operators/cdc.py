"""Reference-parity CDC operators (SURVEY.md §2 O2-O10), Spark-first.

Pipeline shape mirrors /root/reference/src/mq/kafka.rs:48-109:

    parse -> count-inbound -> filter deletes -> route -> count-outbound
          -> project(key, value, target topic)

Each stage is a composable DataFrame -> DataFrame function so the same
lineage runs in batch (oracle-tested) and under Structured Streaming
(streaming.pipeline). All stages are built-in Catalyst expressions —
no UDFs, no RDDs; the whole batch pipeline compiles to a single
WholeStageCodegen over the scan.

Scale notes (100 TB):
- The rule table is config-sized (the reference's YAML list,
  config.yaml:7-11), compiled once per query: every rule list folds
  into ONE ordered ``when`` chain (constant-folded literals, zero
  shuffle, zero join). A list over ``params.ROUTE_COMPILE_MAX_RULES``
  rules is rejected, not routed some other way.
- Counters are streaming groupBy counts: map-side partial aggregation
  means the shuffle carries only (group, partial_count) rows, bounded
  by group cardinality (topics x dbs x tables x 4 ops), not data size.
- The payload column is carried as opaque bytes/string and never
  re-serialized (kafka.rs:80-82 passthrough parity).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_kafka_filter_transform_spark.functions.json import parse_envelope_col
from flink_kafka_filter_transform_spark.operators import params

# ---------------------------------------------------------------------------
# O2 — JSON parse / projection (kafka.rs:53-55, structs :119-153)
# ---------------------------------------------------------------------------


def parse_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse the Debezium envelope; null-safe (malformed -> null fields).

    Adds ``op``/``db``/``table_name`` (overwriting any same-named input
    columns — the parsed value is authoritative, matching the reference
    which trusts only the payload) and ``parse_ok``.
    """
    parsed = parse_envelope_col(value_col)
    return (
        df.withColumn("_env", parsed)
        .withColumn("op", F.col("_env.op"))
        .withColumn("db", F.col("_env.source.db"))
        .withColumn("table_name", F.col("_env.source.table"))
        .withColumn("parse_ok", F.col("_env.op").isNotNull())
        .drop("_env")
    )


# ---------------------------------------------------------------------------
# O3 — delete filter (kafka.rs:65-67): drop op == 'd'; also drop
# unparseable rows (reference panics there; we discard-with-count).
# ---------------------------------------------------------------------------


def _keeps_op(drop_ops: Iterable[str] = ("d",)) -> Column:
    """The forward rule's op test: the envelope parsed and its op is not
    in ``drop_ops``."""
    return F.col("op").isNotNull() & ~F.col("op").isin(list(drop_ops))


def filter_deletes(df: DataFrame, drop_ops: Iterable[str] = ("d",)) -> DataFrame:
    """Keep rows whose op parsed and is not in ``drop_ops``."""
    return df.filter(_keeps_op(drop_ops))


# ---------------------------------------------------------------------------
# O4+O5+O6+O7 — regex routing, first-match-wins (transform.rs:52-65)
# ---------------------------------------------------------------------------


def _rule_cond(rule: dict, topic: str, db: str, table: str) -> Column:
    return (
        (F.col(topic) == F.lit(rule["source_topic"]))
        & (F.col(db) == F.lit(rule["db"]))
        & F.col(table).rlike(rule["table_pattern"])
    )


def _route_expr(rules: list[dict], topic_col: str, db_col: str, table_col: str) -> Column:
    """The first-match target topic of ``rules`` as one ordered CASE;
    raises ValueError for a list over ``params.ROUTE_COMPILE_MAX_RULES``
    rules. Every routing entry point compiles through here."""
    bound = params.ROUTE_COMPILE_MAX_RULES
    if len(rules) > bound:
        raise ValueError(
            f"{len(rules)} routing rules, over the ROUTE_COMPILE_MAX_RULES bound of {bound}"
        )
    expr: Column = F.lit(None).cast("string")
    # NULL priority sorts as int-max ("lowest precedence"), matching
    # DuckDB's ASC NULLS LAST. target_topic is the deterministic
    # tie-break for EQUAL priorities.
    def _pri(r: dict) -> tuple[int, str]:
        p = r["priority"] if r["priority"] is not None else 2_147_483_647
        return (p, r["target_topic"])

    for rule in sorted(rules, key=_pri, reverse=True):
        expr = F.when(_rule_cond(rule, topic_col, db_col, table_col), F.lit(rule["target_topic"])).otherwise(expr)
    return expr


def route_when_chain(
    df: DataFrame,
    rules: list[dict],
    topic_col: str = "topic",
    db_col: str = "db",
    table_col: str = "table_name",
) -> DataFrame:
    """Routing as one ordered CASE expression.

    Rule order is semantic (``.find()`` over the config Vec,
    transform.rs:57-64); a ``when`` chain preserves it exactly. Regex
    literals are compiled once per plan inside codegen (the Catalyst
    analog of the reference's startup regex pre-compilation,
    transform.rs:26-38). No join, no shuffle, streams unchanged.
    """
    return df.withColumn("target_topic", _route_expr(rules, topic_col, db_col, table_col))


def route_forwarded(df: DataFrame, rules: list[dict]) -> DataFrame:
    """The forward rule as one column over a parsed frame: ``target_topic``
    is the first-match route of a message that parsed and is not a
    delete, and NULL for every message the reference drops (malformed,
    delete, unrouted; kafka.rs:53-74). Every row is kept, so the inbound
    counter still sees all of them; ``drop_unrouted`` then yields exactly
    the forwarded messages."""
    return df.withColumn(
        "target_topic",
        F.when(_keeps_op(), _route_expr(rules, "topic", "db", "table_name")),
    )


def forwarded(df: DataFrame, rules: list[dict]) -> DataFrame:
    """The reference's per-message path on raw messages: parse, drop
    deletes, route, drop unrouted — the forwarded messages with their
    ``target_topic``."""
    return drop_unrouted(route_forwarded(parse_envelope(df), rules))


def drop_unrouted(df: DataFrame) -> DataFrame:
    """O6 — silently drop messages with no matching rule (kafka.rs:70-74)."""
    return df.filter(F.col("target_topic").isNotNull())


def project_outgoing(df: DataFrame, key_col: str = "key", value_col: str = "value") -> DataFrame:
    """O7 — outgoing record: topic := target_topic, key/payload verbatim
    (kafka.rs:80-82). The payload is the ORIGINAL bytes, never
    re-serialized."""
    return df.select(
        F.col("target_topic").alias("topic"),
        F.col(key_col).alias("key"),
        F.col(value_col).alias("value"),
    )


# ---------------------------------------------------------------------------
# O9/O10 — running grouped counters (mq/mod.rs:35-59)
# ---------------------------------------------------------------------------


def inbound_counts(df: DataFrame) -> DataFrame:
    """O9: COUNT(*) BY (topic, db, table, op) over ALL messages —
    including deletes and unparseable ones (incremented before the
    filter, kafka.rs:56-61; unparseable rows group under NULL op here
    instead of panicking)."""
    return df.groupBy("topic", "db", "table_name", "op").agg(F.count(F.lit(1)).alias("cnt"))


def outbound_counts(df: DataFrame) -> DataFrame:
    """O10: COUNT(*) BY (target_topic, op) over forwarded messages only
    (kafka.rs:75-78)."""
    return df.groupBy("target_topic", "op").agg(F.count(F.lit(1)).alias("cnt"))


def label_counts(df: DataFrame) -> DataFrame:
    """O9 and O10 in one aggregate over a ``route_forwarded`` frame:
    COUNT(*) BY (topic, db, table_name, op, target_topic). Routing is a
    function of (topic, db, table_name, op), so the extra key adds no
    rows: the result is the inbound counter's label grain, and its rows
    with a non-NULL ``target_topic`` sum to the outbound counter."""
    return df.groupBy("topic", "db", "table_name", "op", "target_topic").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# Full pipeline (flagship): the reference's entire data path as one plan.
# ---------------------------------------------------------------------------


def cdc_pipeline(df: DataFrame, rules: list[dict]) -> DataFrame:
    """parse -> filter -> route -> drop-unmatched -> outbound counts.

    Returns the outbound counter relation (deterministic, oracle-able);
    ``project_outgoing`` on the routed stream is what a Kafka sink
    would consume.
    """
    return outbound_counts(forwarded(df, rules))


# ---------------------------------------------------------------------------
# Changelog compaction: the natural ENDPOINT of the reference's Debezium
# pipeline. The reference stops at forwarding envelopes (kafka.rs:80-82);
# every real consumer of that stream next materializes current state.
# ---------------------------------------------------------------------------


def materialize_latest(df: DataFrame) -> DataFrame:
    """Upsert compaction of a parsed CDC changelog into latest state.

    For each (db, table_name, key): keep the newest change by
    (ts, msg_id) — msg_id breaks same-timestamp ties deterministically —
    then drop keys whose final operation is a delete. Unparseable rows
    (op IS NULL) are discarded first, mirroring ``filter_deletes``.

    Scale shape: ONE shuffle, grouped by the entity key with map-side
    partial ``max_by`` — each mapper pre-compacts its partition, so the
    wire carries at most one row per key per mapper, never the full
    changelog. (The struct payload makes it a SortAggregate, but the
    sort runs over pre-combined rows; a window/row_number formulation —
    what the DuckDB oracle uses, for independence — would shuffle and
    sort EVERY change instead.)
    """
    parsed = df.filter(F.col("op").isNotNull())
    payload = F.struct("op", "ts", "msg_id", "value")
    latest = parsed.groupBy("db", "table_name", "key").agg(
        F.max_by(payload, F.struct("ts", "msg_id")).alias("_l")
    )
    return (
        latest.filter(F.col("_l.op") != "d")
        .select(
            "db",
            "table_name",
            "key",
            F.col("_l.op").alias("op"),
            F.unix_micros(F.col("_l.ts")).alias("last_ts_us"),
            F.col("_l.msg_id").alias("msg_id"),
            F.col("_l.value").alias("value"),
        )
    )


def scd2_history(df: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a parsed CDC
    changelog: each non-delete change becomes a validity interval
    [its ts, next change's ts) per (db, table_name, key); the open
    interval (valid_to NULL) is the current state. Deletes emit no
    interval themselves but still CLOSE the previous one — the lead()
    runs over ALL changes before deletes are dropped.

    This is the other natural endpoint of the reference's Debezium
    stream next to ``materialize_latest``: compaction answers "what is
    the state", SCD2 answers "what was the state at time T" (join on
    valid_from_us <= T < valid_to_us).

    Scale shape: ONE shuffle + sort on the entity key — history
    construction is inherently ordered, and this is the minimal plan
    for it; both window functions share the single sort. Equal-ts
    ties are broken by msg_id, so the history is deterministic.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("db", "table_name", "key").orderBy("ts", "msg_id")
    valid_to = F.lead(F.unix_micros(F.col("ts"))).over(w)
    return (
        df.filter(F.col("op").isNotNull())
        .withColumn("valid_to_us", valid_to)
        .filter(F.col("op") != "d")
        .select(
            "db",
            "table_name",
            "key",
            "op",
            "msg_id",
            F.unix_micros(F.col("ts")).alias("valid_from_us"),
            "valid_to_us",
            F.col("valid_to_us").isNull().alias("is_current"),
        )
    )
