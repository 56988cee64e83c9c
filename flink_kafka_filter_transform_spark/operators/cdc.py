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
- The rule table is O(10..10k) rows: first-match routing folds it into
  an ordered ``when`` chain (constant-folded literals, zero shuffle,
  zero join) — preferred for config-sized rule sets. The broadcast-join
  variant exists for very large rule tables and encodes priority via
  ``min(priority)`` per message, still shuffle-free on the stream side
  (broadcast hash join + partial aggregation).
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
    """The first-match target topic of ``rules`` as one ordered CASE."""
    expr: Column = F.lit(None).cast("string")
    # NULL priority sorts as int-max ("lowest precedence"), matching the
    # join path's min_by coalesce and DuckDB's ASC NULLS LAST.
    # target_topic is the deterministic tie-break for EQUAL priorities —
    # the same tuple the join path orders min_by on, so crossing
    # ROUTE_COMPILE_MAX_RULES can never change a routing winner.
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
    """Routing as one ordered CASE expression — the scale-preferred path.

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


# Rules-probe memo: logical-plan fingerprint (semanticHash — Spark's
# own canonical plan-equality hash, the mechanism behind sameSemantics)
# -> collected rule rows, or None for "exceeds ROUTE_COMPILE_MAX_RULES,
# take the big-table path". The probe is an eager ~0.3-0.9 s Spark job;
# a rule table is typically routed against once per micro-batch or
# query, so paying it once per TABLE instead of once per CALL matters.
# Bounded LRU; keyed on the PLAN, so callers that mutate data behind an
# identical plan (overwrite the same parquet path) must rebuild the
# DataFrame or call clear_route_rules_cache().
_RULES_PROBE_CACHE: "OrderedDict[int, list[dict] | None]" = None  # type: ignore[assignment]
_RULES_PROBE_CACHE_MAX = 32


def clear_route_rules_cache() -> None:
    """Drop all memoized rule-table probes (e.g. after rewriting the
    storage behind a rules DataFrame without changing its plan)."""
    if _RULES_PROBE_CACHE is not None:
        _RULES_PROBE_CACHE.clear()


def _probe_rules(rules_df: DataFrame) -> "list[dict] | None":
    """Collected rule rows for compile-sized tables, else None."""
    global _RULES_PROBE_CACHE
    if _RULES_PROBE_CACHE is None:
        from collections import OrderedDict

        _RULES_PROBE_CACHE = OrderedDict()
    fp = rules_df.semanticHash()
    if fp in _RULES_PROBE_CACHE:
        _RULES_PROBE_CACHE.move_to_end(fp)
        return _RULES_PROBE_CACHE[fp]
    # Bounded probe: reads at most MAX+1 rule rows, never the full
    # table. toArrow (not take/collect-with-limit) — CollectLimitExec's
    # incremental job scheduling costs ~1-2s per call even on a 7-row
    # local relation; the Arrow path is a single ~0.3s fetch.
    head = (
        rules_df.select("priority", "source_topic", "db", "table_pattern", "target_topic")
        .limit(params.ROUTE_COMPILE_MAX_RULES + 1)
        .toArrow()
    )
    result = (
        head.to_pylist() if head.num_rows <= params.ROUTE_COMPILE_MAX_RULES else None
    )
    _RULES_PROBE_CACHE[fp] = result
    if len(_RULES_PROBE_CACHE) > _RULES_PROBE_CACHE_MAX:
        _RULES_PROBE_CACHE.popitem(last=False)
    return result


def route_broadcast_join(
    df: DataFrame,
    rules_df: DataFrame,
    topic_col: str = "topic",
    db_col: str = "db",
    table_col: str = "table_name",
) -> DataFrame:
    """Dynamic-rule routing (rules only known at runtime, as a
    DataFrame) — ADAPTIVE between two strategies by rule-table size:

    - Config-sized rule tables (<= ``params.ROUTE_COMPILE_MAX_RULES``):
      collect the rules to the driver — the rule table is
      broadcast-sized BY DEFINITION, and collecting it at plan time is
      exactly what Spark's own broadcast join does — and compile the
      same ordered ``when`` chain as ``route_when_chain``. One scan,
      ZERO shuffles, regexes become codegen literals. This is the right
      plan for every realistic deployment of the reference (its config
      is a YAML file, config.yaml:7-11). The probe is memoized on the
      rules plan's semanticHash (``_probe_rules``), so repeated routing
      against the same rule table pays the collection job once.
    - Larger rule tables (a when-chain with thousands of branches blows
      past codegen limits and falls back to interpreted CASE): the
      distinct-keys join below — see ``_route_distinct_keys_join``.

    Both paths share first-match semantics (min priority, NULL
    priority = lowest precedence); ``tests/test_plans.py`` gates each
    path's plan shape and ``tests/test_oracle_parity.py`` +
    the path-equivalence test pin the semantics.
    """
    if rules_df.isStreaming:
        raise ValueError(
            "route_broadcast_join requires a BATCH rules DataFrame: the rule "
            "table is probed eagerly at plan-build time (the broadcast-sized "
            "assumption), which is undefined for a streaming relation. Route "
            "a stream of rule updates through foreachBatch and rebuild."
        )
    rules = _probe_rules(rules_df)
    if rules is not None:
        routed = route_when_chain(df, rules, topic_col, db_col, table_col)
        return routed.filter(F.col("target_topic").isNotNull())
    return _route_distinct_keys_join(df, rules_df, topic_col, db_col, table_col)


def _route_distinct_keys_join(
    df: DataFrame,
    rules_df: DataFrame,
    topic_col: str = "topic",
    db_col: str = "db",
    table_col: str = "table_name",
) -> DataFrame:
    """Routing as an explicit broadcast join — the huge-rule-table path.

    The routing decision is a pure function of the key triple
    (topic, db, table_name), whose cardinality is SCHEMA-bounded
    (topics x databases x tables — the same boundedness the rule-table
    assumption already makes), not data-bounded. So instead of joining
    every message against the rules and aggregating first-match per
    msg_id (a stream-sized SortAggregate over struct buffers — the
    round-1 shape, whose shuffle carried every matched message's full
    payload):

    1. distinct key triples — map-side partial distinct, so the only
       shuffle in the whole plan carries UNIQUE keys, not messages;
    2. join the distinct keys against the broadcast rule table and keep
       the min-priority match per key (min_by on a relation of distinct
       keys — tiny, SortAggregate there is irrelevant). The regex runs
       once per (key, rule), not once per message, so the column-valued
       ``regexp_like(col, col)`` (recompiled per evaluation) is cheap
       here and keeps the rule table fully dynamic;
    3. broadcast the resolved (key -> target_topic) map back onto the
       stream: a map-only broadcast hash join — the stream itself is
       NEVER shuffled.

    Cost model: one extra scan+parse of the source (the keys branch) in
    exchange for eliminating the payload shuffle entirely — measured at
    sf0.1: ~5.3s cold / ~2.5s warm vs the compiled when-chain's ~2.1s /
    ~1.2s, which is why config-sized tables take the compiled path. At
    100 TB a pruned columnar re-scan is linear and embarrassingly
    parallel while a matched-payload shuffle+sort is the bottleneck —
    for rule tables too big to compile, this is the plan you'd want on
    1000 executors.
    """
    r = F.broadcast(rules_df.withColumnRenamed("db", "rule_db"))
    match = F.regexp_like(F.col(table_col), r["table_pattern"])
    keys = df.select(topic_col, db_col, table_col).dropDuplicates()
    matched = keys.join(
        r,
        (F.col(topic_col) == r["source_topic"]) & (F.col(db_col) == r["rule_db"]) & match,
        "inner",
    )
    # First-match-wins per key via min_by. NULL-priority rules: min_by
    # IGNORES rows whose ordering value is NULL (a key matching only
    # NULL-priority rules would vanish). Coalesce to int-max so NULL
    # priority means "lowest precedence" — the same place DuckDB's
    # default NULLS LAST puts it in the oracle's row_number ordering.
    # target_topic in the ordering struct breaks EQUAL-priority ties the
    # same way the when-chain sort does (struct ordering is field-wise).
    pri = F.struct(
        F.coalesce(F.col("priority"), F.lit(2_147_483_647)).alias("p"),
        F.col("target_topic").alias("t"),
    )
    routed_keys = matched.groupBy(topic_col, db_col, table_col).agg(
        F.min_by("target_topic", pri).alias("target_topic")
    )
    # Inner join == drop messages whose key matched no rule (same rows
    # the old per-message inner join dropped, O6 semantics preserved).
    return df.join(F.broadcast(routed_keys), [topic_col, db_col, table_col], "inner")


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
