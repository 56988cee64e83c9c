"""DuckDB oracle SQL builders — the differential-testing twin of every
operator in the engine.

Each builder returns ANSI-ish SQL that DuckDB runs over the driver's
pre-registered parquet views, reproducing the Spark query's semantics
(and, for floating point, its exact fold order — see functions.vectors).
The driver compares row count + schema + order-insensitive value hash
at sf0.01; tests/test_oracle_parity.py runs the same comparison over
every query (at sf0.001 by default).
"""

from __future__ import annotations

from flink_kafka_filter_transform_spark.functions.hashing import (
    portable_hash64_second_sql,
    portable_hash64_sql,
)
from flink_kafka_filter_transform_spark.functions.vectors import cosine_sql
from flink_kafka_filter_transform_spark.operators import params
from flink_kafka_filter_transform_spark.sources.cdc_fixture import RULES, cdc_sql

# ---------------------------------------------------------------------------
# CDC parity oracles
# ---------------------------------------------------------------------------

# JSON-parse twin of operators.cdc.parse_envelope: DuckDB raises on
# invalid JSON, so guard with json_valid (Spark's from_json is
# null-on-malformed by construction).
_PARSED_CTE = """
parsed AS (
  SELECT
    msg_id, topic, key, value, ts,
    CASE WHEN value IS NOT NULL AND json_valid(value)
         THEN json_extract_string(value, '$.op') END AS op,
    CASE WHEN value IS NOT NULL AND json_valid(value)
         THEN json_extract_string(value, '$.source.db') END AS db,
    CASE WHEN value IS NOT NULL AND json_valid(value)
         THEN json_extract_string(value, '$.source.table') END AS table_name
  FROM cdc
)
"""


def _with_cdc(body: str) -> str:
    return f"WITH cdc AS ({cdc_sql('duckdb')}),\n{_PARSED_CTE}\n{body}"


def route_case_sql() -> str:
    """First-match-wins routing as an ordered CASE (DuckDB dialect)."""
    whens = "\n    ".join(
        f"WHEN topic = '{r['source_topic']}' AND db = '{r['db']}' "
        f"AND regexp_matches(table_name, '{r['table_pattern']}') THEN '{r['target_topic']}'"
        for r in sorted(RULES, key=lambda r: (r["priority"], r["target_topic"]))
    )
    return f"CASE\n    {whens}\n  END"


def cdc_parse_oracle() -> str:
    return _with_cdc(
        "SELECT msg_id, op, db, table_name, op IS NOT NULL AS parse_ok FROM parsed"
    )


def cdc_filter_deletes_oracle() -> str:
    return _with_cdc(
        "SELECT msg_id, topic, key, op, db, table_name FROM parsed "
        "WHERE op IS NOT NULL AND op <> 'd'"
    )


def cdc_route_oracle() -> str:
    return _with_cdc(
        f"""
SELECT msg_id, topic, db, table_name, op, target_topic FROM (
  SELECT *, {route_case_sql()} AS target_topic
  FROM parsed WHERE op IS NOT NULL AND op <> 'd'
) routed WHERE target_topic IS NOT NULL
"""
    )


def cdc_materialize_oracle() -> str:
    """Changelog-compaction twin. Independent formulation: window
    row_number (rank every change, keep rn=1) vs the engine's grouped
    max_by — same semantics, different algorithm, stronger differential."""
    return _with_cdc(
        """
SELECT db, table_name, key, op, last_ts_us, msg_id, value FROM (
  SELECT db, table_name, key, op, epoch_us(ts) AS last_ts_us, msg_id, value,
         row_number() OVER (
           PARTITION BY db, table_name, key ORDER BY ts DESC, msg_id DESC
         ) AS rn
  FROM parsed WHERE op IS NOT NULL
) ranked WHERE rn = 1 AND op <> 'd'
"""
    )


def cdc_counts_inbound_oracle() -> str:
    return _with_cdc(
        "SELECT topic, db, table_name, op, count(*) AS cnt FROM parsed "
        "GROUP BY topic, db, table_name, op"
    )


def cdc_counts_outbound_oracle() -> str:
    return _with_cdc(
        f"""
SELECT target_topic, op, count(*) AS cnt FROM (
  SELECT *, {route_case_sql()} AS target_topic
  FROM parsed WHERE op IS NOT NULL AND op <> 'd'
) routed WHERE target_topic IS NOT NULL
GROUP BY target_topic, op
"""
    )


def cdc_outgoing_oracle() -> str:
    """O7 passthrough: outgoing (topic, key, value) — payload verbatim."""
    return _with_cdc(
        f"""
SELECT target_topic AS topic, key, value FROM (
  SELECT *, {route_case_sql()} AS target_topic
  FROM parsed WHERE op IS NOT NULL AND op <> 'd'
) routed WHERE target_topic IS NOT NULL
"""
    )


# ---------------------------------------------------------------------------
# Text-analysis oracles (operators.text)
# ---------------------------------------------------------------------------

_TOKS_CTE = r"toks AS (SELECT doc_id, lang, regexp_extract_all(text, '[^\s]+') AS t FROM documents)"


def _sql_list(items) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


def text_stats_oracle() -> str:
    stop = _sql_list(params.STOPWORDS)
    return f"""
WITH {_TOKS_CTE},
comp AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
    CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS DOUBLE)
      / len(t) AS avg_token_len,
    CAST(len(list_filter(t, x -> list_contains({stop}, x))) AS DOUBLE) / len(t) AS stopword_ratio,
    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS diversity
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, n_tokens, n_distinct_tokens, avg_token_len, stopword_ratio,
  0.25 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
  + 0.25 * diversity
  + 0.25 * (1.0 - stopword_ratio)
  + 0.25 * least(avg_token_len / 8.0, 1.0) AS quality_score
FROM comp
"""


def contamination_check_oracle(n: int = 3, eval_mod: int = 50) -> str:
    """Decontamination twin: IN-subquery membership instead of the
    engine's broadcast left join — independent formulation."""
    gh = portable_hash64_sql("gram")
    return f"""
WITH {_TOKS_CTE},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, len(t) - {n} + 1),
                                 i -> array_to_string(t[i:i + {n} - 1], ' '))) AS grams
  FROM toks WHERE len(t) >= {n}
),
eval_g AS (
  SELECT DISTINCT {gh} AS gh
  FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % {eval_mod} = 0)
),
train AS (
  SELECT doc_id, {gh} AS gh
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {eval_mod} <> 0)
)
SELECT doc_id,
  count(*) AS n_grams,
  CAST(sum(CASE WHEN gh IN (SELECT gh FROM eval_g) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contaminated,
  CAST(sum(CASE WHEN gh IN (SELECT gh FROM eval_g) THEN 1 ELSE 0 END) AS DOUBLE)
    / count(*) AS contamination_ratio
FROM train GROUP BY doc_id
"""


def bloom_contamination_oracle(n: int = 3, eval_mod: int = 50) -> str:
    """Bloom membership twin: identical double-hash bit positions
    ((h1 + j*h2) mod REGS*REG_BITS), identical bit_or register build,
    relational joins instead of broadcasts."""
    from flink_kafka_filter_transform_spark.operators import params

    gh1 = portable_hash64_sql("gram")
    gh2 = portable_hash64_second_sql("gram")
    m = params.BLOOM_REGS * params.BLOOM_REG_BITS
    rb = params.BLOOM_REG_BITS
    probes = ", ".join(str(j) for j in range(1, params.BLOOM_K + 1))
    in_bloom = " AND ".join(
        f"(COALESCE(b{j}.bits, 0) & (CAST(1 AS BIGINT) << CAST(((t.gh + {j} * t.h2) % {m}) % {rb} AS INT))) <> 0"
        for j in range(1, params.BLOOM_K + 1)
    )
    joins = "\n  ".join(
        f"LEFT JOIN bloom b{j} ON b{j}.reg = ((t.gh + {j} * t.h2) % {m}) // {rb}"
        for j in range(1, params.BLOOM_K + 1)
    )
    return f"""
WITH {_TOKS_CTE},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, len(t) - {n} + 1),
                                 i -> array_to_string(t[i:i + {n} - 1], ' '))) AS grams
  FROM toks WHERE len(t) >= {n}
),
eval_g AS (
  SELECT DISTINCT {gh1} AS h1, {gh2} AS h2
  FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % {eval_mod} = 0)
),
bloom AS (
  SELECT p // {rb} AS reg,
         bit_or(CAST(1 AS BIGINT) << CAST(p % {rb} AS INT)) AS bits
  FROM (SELECT (h1 + j * h2) % {m} AS p
        FROM eval_g, unnest([{probes}]) AS u(j))
  GROUP BY 1
),
train AS (
  SELECT doc_id, {gh1} AS gh, {gh2} AS h2
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {eval_mod} <> 0)
),
probe AS (
  SELECT t.doc_id, t.gh,
    ({in_bloom}) AS in_bloom
  FROM train t
  {joins}
)
SELECT doc_id,
  count(*) AS n_grams,
  CAST(sum(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
  CAST(sum(CASE WHEN gh IN (SELECT h1 FROM eval_g) THEN 1 ELSE 0 END) AS BIGINT)
    AS true_hits,
  CAST(sum(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS BIGINT)
    - CAST(sum(CASE WHEN gh IN (SELECT h1 FROM eval_g) THEN 1 ELSE 0 END) AS BIGINT)
    AS false_positives
FROM probe GROUP BY doc_id
"""


def crossdoc_ngram_overlap_oracle(n: int = 4) -> str:
    """Cross-document repeated n-gram fraction: same 60-bit gram
    hashes, per-gram doc counts via a plain GROUP BY instead of the
    engine's exchange-reusing join."""
    gh = portable_hash64_sql("gram")
    return f"""
WITH {_TOKS_CTE},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, len(t) - {n} + 1),
                                 i -> array_to_string(t[i:i + {n} - 1], ' '))) AS grams
  FROM toks WHERE len(t) >= {n}
),
e AS (SELECT doc_id, {gh} AS gh FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
c AS (SELECT gh, count(*) AS ndocs FROM e GROUP BY gh)
SELECT doc_id,
  count(*) AS n_grams,
  CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS shared_fraction
FROM e JOIN c USING (gh)
GROUP BY doc_id
"""


def gram_novelty_profile_oracle(n: int = 4) -> str:
    """First-occurrence novelty twin: same 60-bit gram hashes and
    distinct-gram semantics as the crossdoc oracle, but the SAME
    rollup shape as the engine — per-gram ``min(doc_id)``, then a
    per-doc count of the grams it was first to contribute (so a
    60-bit collision merges into one novelty unit on both engines),
    left-joined to the per-doc distinct-gram counts."""
    gh = portable_hash64_sql("gram")
    return f"""
WITH {_TOKS_CTE},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, len(t) - {n} + 1),
                                 i -> array_to_string(t[i:i + {n} - 1], ' '))) AS grams
  FROM toks WHERE len(t) >= {n}
),
e AS (SELECT doc_id, {gh} AS gh FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
nov AS (
  SELECT doc_id, count(*) AS n_novel
  FROM (SELECT gh, min(doc_id) AS doc_id FROM e GROUP BY gh)
  GROUP BY doc_id
),
ng AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM g)
SELECT ng.doc_id, ng.n_grams,
  CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
  CAST(COALESCE(nov.n_novel, 0) AS DOUBLE) / ng.n_grams AS novelty_fraction
FROM ng LEFT JOIN nov USING (doc_id)
"""


def source_overlap_matrix_oracle(n: int = 4) -> str:
    """Source-pair containment twin: same 60-bit gram hashes; the
    ordered-pair cells come from a DISTINCT (source, gh) self-join on
    gh (relational mirror of the engine's collect_set expansion),
    diagonal cells are |A|."""
    gh = portable_hash64_sql("gram")
    return f"""
WITH src_toks AS (
  SELECT source, regexp_extract_all(text, '[^\\s]+') AS t FROM documents
),
g AS (
  SELECT source,
    list_distinct(list_transform(generate_series(1, len(t) - {n} + 1),
                                 i -> array_to_string(t[i:i + {n} - 1], ' '))) AS grams
  FROM src_toks WHERE len(t) >= {n}
),
e AS (
  SELECT DISTINCT source, {gh} AS gh
  FROM (SELECT source, unnest(grams) AS gram FROM g)
),
cells AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM e a JOIN e b USING (gh) GROUP BY 1, 2
),
diag AS (SELECT src_a, n_shared AS n_a FROM cells WHERE src_a = src_b)
SELECT c.src_a, c.src_b, c.n_shared, d.n_a,
  CAST(c.n_shared AS DOUBLE) / d.n_a AS containment
FROM cells c JOIN diag d USING (src_a)
"""


def token_frequency_score_oracle(rare_max_count: int = 2) -> str:
    """Rare-token-density twin: integer sums until one final double
    division — bit-exact, no transcendentals, no decimal round-trip
    (see operator docstring)."""
    return f"""
WITH {_TOKS_CTE},
e AS (SELECT doc_id, unnest(t) AS tok FROM toks),
v AS (SELECT tok, count(*) AS c FROM e GROUP BY tok),
tot AS (SELECT sum(c) AS total FROM v)
SELECT doc_id,
  count(*) AS n_tokens,
  CAST(sum(c) AS DOUBLE) / CAST(total * count(*) AS DOUBLE) AS mean_token_prob,
  CAST(sum(CASE WHEN c <= {rare_max_count} THEN 1 ELSE 0 END) AS DOUBLE)
    / count(*) AS rare_token_frac
FROM e JOIN v USING (tok) CROSS JOIN tot
GROUP BY doc_id, total
"""


def token_pack_report_oracle(window: int = 512) -> str:
    """Per-source sequence packing: same deterministic (hash, doc_id)
    order, cumulative token counts via a SQL window."""
    h = portable_hash64_sql("text")
    return f"""
WITH base AS (
  SELECT source, doc_id,
    len(regexp_extract_all(text, '[^\\s]+')) AS n,
    {h} AS h
  FROM documents
  WHERE len(regexp_extract_all(text, '[^\\s]+')) > 0
),
packed AS (
  SELECT source, n,
    CAST(floor(CAST(SUM(n) OVER (PARTITION BY source ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                    AS DOUBLE) / {window}) AS BIGINT) AS pack_id
  FROM base
)
SELECT source, pack_id,
  count(*) AS n_docs_started,
  CAST(sum(n) AS BIGINT) AS n_tokens
FROM packed GROUP BY source, pack_id
"""


def source_vocab_divergence_oracle() -> str:
    """Chi-square vocabulary drift twin: expected counts as exact
    double ratios, per-source sum folded as DECIMAL."""
    return f"""
WITH e AS (
  SELECT d.source, unnest(regexp_extract_all(d.text, '[^\\s]+')) AS tok
  FROM documents d
),
st AS (SELECT source, tok, count(*) AS obs FROM e GROUP BY source, tok),
tt AS (SELECT tok, sum(obs) AS c_tok FROM st GROUP BY tok),
stot AS (SELECT source, sum(obs) AS total_s FROM st GROUP BY source),
g AS (SELECT sum(c_tok) AS total FROM tt)
SELECT source,
  CAST(max(total_s) AS BIGINT) AS n_tokens,
  CAST(sum(CAST(
    (CAST(obs AS DOUBLE) - CAST(total_s AS DOUBLE) * CAST(c_tok AS DOUBLE) / CAST(total AS DOUBLE))
    * (CAST(obs AS DOUBLE) - CAST(total_s AS DOUBLE) * CAST(c_tok AS DOUBLE) / CAST(total AS DOUBLE))
    / (CAST(total_s AS DOUBLE) * CAST(c_tok AS DOUBLE) / CAST(total AS DOUBLE))
    AS DECIMAL(38,18))) AS DOUBLE) AS chi2
FROM st JOIN tt USING (tok) JOIN stot USING (source) CROSS JOIN g
GROUP BY source
"""


def daily_reconciliation_oracle() -> str:
    """Two-ledger FULL OUTER twin over day-level pre-aggregations."""
    return """
WITH o AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
    count(*) AS n_orders,
    CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_order_value
  FROM orders GROUP BY 1
),
l AS (
  SELECT strftime(l_shipdate, '%Y-%m-%d') AS day, count(*) AS n_shipped
  FROM lineitem GROUP BY 1
)
SELECT coalesce(o.day, l.day) AS day,
  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
  coalesce(sum_order_value, 0.0) AS sum_order_value,
  CAST(coalesce(n_shipped, 0) AS BIGINT) AS n_shipped,
  CASE WHEN n_orders IS NULL THEN 'shipments_only'
       WHEN n_shipped IS NULL THEN 'orders_only'
       ELSE 'both' END AS side
FROM o FULL OUTER JOIN l ON o.day = l.day
"""


def value_outliers_by_type_oracle(z: float = 3.0) -> str:
    """z-score outlier twin: identical decimal folds and fixed-order
    double arithmetic (sqrt is correctly rounded per IEEE — safe)."""
    return f"""
WITH stats AS (
  SELECT event_type,
    count(*) AS n_events,
    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_value,
    CAST(sum(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS ex2
  FROM events GROUP BY event_type
),
s2 AS (
  SELECT event_type, n_events, mean_value,
    sqrt(greatest(ex2 - mean_value * mean_value, 0.0)) AS std_value
  FROM stats
),
flagged AS (
  SELECT e.event_type, count(*) AS n_outliers
  FROM events e JOIN s2 ON e.event_type = s2.event_type
  WHERE abs(e.value - s2.mean_value) > {z} * s2.std_value
  GROUP BY e.event_type
)
SELECT s2.event_type, n_events, mean_value, std_value,
  CAST(coalesce(n_outliers, 0) AS BIGINT) AS n_outliers
FROM s2 LEFT JOIN flagged ON s2.event_type = flagged.event_type
"""


def daily_funnel_oracle() -> str:
    """view -> click -> purchase conversion twin (strict order on
    epoch-microseconds; same day bucketing as events_daily)."""
    return """
WITH per_user AS (
  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
    min(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
    min(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
    min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
  FROM events GROUP BY user_id, day
)
SELECT day,
  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewers,
  CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v THEN 1 ELSE 0 END) AS BIGINT) AS n_clickers,
  CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                 AND p IS NOT NULL AND p > c THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM per_user GROUP BY day
"""


def bpe_merges_oracle(steps: int = 3) -> str:
    """BPE training trace twin: the merge loop unrolled as a CTE chain
    (step i: pair counts from s{i-1}, deterministic top-1, rewrite) —
    the same discipline as _kmeans_ctes. chr(31)/chr(30) are the
    \\x1f separator and \\x1e merge marker of operators.text."""
    sep = "chr(31)"
    mrg = "chr(30)"
    parts = [
        f"""s0 AS (
  SELECT {sep} || array_to_string(regexp_extract_all(text, '[^\\s]+'), {sep}||{sep}) || {sep} AS s
  FROM documents
  WHERE len(regexp_extract_all(text, '[^\\s]+')) > 0
    AND NOT contains(text, {sep}) AND NOT contains(text, {mrg})
)"""
    ]
    for i in range(1, steps + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""p{i} AS (
  SELECT list_extract(t, i) AS a, list_extract(t, i + 1) AS b, count(*) AS n
  FROM (SELECT string_split(substr(s, 2, length(s) - 2), {sep}||{sep}) AS t FROM {prev}) x,
       unnest(generate_series(1, len(t) - 1)) AS u(i)
  GROUP BY 1, 2
)"""
        )
        parts.append(f"t{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)")
        if i < steps:
            parts.append(
                f"""s{i} AS (
  SELECT replace(s, {sep}||a||{sep}||{sep}||b||{sep}, {sep}||a||{mrg}||b||{sep}) AS s
  FROM {prev} CROSS JOIN t{i}
)"""
            )
    selects = [
        f"SELECT {i} AS step, replace(a, {mrg}, ' ') AS pair_a,"
        f" replace(b, {mrg}, ' ') AS pair_b, CAST(n AS BIGINT) AS n_occurrences FROM t{i}"
        for i in range(1, steps + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def bpe_encode_report_oracle(steps: int = 3) -> str:
    """BPE ENCODE twin: the training chain of ``bpe_merges_oracle``
    with doc_id carried through every rewrite stage, plus the final
    merge applied (encoding uses the full merge table) and per-doc
    token accounting instead of the merge trace."""
    sep = "chr(31)"
    mrg = "chr(30)"
    parts = [
        f"""s0 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT) AS n_base,
    {sep} || array_to_string(regexp_extract_all(text, '[^\\s]+'), {sep}||{sep}) || {sep} AS s
  FROM documents
  WHERE len(regexp_extract_all(text, '[^\\s]+')) > 0
    AND NOT contains(text, {sep}) AND NOT contains(text, {mrg})
)"""
    ]
    for i in range(1, steps + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""p{i} AS (
  SELECT list_extract(t, i) AS a, list_extract(t, i + 1) AS b, count(*) AS n
  FROM (SELECT string_split(substr(s, 2, length(s) - 2), {sep}||{sep}) AS t FROM {prev}) x,
       unnest(generate_series(1, len(t) - 1)) AS u(i)
  GROUP BY 1, 2
)"""
        )
        parts.append(f"t{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)")
        parts.append(
            f"""s{i} AS (
  SELECT doc_id, n_base,
    CASE WHEN t.a IS NULL THEN s
         ELSE replace(s, {sep}||t.a||{sep}||{sep}||t.b||{sep}, {sep}||t.a||{mrg}||t.b||{sep})
    END AS s
  FROM {prev} CROSS JOIN (SELECT max(a) AS a, max(b) AS b FROM t{i}) t
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, n_base AS n_tokens_base,
  CAST(len(string_split(substr(s, 2, length(s) - 2), {sep}||{sep})) AS BIGINT) AS n_tokens_bpe,
  n_base - CAST(len(string_split(substr(s, 2, length(s) - 2), {sep}||{sep})) AS BIGINT) AS n_merges_applied,
  CAST(len(string_split(substr(s, 2, length(s) - 2), {sep}||{sep})) AS DOUBLE) / n_base AS compression
FROM s{steps}
"""
    )


def adaptive_length_filter_oracle(lo_pct: int = 5, hi_pct: int = 95) -> str:
    """Adaptive length gate twin: identical integer ceiling convention
    (100*cume >= pct*n), window cumsum over the same value-count grid."""
    return f"""
WITH grid AS (
  SELECT source, n_chars, count(*) AS c
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY source, n_chars
),
cum AS (
  SELECT source, n_chars,
    sum(c) OVER (PARTITION BY source ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume
  FROM grid
),
tot AS (SELECT source, sum(c) AS n FROM grid GROUP BY source),
cuts AS (
  SELECT c.source,
    min(CASE WHEN 100 * c.cume >= {lo_pct} * t.n THEN c.n_chars END) AS cut_low,
    min(CASE WHEN 100 * c.cume >= {hi_pct} * t.n THEN c.n_chars END) AS cut_high
  FROM cum c JOIN tot t ON t.source = c.source
  GROUP BY c.source
)
SELECT d.source,
  count(*) AS n_docs,
  any_value(k.cut_low) AS cut_low,
  any_value(k.cut_high) AS cut_high,
  CAST(sum(CASE WHEN d.n_chars BETWEEN k.cut_low AND k.cut_high THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN d.n_chars < k.cut_low THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
  CAST(sum(CASE WHEN d.n_chars > k.cut_high THEN 1 ELSE 0 END) AS BIGINT) AS n_long
FROM documents d JOIN cuts k ON k.source = d.source
WHERE d.n_chars IS NOT NULL
GROUP BY d.source
"""


def bigram_lift_top_oracle(k: int = 20, min_pair: int = 5) -> str:
    """Collocation-lift twin: same exact integer counts, same double
    expression tree — every factor cast to double BEFORE multiplying
    (BIGINT products overflow int64 past ~3e9 tokens; r5 ADVICE)."""
    return f"""
WITH {_TOKS_CTE},
pairs AS (
  SELECT list_extract(t, i) || ' ' || list_extract(t, i + 1) AS gram,
         list_extract(t, i) AS a, list_extract(t, i + 1) AS b
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
pair_counts AS (
  SELECT gram, any_value(a) AS a, any_value(b) AS b, count(*) AS n_pair
  FROM pairs GROUP BY gram HAVING count(*) >= {min_pair}
),
unis AS (SELECT unnest(t) AS tok FROM toks),
uni_counts AS (SELECT tok, count(*) AS _c FROM unis GROUP BY tok),
totals AS (
  SELECT (SELECT count(*) FROM unis) AS t_total,
         (SELECT count(*) FROM pairs) AS n_total
)
SELECT p.gram, p.n_pair, ua._c AS c_a, ub._c AS c_b,
  (CAST(p.n_pair AS DOUBLE) * CAST(tt.t_total AS DOUBLE) * CAST(tt.t_total AS DOUBLE))
    / (CAST(tt.n_total AS DOUBLE) * (CAST(ua._c AS DOUBLE) * CAST(ub._c AS DOUBLE))) AS lift
FROM pair_counts p
JOIN uni_counts ua ON ua.tok = p.a
JOIN uni_counts ub ON ub.tok = p.b
CROSS JOIN totals tt
ORDER BY lift DESC, p.gram ASC
LIMIT {k}
"""


def quality_classifier_score_oracle() -> str:
    """Hashed-linear-classifier twin: same md5 feature hash, same
    integer weight range, list_transform+list_sum instead of the
    engine's in-row fold."""
    w = "(" + portable_hash64_sql("x") + " % 2001) - 1000"
    return f"""
WITH {_TOKS_CTE},
scored AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CAST(list_sum(list_transform(t, x -> {w})) AS BIGINT) AS score_raw
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, n_tokens, score_raw,
  CAST(score_raw AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE) AS score,
  score_raw >= 0 AS keep
FROM scored
"""


def repetition_ratios_oracle() -> str:
    def grams(n: int) -> str:
        return (
            f"list_transform(generate_series(1, len(t) - {n} + 1), "
            f"i -> array_to_string(t[i:i + {n} - 1], ' '))"
        )

    def dup_ratio(n: int) -> str:
        g = grams(n)
        return (
            f"CASE WHEN len(t) >= {n} THEN "
            f"1.0 - CAST(len(list_distinct({g})) AS DOUBLE) / len({g}) END"
        )

    counts = "list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))"
    return f"""
WITH {_TOKS_CTE}
SELECT doc_id,
  CAST(len(t) AS BIGINT) AS n_tokens,
  {dup_ratio(2)} AS dup_2gram_ratio,
  {dup_ratio(3)} AS dup_3gram_ratio,
  CAST(list_reduce(list_prepend(0, {counts}), (a, b) -> greatest(a, b)) AS DOUBLE)
    / len(t) AS top_token_ratio
FROM toks WHERE len(t) > 0
"""


def pii_redact_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.text import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )

    return f"""
WITH aug AS (
  SELECT doc_id,
    text || ' Contact: user' || CAST(doc_id AS VARCHAR)
         || '@example.com phone 555-01' || CAST(doc_id % 90 + 10 AS VARCHAR)
         || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
  FROM documents
),
red AS (
  SELECT doc_id, t,
    regexp_replace(
      regexp_replace(
        regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
        '{PII_IPV4}', '<IP>', 'g'),
      '{PII_PHONE}', '<PHONE>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips,
  substr(redacted, greatest(1, length(redacted) - 79), 80) AS redacted_tail
FROM red
"""


def quality_filter_funnel_oracle() -> str:
    stop = _sql_list(params.STOPWORDS)
    bigrams = (
        "list_transform(generate_series(1, len(t) - 1), "
        "i -> array_to_string(t[i:i + 1], ' '))"
    )
    counts = "list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))"
    return f"""
WITH {_TOKS_CTE},
f AS (
  SELECT doc_id,
    len(t) AS n,
    CAST(0.25 AS DOUBLE) * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
      + CAST(0.25 AS DOUBLE) * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
      + CAST(0.25 AS DOUBLE) * (1.0 - CAST(len(list_filter(t, x -> list_contains({stop}, x))) AS DOUBLE) / len(t))
      + CAST(0.25 AS DOUBLE) * least(
          (CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS DOUBLE) / len(t)) / 8.0,
          1.0) AS quality,
    CASE WHEN len(t) >= 2
         THEN 1.0 - CAST(len(list_distinct({bigrams})) AS DOUBLE) / len({bigrams}) END AS dup2,
    CAST(list_reduce(list_prepend(0, {counts}), (a, b) -> greatest(a, b)) AS DOUBLE)
      / len(t) AS top_ratio
  FROM toks WHERE len(t) > 0
),
flags AS (
  SELECT
    n >= 20 AS c1,
    (n >= 20) AND quality >= CAST(0.62 AS DOUBLE) AS c2,
    (n >= 20) AND quality >= CAST(0.62 AS DOUBLE)
      AND coalesce(dup2 < CAST(0.05 AS DOUBLE), false) AS c3,
    (n >= 20) AND quality >= CAST(0.62 AS DOUBLE)
      AND coalesce(dup2 < CAST(0.05 AS DOUBLE), false)
      AND top_ratio <= CAST(0.12 AS DOUBLE) AS c4
  FROM f
),
c AS (
  SELECT count(*) AS n0,
    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT 0 AS stage_no, 'all' AS stage, n0 AS n_pass FROM c
UNION ALL SELECT 1, 'min_tokens', n1 FROM c
UNION ALL SELECT 2, 'quality', n2 FROM c
UNION ALL SELECT 3, 'repetition', n3 FROM c
UNION ALL SELECT 4, 'top_token', n4 FROM c
"""


def source_quality_matrix_oracle() -> str:
    """Per-source funnel+classifier twin: the funnel oracle's flag SQL
    with source carried through, plus the classifier's integer weight
    sum, grouped by source."""
    stop = _sql_list(params.STOPWORDS)
    bigrams = (
        "list_transform(generate_series(1, len(t) - 1), "
        "i -> array_to_string(t[i:i + 1], ' '))"
    )
    counts = "list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))"
    w = "(" + portable_hash64_sql("x") + " % 2001) - 1000"
    return f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(text, '[^\\s]+') AS t FROM documents
),
f AS (
  SELECT source,
    len(t) AS n,
    CAST(0.25 AS DOUBLE) * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
      + CAST(0.25 AS DOUBLE) * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
      + CAST(0.25 AS DOUBLE) * (1.0 - CAST(len(list_filter(t, x -> list_contains({stop}, x))) AS DOUBLE) / len(t))
      + CAST(0.25 AS DOUBLE) * least(
          (CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS DOUBLE) / len(t)) / 8.0,
          1.0) AS quality,
    CASE WHEN len(t) >= 2
         THEN 1.0 - CAST(len(list_distinct({bigrams})) AS DOUBLE) / len({bigrams}) END AS dup2,
    CAST(list_reduce(list_prepend(0, {counts}), (a, b) -> greatest(a, b)) AS DOUBLE)
      / len(t) AS top_ratio,
    CAST(list_sum(list_transform(t, x -> {w})) AS BIGINT) AS raw
  FROM toks WHERE len(t) > 0
),
flags AS (
  SELECT source, raw, CAST(n AS BIGINT) AS nt,
    n >= 20 AS c1,
    (n >= 20) AND quality >= CAST(0.62 AS DOUBLE) AS c2,
    (n >= 20) AND quality >= CAST(0.62 AS DOUBLE)
      AND coalesce(dup2 < CAST(0.05 AS DOUBLE), false) AS c3,
    (n >= 20) AND quality >= CAST(0.62 AS DOUBLE)
      AND coalesce(dup2 < CAST(0.05 AS DOUBLE), false)
      AND top_ratio <= CAST(0.12 AS DOUBLE) AS c4
  FROM f
)
SELECT source,
  count(*) AS n_docs,
  CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_min_tokens,
  CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition,
  CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_top_token,
  CAST(sum(raw) AS BIGINT) AS sum_score_raw,
  CAST(sum(nt) AS BIGINT) AS sum_tokens,
  CAST(sum(raw) AS DOUBLE) / CAST(sum(nt) * 1000 AS DOUBLE) AS mean_token_weight
FROM flags GROUP BY source
"""


def mixture_sample_summary_oracle(target_frac: float = 0.3) -> str:
    from flink_kafka_filter_transform_spark.functions.hashing import portable_hash64_sql

    b = f"{portable_hash64_sql('CAST(doc_id AS VARCHAR)')} % 1000"
    return f"""
WITH c AS (
  SELECT source, count(*) AS n_docs,
    CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0
         THEN CAST(3.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM documents GROUP BY source
),
norm AS (SELECT sum(w) AS sum_w, CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
r AS (
  SELECT source, n_docs,
    least(CAST(1000 AS BIGINT),
          CAST(floor(CAST({target_frac!r} AS DOUBLE) * CAST(n_total AS DOUBLE) * w
                     / sum_w / CAST(n_docs AS DOUBLE) * CAST(1000.0 AS DOUBLE)) AS BIGINT)
    ) AS thr
  FROM c, norm
),
s AS (
  SELECT d.source, count(*) AS n_picked
  FROM documents d JOIN r ON d.source = r.source
  WHERE {b} < r.thr
  GROUP BY d.source
)
SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(s.n_picked, 0) AS BIGINT) AS n_sampled
FROM r LEFT JOIN s ON r.source = s.source
"""


def lang_id_oracle() -> str:
    scores = ",\n    ".join(
        f"CAST(len(list_filter(t, x -> list_contains({_sql_list(m)}, x))) AS BIGINT) AS score_{lang}"
        for lang, m in params.LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in params.LANG_ORDER) + ")"
    whens = "\n    ".join(
        f"WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}'" for lang in params.LANG_ORDER
    )
    score_cols = ", ".join(f"score_{lang}" for lang in params.LANG_ORDER)
    return f"""
WITH {_TOKS_CTE},
scored AS (SELECT doc_id, lang, {scores} FROM toks)
SELECT doc_id, lang,
  CASE {whens} ELSE 'unknown' END AS pred_lang,
  {score_cols}
FROM scored
"""


def token_counts_oracle() -> str:
    return rf"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{params.TOKEN_PATTERN}')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{params.BPE_PATTERN}')) AS BIGINT) AS n_bpe_pieces,
  CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
"""


def doc_fingerprint_oracle() -> str:
    h = portable_hash64_sql("x")
    return f"""
WITH {_TOKS_CTE}
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> {h} % {params.FP_TOKEN_MOD})),
    (acc, v) -> (acc * {params.FP_BASE} + v) % {params.FP_MOD}) AS fingerprint
FROM toks
"""


# ---------------------------------------------------------------------------
# Dedup oracles (operators.dedup)
# ---------------------------------------------------------------------------


def exact_dedup_oracle() -> str:
    h = portable_hash64_sql("text")
    return f"""
SELECT {h} AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def _minhash_sig_ctes() -> str:
    from flink_kafka_filter_transform_spark.functions.hashing import (
        MERSENNE_61,
        portable_hash64_second_sql,
    )

    k = params.SHINGLE_SIZE
    shingle_expr = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    h1, h2 = portable_hash64_sql("s"), portable_hash64_second_sql("s")
    mh_cols = ",\n    ".join(
        f"list_min(list_transform(hp, x -> (x.h1 + {j} * x.h2) % {MERSENNE_61})) AS mh{j}"
        for j in range(params.MINHASH_K)
    )
    return f"""
{_TOKS_CTE},
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, len(t) - {k - 1}),
      i -> {shingle_expr})) AS shingles
  FROM toks WHERE len(t) >= {k}
),
hpair AS (
  SELECT doc_id, shingles,
    list_transform(shingles, s -> {{'h1': {h1}, 'h2': {h2}}}) AS hp
  FROM sh
),
sig AS (
  SELECT doc_id, shingles,
    {mh_cols}
  FROM hpair
)"""


def minhash_lsh_pairs_oracle() -> str:
    rows = params.MINHASH_K // params.MINHASH_BANDS
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
            ),
        )
        for b in range(params.MINHASH_BANDS)
    )
    return f"""
WITH {_minhash_sig_ctes()},
bands AS (
  {band_selects}
),
capped AS (
  SELECT doc_id, band_idx, band_key FROM (
    SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS n FROM bands
  ) b WHERE n <= {params.LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
    CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(s1.shingles, s2.shingles))) AS jaccard
  FROM cand
  JOIN sig s1 ON cand.doc_a = s1.doc_id
  JOIN sig s2 ON cand.doc_b = s2.doc_id
) j WHERE jaccard >= {params.JACCARD_THRESHOLD}
"""


def simhash_pairs_oracle() -> str:
    h = portable_hash64_sql("tok")
    weights = ",\n    ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(params.SIMHASH_BITS)
    )
    build = "\n    + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(params.SIMHASH_BITS)
    )
    cb = params.SIMHASH_CHUNK_BITS
    mask = (1 << cb) - 1
    chunk_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS ci, (simhash >> {cb * c}) & {mask} AS ck FROM sh"
        for c in range(params.SIMHASH_CHUNKS)
    )
    return f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks),
hv AS (SELECT doc_id, {h} AS hv FROM ex),
bits AS (
  SELECT doc_id,
    {weights}
  FROM hv GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
    {build} AS simhash
  FROM bits
),
chunks AS (
  {chunk_selects}
),
capped AS (
  SELECT doc_id, simhash, ci, ck FROM (
    SELECT doc_id, simhash, ci, ck, COUNT(*) OVER (PARTITION BY ci, ck) AS _n
    FROM chunks
  ) c WHERE _n <= {params.SIMHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a, b.doc_id AS doc_b, b.simhash AS sh_b
  FROM capped a JOIN capped b
    ON a.ci = b.ci AND a.ck = b.ck AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming FROM cand
) h WHERE hamming <= {params.SIMHASH_MAX_HAMMING}
"""


def embedding_neardup_oracle() -> str:
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
SELECT vec_a, vec_b, label, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
    {cos} AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
) p WHERE cos_sim >= {params.EMB_NEARDUP_THRESHOLD}
"""


def embedding_neardup_refined_oracle(
    n_cells: int | None = None, iters: int = 2, seeding: str = "first"
) -> str:
    """Quantizer-refined near-dup: the unrolled-CTE k-means codebook
    (identical trajectory to operators.kmeans, optional farthest-point
    seeding) assigns subcells; pairs must share (label, subcell)
    before the exact cosine verify. ``n_cells=None`` (first-k only)
    derives k from count(*) — operators.dedup.adaptive_n_cells'
    formula in SQL."""
    # since r6 BOTH seedings derive adaptive k in SQL when n_cells is
    # None (the farthest unroll is capped at FPS_SEED_CAP, see
    # _kmeans_ctes)
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
{_kmeans_ctes(n_cells, iters, seeding)}
SELECT vec_a, vec_b, label, cell, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
    ma.cid AS cell, {cos} AS cos_sim
  FROM embeddings a
  JOIN afinal ma ON a.vec_id = ma.vec_id
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN afinal mb ON b.vec_id = mb.vec_id AND mb.cid = ma.cid
) p WHERE cos_sim >= {params.EMB_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Similarity-search oracles (operators.similarity)
# ---------------------------------------------------------------------------


def knn_brute_oracle(k: int = params.KNN_K) -> str:
    cos = cosine_sql("e.embedding", "q.q_vec")
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {params.KNN_NUM_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id, {cos} AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Multimodal oracle (operators.multimodal — byte-level feature twin)
# ---------------------------------------------------------------------------


def multimodal_features_oracle() -> str:
    return f"""
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  md5(text) AS content_md5,
  CAST(ascii(text) AS INTEGER) AS first_byte,
  CAST(octet_length(encode(text)) // {params.FRAME_BYTES} + 1 AS BIGINT) AS n_frames
FROM documents
"""


# ---------------------------------------------------------------------------
# Relational oracles (operators.relational)
# ---------------------------------------------------------------------------

_DSUM = "CAST(sum(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"


def _dsum_sql(expr: str) -> str:
    return _DSUM.format(expr=expr)


def q1_pricing_summary_oracle() -> str:
    disc = "l_extendedprice * (1.0 - l_discount)"
    charge = "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"
    return f"""
SELECT l_returnflag, l_linestatus,
  {_dsum_sql('l_quantity')} AS sum_qty,
  {_dsum_sql('l_extendedprice')} AS sum_base_price,
  {_dsum_sql(disc)} AS sum_disc_price,
  {_dsum_sql(charge)} AS sum_charge,
  {_dsum_sql('l_quantity')} / count(*) AS avg_qty,
  {_dsum_sql('l_extendedprice')} / count(*) AS avg_price,
  {_dsum_sql('l_discount')} / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def bucketed_join_revenue_oracle() -> str:
    """Layout-invariant twin of the bucketed co-located join: values
    cannot depend on the storage layout, so the oracle is the plain
    relational join + rollup — what bucketing changes is only the
    engine's PLAN (zero exchanges under the join, asserted by the
    plan gate)."""
    return f"""
SELECT o_orderpriority,
  count(DISTINCT o_orderkey) AS n_orders,
  count(*) AS n_items,
  {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


def q3_shipping_priority_oracle() -> str:
    return f"""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume_oracle() -> str:
    return f"""
SELECT n_name, {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def top_customers_per_segment_oracle() -> str:
    return """
SELECT c_mktsegment, rank, c_custkey, c_name, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rank
  FROM customer
) r WHERE rank <= 3
"""


def events_daily_oracle() -> str:
    return f"""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, event_type,
  count(*) AS n_events,
  {_dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, event_type
"""


def partitioned_daily_revenue_oracle(day: str = "2024-01-15") -> str:
    """Layout-invariant twin of the date-partitioned one-day rollup:
    the oracle filters the raw table by formatted day — partitioning
    changes the engine's I/O (PartitionFilters, 1 of 30 directories),
    never the values."""
    return f"""
SELECT event_type, count(*) AS n_events,
  {_dsum_sql('value')} AS sum_value
FROM events
WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '{day}'
GROUP BY event_type
"""


def events_props_extract_oracle() -> str:
    return f"""
SELECT event_type, k_bucket, count(*) AS n,
  {_dsum_sql('value')} / count(*) AS avg_value
FROM (
  SELECT event_type, value,
    CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10 AS INTEGER) AS k_bucket
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
) e
GROUP BY event_type, k_bucket
"""


def order_priority_stats_oracle() -> str:
    return f"""
SELECT o_orderpriority,
  count(*) AS n_orders,
  count(DISTINCT o_custkey) AS n_customers,
  {_dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
GROUP BY o_orderpriority
"""


def ngram_jaccard_pairs_oracle(n: int = 4, threshold: float = 0.5) -> str:
    """r8: candidates come from the SAME banded-LSH chain as
    minhash_lsh_pairs (the operator switched from single-component mh0
    blocking to lsh_candidates); verification is exact char-n-gram
    Jaccard. The operator's length-bound prune is lossless, so the
    oracle does not mirror it."""
    rows = params.MINHASH_K // params.MINHASH_BANDS
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
            ),
        )
        for b in range(params.MINHASH_BANDS)
    )
    return f"""
WITH {_minhash_sig_ctes()},
bands AS (
  {band_selects}
),
capped AS (
  SELECT doc_id, band_idx, band_key FROM (
    SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS cnt FROM bands
  ) b WHERE cnt <= {params.LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
grams AS (
  SELECT doc_id,
    list_distinct(list_transform(generate_series(1, length(text) - {n - 1}),
      i -> substr(text, i, {n}))) AS g
  FROM documents WHERE length(text) >= {n}
)
SELECT doc_a, doc_b, jaccard_ngram FROM (
  SELECT doc_a, doc_b,
    CAST(len(list_intersect(g1.g, g2.g)) AS DOUBLE)
      / len(list_distinct(list_concat(g1.g, g2.g))) AS jaccard_ngram
  FROM cand
  JOIN grams g1 ON cand.doc_a = g1.doc_id
  JOIN grams g2 ON cand.doc_b = g2.doc_id
) j WHERE jaccard_ngram >= {threshold}
"""


def containment_pairs_oracle() -> str:
    """Brute-force twin of operators.dedup.containment_pairs: the
    operator's prefix filter, size bound, and positional bound are
    LOSSLESS (integer pigeonhole — see the operator docstring), so the
    oracle enumerates ALL ordered pairs over the same 64-bit-hashed
    word-3-shingle sets (identical hash, so the differential stays
    exact even at a collision) and applies only the final integer
    threshold n_common*DEN >= n_a*NUM. Any divergence therefore
    convicts the pruning chain, not the oracle."""
    k = params.SHINGLE_SIZE
    num, den = params.CONTAINMENT_NUM, params.CONTAINMENT_DEN
    shingle_expr = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    h = portable_hash64_sql("s")
    return f"""
WITH {_TOKS_CTE},
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      list_distinct(list_transform(generate_series(1, len(t) - {k - 1}),
        i -> {shingle_expr})),
      s -> {h})) AS hl
  FROM toks WHERE len(t) >= {k}
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(a.hl) AS n_a,
         len(list_intersect(a.hl, b.hl)) AS n_common
  FROM sh a JOIN sh b ON a.doc_id != b.doc_id
)
SELECT doc_a, doc_b, n_a, n_common,
       CAST(n_common AS DOUBLE) / n_a AS containment
FROM p WHERE n_common * {den} >= n_a * {num}
"""


def split_leakage_report_oracle() -> str:
    """Twin of operators.sampling.split_leakage_report: the same split
    CASE as documents_split_summary_oracle, the same pair relation as
    minhash_lsh_pairs_oracle, the same recursive-CTE components as
    neardup_clusters_oracle, then the per-split doc/moved/leaked
    aggregations (a leaked pair counts once under EACH of its two
    splits — the operator's documented grain)."""
    from flink_kafka_filter_transform_spark.operators.sampling import BUCKETS

    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)")
    test_hi = 10 * BUCKETS // 100
    val_hi = test_hi + 10 * BUCKETS // 100
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p),
sp AS (
  SELECT doc_id,
    CASE WHEN {h} % {BUCKETS} < {test_hi} THEN 'test'
         WHEN {h} % {BUCKETS} < {val_hi} THEN 'val'
         ELSE 'train' END AS split_naive
  FROM documents
),
verts AS (SELECT DISTINCT doc_id FROM documents),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
r(doc, root) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.b, r.root FROM r JOIN e ON e.a = r.doc
),
comp AS (SELECT doc, min(root) AS component FROM r GROUP BY doc),
m AS (
  SELECT comp.doc AS doc_id, s1.split_naive, s2.split_naive AS split_final
  FROM comp
  JOIN sp s1 ON s1.doc_id = comp.doc
  JOIN sp s2 ON s2.doc_id = comp.component
),
d_out AS (
  SELECT split_naive AS split, count(*) AS n_docs_naive,
         sum(CASE WHEN split_final != split_naive THEN 1 ELSE 0 END) AS n_moved_out
  FROM m GROUP BY split_naive
),
d_in AS (
  SELECT split_final AS split, count(*) AS n_docs_final,
         sum(CASE WHEN split_final != split_naive THEN 1 ELSE 0 END) AS n_moved_in
  FROM m GROUP BY split_final
),
ln AS (
  SELECT split, count(*) AS leaked_pairs_naive FROM (
    SELECT unnest([ma.split_naive, mb.split_naive]) AS split
    FROM pairs JOIN m ma ON ma.doc_id = pairs.doc_a
               JOIN m mb ON mb.doc_id = pairs.doc_b
    WHERE ma.split_naive != mb.split_naive
  ) GROUP BY split
),
lf AS (
  SELECT split, count(*) AS leaked_pairs_final FROM (
    SELECT unnest([ma.split_final, mb.split_final]) AS split
    FROM pairs JOIN m ma ON ma.doc_id = pairs.doc_a
               JOIN m mb ON mb.doc_id = pairs.doc_b
    WHERE ma.split_final != mb.split_final
  ) GROUP BY split
)
SELECT d_out.split,
  CAST(n_docs_naive AS BIGINT) AS n_docs_naive,
  CAST(COALESCE(n_docs_final, 0) AS BIGINT) AS n_docs_final,
  CAST(COALESCE(n_moved_in, 0) AS BIGINT) AS n_moved_in,
  CAST(COALESCE(n_moved_out, 0) AS BIGINT) AS n_moved_out,
  CAST(COALESCE(leaked_pairs_naive, 0) AS BIGINT) AS leaked_pairs_naive,
  CAST(COALESCE(leaked_pairs_final, 0) AS BIGINT) AS leaked_pairs_final
FROM d_out
LEFT JOIN d_in USING (split)
LEFT JOIN ln USING (split)
LEFT JOIN lf USING (split)
"""


def events_sessionized_oracle(gap_minutes: int = 30, break_on_exact_gap: bool = False) -> str:
    """Lag+cumsum sessionization. ``break_on_exact_gap`` selects the
    boundary convention: False = a gap of exactly ``gap_minutes`` stays
    in-session (strictly-greater breaks — the manual formulation's
    natural reading); True = an exact gap breaks (Spark
    ``session_window``'s half-open [start, start+gap) windows)."""
    gap_us = gap_minutes * 60 * 1_000_000
    cmp = ">=" if break_on_exact_gap else ">"
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
),
g AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w {cmp} {gap_us}
             THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT *, CAST(sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS session_id FROM g
)
SELECT user_id, session_id, min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us, count(*) AS n_events
FROM s GROUP BY user_id, session_id
"""


def event_path_report_oracle(k: int = 20, gap_minutes: int = 30, n: int = 2) -> str:
    """Path-mining twin: the same lag+cumsum session assignment as
    events_sessionized_oracle, per-session ordered type lists, list
    slicing for the n-windows."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
),
g AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {gap_us}
             THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_id FROM g
),
seq AS (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts_us, event_id) AS t
  FROM s GROUP BY user_id, session_id
),
paths AS (
  SELECT array_to_string(t[i:i + {n} - 1], ' ') AS path
  FROM seq, unnest(generate_series(1, len(t) - {n} + 1)) AS u(i)
  WHERE len(t) >= {n}
)
SELECT path, count(*) AS n_paths
FROM paths GROUP BY path
ORDER BY n_paths DESC, path ASC
LIMIT {k}
"""


def events_sessionized_native_oracle(gap_minutes: int = 30) -> str:
    """Oracle for the NATIVE session_window query — deliberately the
    MANUAL lag+cumsum formulation: equality validates Spark's built-in
    session merging against an independent algorithm. Uses the
    exact-gap-MERGES convention (``>`` breaks): Spark's session merge
    condition is start <= previous end, so two events exactly
    ``gap_minutes`` apart share a session — pinned empirically by
    tests/test_properties.py::test_session_window_merges_exact_gap, so
    the two formulations agree on ALL inputs, not just corpora without
    exact-gap pairs."""
    return f"""
SELECT user_id, session_start_us, n_events
FROM ({events_sessionized_oracle(gap_minutes, break_on_exact_gap=False)}) s
"""


def q4_order_priority_semi_oracle() -> str:
    return """
SELECT o_orderpriority, count(*) AS n_orders FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1999-06-01 00:00:00'
)
GROUP BY o_orderpriority
"""


def customers_without_orders_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.relational import Q22_IDLE_CUTOFF

    return f"""
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_IDLE_CUTOFF}')
"""


def revenue_rollup_oracle() -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
  {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
  count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def frame_sample_oracle() -> str:
    fb = params.FRAME_BYTES
    return f"""
WITH f AS (
  SELECT doc_id, text,
    unnest(generate_series(0, CAST(octet_length(encode(text)) // {fb} AS BIGINT), 2)) AS frame_idx
  FROM documents
)
SELECT doc_id, frame_idx,
  CAST(length(substr(text, frame_idx * {fb} + 1, {fb})) AS BIGINT) AS frame_len,
  md5(substr(text, frame_idx * {fb} + 1, {fb})) AS frame_md5
FROM f
"""


def png_decode_oracle() -> str:
    """Twin of multimodal.png_decode: recomputes the decoded statistics
    from the closed-form pixel formula (PNG_* constants). The Spark
    side decodes REAL deflate-compressed, filter-cycled PNGs — any slip
    in the inflate, the Sub/Up/Average/Paeth inverses, or channel order
    diverges from this closed form."""
    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    byte = f"(doc_id*{mm.PNG_PIX_A} + i*{mm.PNG_PIX_B}) % 256"
    return f"""
WITH g AS (
  SELECT doc_id,
         {mm.PNG_W_BASE} + doc_id % {mm.PNG_W_MOD} AS w,
         {mm.PNG_H_BASE} + doc_id % {mm.PNG_H_MOD} AS h,
         CASE WHEN doc_id % {mm.PNG_RGBA_MOD} = 0 THEN 4 ELSE 3 END AS c
  FROM documents
),
b AS (
  SELECT doc_id, w, h, c, unnest(generate_series(0, w*h*c - 1)) AS i FROM g
)
SELECT doc_id,
  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  CAST(c AS INTEGER) AS n_channels,
  CAST(SUM({byte}) AS BIGINT) AS pix_sum,
  CAST(MAX({byte}) AS INTEGER) AS pix_max,
  CAST(SUM(CASE WHEN i % c = 0 THEN {byte} END) AS BIGINT) AS chan0_sum
FROM b GROUP BY doc_id, w, h, c
"""


def media_decode_oracle() -> str:
    """Twin of multimodal.media_decode: recomputes the decoded stats
    from the closed-form synthesis formula (operators/multimodal.py
    PPM_*/WAV_* constants), so the Spark side's REAL header/payload
    decode is what's under test — a wrong raster offset or endianness
    diverges from this closed form."""
    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    ppm_byte = f"(doc_id*{mm.PPM_PIX_A} + i*{mm.PPM_PIX_B}) % 256"
    wav_samp = f"((doc_id*{mm.WAV_SAMP_A} + i*{mm.WAV_SAMP_B}) % 65536 - 32768)"
    us_per_sample = 1_000_000 // mm.WAV_RATE
    return f"""
WITH img AS (
  SELECT doc_id, {mm.PPM_W_BASE} + doc_id % {mm.PPM_W_MOD} AS w,
         {mm.PPM_H_BASE} + doc_id % {mm.PPM_H_MOD} AS h
  FROM documents WHERE doc_id % 2 = 0
),
img_bytes AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w*h*3 - 1)) AS i FROM img
),
img_stats AS (
  SELECT doc_id, 'ppm' AS kind,
    CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
    3 AS n_channels, CAST(NULL AS INTEGER) AS sample_rate,
    CAST(w*h AS BIGINT) AS n_units,
    CAST(SUM({ppm_byte}) AS BIGINT) AS sum_abs,
    CAST(MAX({ppm_byte}) AS INTEGER) AS peak,
    CAST(NULL AS BIGINT) AS duration_us
  FROM img_bytes GROUP BY doc_id, w, h
),
wav AS (
  SELECT doc_id, {mm.WAV_N_BASE} + doc_id % {mm.WAV_N_MOD} AS n
  FROM documents WHERE doc_id % 2 = 1
),
wav_samps AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM wav
),
wav_stats AS (
  SELECT doc_id, 'wav' AS kind,
    CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
    1 AS n_channels, {mm.WAV_RATE} AS sample_rate,
    CAST(n AS BIGINT) AS n_units,
    CAST(SUM(ABS({wav_samp})) AS BIGINT) AS sum_abs,
    CAST(MAX(ABS({wav_samp})) AS INTEGER) AS peak,
    CAST(n * {us_per_sample} AS BIGINT) AS duration_us
  FROM wav_samps GROUP BY doc_id, n
)
SELECT * FROM img_stats UNION ALL SELECT * FROM wav_stats
"""


# ---------------------------------------------------------------------------
# tf-idf, IVF vector search, as-of join oracles
# ---------------------------------------------------------------------------


def tfidf_top_terms_oracle(k: int = 5) -> str:
    """Twin of text.tfidf_top_terms — rational idf (N/df, no log), so
    the double arithmetic (tf * (N/df)) is bit-identical cross-engine."""
    return f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df_count,
    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(dfc.df_count AS DOUBLE)) AS tfidf
  FROM tf JOIN dfc USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf, df_count, tfidf FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


def knn_ivf_oracle(k: int = params.LSH_TOPK, nprobe: int = params.IVF_NPROBE) -> str:
    """Twin of similarity.knn_ivf. Centroids via exact DECIMAL(28,18)
    elementwise sums (order-independent) cast back to double, so both
    engines build bit-identical codebooks despite shuffle order."""
    c_cos = cosine_sql("q.q_vec", "c.centroid")
    cos = cosine_sql("e.embedding", "p.q_vec")
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {params.KNN_NUM_QUERIES}),
pos AS (
  SELECT label,
    unnest(generate_series(1, len(embedding))) AS pos,
    unnest(embedding) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS cv
  FROM pos GROUP BY label, pos
),
cents AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label),
probed AS (
  SELECT q_id, q_vec, label FROM (
    SELECT q.q_id, q.q_vec, c.label,
      row_number() OVER (PARTITION BY q.q_id ORDER BY {c_cos} DESC, c.label ASC) AS c_rank
    FROM q CROSS JOIN cents c
  ) pr WHERE c_rank <= {nprobe}
),
scored AS (
  SELECT p.q_id, e.vec_id, {cos} AS cos_sim
  FROM embeddings e JOIN probed p ON e.label = p.label
  WHERE e.vec_id <> p.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


def events_last_purchase_oracle() -> str:
    """Twin of asof.events_last_purchase — uses DuckDB's NATIVE ASOF
    JOIN, an independent implementation of the same point-in-time
    semantics (>= : right rows at equal ts are visible)."""
    return """
WITH evs AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type FROM events
),
p AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts_us,
         max_by(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
)
SELECT evs.user_id, evs.event_id, evs.ts_us, evs.event_type,
       p.purchase_value AS asof_purchase_value
FROM evs ASOF LEFT JOIN p
  ON evs.user_id = p.user_id AND evs.ts_us >= p.p_ts_us
"""


# ---------------------------------------------------------------------------
# Set ops, cube, top-k, moving avg, salted agg, range join oracles
# ---------------------------------------------------------------------------


def revenue_cube_oracle() -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
  {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
  count(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


_USER_DAY = "user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day"


def users_purchase_except_error_oracle() -> str:
    return f"""
SELECT DISTINCT {_USER_DAY} FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT {_USER_DAY} FROM events WHERE event_type = 'error'
"""


def users_purchase_intersect_error_oracle() -> str:
    return f"""
SELECT DISTINCT {_USER_DAY} FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT DISTINCT {_USER_DAY} FROM events WHERE event_type = 'error'
"""


def orders_top10_oracle() -> str:
    return """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def user_value_moving_avg_oracle() -> str:
    return """
SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / count(*) OVER w AS moving_avg_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def salted_event_counts_oracle() -> str:
    """Salting is an execution-strategy rewrite; the oracle is the plain
    direct aggregation the rewrite must be equivalent to."""
    return """
SELECT event_type, count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def purchases_with_recent_clicks_oracle(window_us: int | None = None) -> str:
    """Naive inequality join — checks the bucketed rewrite against the
    direct range-join semantics. Default window imported from the
    operator so tuning one side cannot de-synchronize the gate."""
    from flink_kafka_filter_transform_spark.operators.rangejoin import HOUR_US

    if window_us is None:
        window_us = HOUR_US
    return f"""
WITH p AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts_us
  FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.event_id, p.ts_us, count(c.c_ts_us) AS n_clicks_1h
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts_us > p.ts_us - {window_us} AND c.c_ts_us <= p.ts_us
GROUP BY p.user_id, p.event_id, p.ts_us
"""


def event_value_percentiles_oracle() -> str:
    return """
SELECT event_type,
  quantile_cont(value, 0.5) AS p50_value,
  quantile_cont(value, 0.95) AS p95_value,
  min(value) AS min_value,
  max(value) AS max_value
FROM events GROUP BY event_type
"""


def hll_distinct_users_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.sketch import hll_distinct_sql

    return hll_distinct_sql("events", key="user_id", group="event_type")


def histogram_quantiles_oracle(
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99), group: str | None = None
) -> str:
    """Histogram-sketch twin (global or grouped): identical bin,
    cumulative, and interpolation arithmetic; exact percentiles via
    quantile_cont (proven bit-identical to Spark's percentile)."""
    bins = 64
    g = group if group else "'all'"
    out_g = f"est.g AS {group}, " if group else ""
    p_values = " UNION ALL ".join(
        f"SELECT '{p}' AS pct, CAST({p!r} AS DOUBLE) AS p" for p in percentiles
    )
    exact_each = " UNION ALL ".join(
        f"SELECT {g} AS g, '{p}' AS pct, quantile_cont(CAST(value AS DOUBLE), {p!r}) AS exact "
        f"FROM events WHERE value IS NOT NULL GROUP BY 1" for p in percentiles
    )
    return f"""
WITH v AS (
  SELECT {g} AS g, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
),
s AS (SELECT g, min(v) AS mn, max(v) AS mx, count(*) AS n FROM v GROUP BY g),
b AS (
  SELECT v.g, CASE WHEN mx = mn THEN 0
              ELSE least({bins - 1}, CAST(floor((v - mn) / ((mx - mn) / {float(bins)!r})) AS INT))
         END AS idx
  FROM v JOIN s ON v.g = s.g
),
c AS (SELECT g, idx, count(*) AS cnt FROM b GROUP BY g, idx),
cum AS (
  SELECT g, idx, cnt,
    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY idx ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume
  FROM c
),
p AS ({p_values}),
win AS (
  SELECT s.g, p.pct, p.p, s.mn, s.mx, s.n, min(cum.idx) AS idx
  FROM p CROSS JOIN s JOIN cum ON cum.g = s.g
  WHERE CAST(cume AS DOUBLE) >= p.p * CAST(n AS DOUBLE)
  GROUP BY s.g, p.pct, p.p, s.mn, s.mx, s.n
),
est AS (
  SELECT w.g, w.pct,
    CASE WHEN w.mx = w.mn THEN w.mn
         ELSE w.mn + CAST(w.idx AS DOUBLE) * ((w.mx - w.mn) / {float(bins)!r})
              + (w.p * CAST(w.n AS DOUBLE) - CAST(cum.cume - cum.cnt AS DOUBLE))
                / CAST(cum.cnt AS DOUBLE) * ((w.mx - w.mn) / {float(bins)!r})
    END AS approx
  FROM win w JOIN cum ON w.g = cum.g AND w.idx = cum.idx
),
x AS ({exact_each})
SELECT {out_g}est.pct, est.approx, x.exact
FROM est JOIN x ON est.g = x.g AND est.pct = x.pct
"""


def histogram_quantiles_by_type_oracle() -> str:
    return histogram_quantiles_oracle(group="event_type")


def hll_rollup_users_oracle() -> str:
    """Deliberately the DIRECT (un-rolled-up) HLL: the engine computes
    per-day registers merged to per-type; register max is associative,
    so equality against the direct sketch proves lossless merging."""
    from flink_kafka_filter_transform_spark.operators.sketch import hll_distinct_sql

    return hll_distinct_sql("events", key="user_id", group="event_type")


def hll_distinct_orders_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.sketch import hll_distinct_sql

    return hll_distinct_sql("lineitem", key="l_orderkey", group="l_returnflag")


def q14_promo_revenue_oracle() -> str:
    return """
SELECT
  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))
                        ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
    AS promo_revenue_pct,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-07-01'
"""


def revenue_grouping_sets_oracle() -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
  {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
  count(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
"""


def events_props_map_explode_oracle() -> str:
    """json_keys + lateral unnest is DuckDB's map-explode analog; values
    extracted as strings to mirror MAP<STRING,STRING>."""
    return """
WITH ex AS (
  SELECT event_type,
    unnest(json_keys(props)) AS prop_key,
    json_extract_string(props, '$.' || unnest(json_keys(props))) AS prop_val
  FROM events WHERE props IS NOT NULL AND json_valid(props)
)
SELECT prop_key, count(*) AS n,
  count(DISTINCT prop_val) AS n_distinct_vals,
  min(prop_val) AS min_val, max(prop_val) AS max_val
FROM ex GROUP BY prop_key
"""


def _recall_oracle(approx_sql: str, k: int) -> str:
    """Recall@k of a nested approximate-knn SELECT vs nested brute force."""
    return f"""
WITH brute AS (SELECT q_id, vec_id FROM ({knn_brute_oracle(k=k)}) b),
appr AS (SELECT q_id, vec_id FROM ({approx_sql}) a),
hits AS (
  SELECT brute.q_id, count(*) AS n
  FROM brute JOIN appr ON brute.q_id = appr.q_id AND brute.vec_id = appr.vec_id
  GROUP BY brute.q_id
),
qs AS (SELECT DISTINCT q_id FROM brute)
SELECT qs.q_id,
  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
  CAST(coalesce(hits.n, 0) AS DOUBLE) / CAST({float(k)} AS DOUBLE) AS recall_at_k
FROM qs LEFT JOIN hits ON qs.q_id = hits.q_id
"""


def knn_ivf_recall_oracle(k: int = params.LSH_TOPK) -> str:
    return _recall_oracle(knn_ivf_oracle(k=k), k)


def neardup_clusters_oracle() -> str:
    """Connected components as a RECURSIVE CTE: min reachable doc_id.
    Independent fixpoint formulation of graph.connected_components."""
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p),
verts AS (SELECT DISTINCT doc_id FROM documents),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
r(doc, root) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.b, r.root FROM r JOIN e ON e.a = r.doc
),
comp AS (SELECT doc, min(root) AS cluster_id FROM r GROUP BY doc),
sized AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT comp.doc AS doc_id, comp.cluster_id,
  CAST(sized.cluster_size AS BIGINT) AS cluster_size,
  comp.doc = comp.cluster_id AS is_kept
FROM comp JOIN sized ON comp.cluster_id = sized.cluster_id
"""


def neardup_triangles_oracle() -> str:
    """Triangle census twin: the same oriented wedge+closure joins over
    the minhash pairs CTE."""
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p),
tris AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  WHERE EXISTS (SELECT 1 FROM pairs e3
                WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
),
v AS (SELECT count(DISTINCT doc_id) AS n_vertices FROM documents),
e AS (SELECT count(*) AS n_edges FROM pairs),
t AS (SELECT count(*) AS n_triangles FROM tris)
SELECT v.n_vertices, e.n_edges, t.n_triangles,
  CASE WHEN e.n_edges > 0
       THEN CAST(t.n_triangles AS DOUBLE) / e.n_edges END AS triangles_per_edge
FROM v, e, t
"""


def dedup_survivors_quality_oracle() -> str:
    """Quality-aware survivor twin: the clusters recursive CTE joined
    to the classifier score, winner = arg_max on the same integer
    (score_raw, -doc_id) key."""
    w = "(" + portable_hash64_sql("x") + " % 2001) - 1000"
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p),
verts AS (SELECT DISTINCT doc_id FROM documents),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
r(doc, root) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.b, r.root FROM r JOIN e ON e.a = r.doc
),
comp AS (SELECT doc, min(root) AS cluster_id FROM r GROUP BY doc),
q AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(regexp_extract_all(text, '[^\\s]+'), x -> {w})) AS BIGINT)
      AS score_raw
  FROM documents WHERE len(regexp_extract_all(text, '[^\\s]+')) > 0
),
ranked AS (
  SELECT comp.cluster_id, q.doc_id, q.score_raw,
    row_number() OVER (PARTITION BY comp.cluster_id
                       ORDER BY q.score_raw DESC, q.doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY comp.cluster_id) AS n
  FROM comp JOIN q ON q.doc_id = comp.doc
)
SELECT cluster_id, CAST(n AS BIGINT) AS cluster_size,
  doc_id AS kept_doc_id, score_raw AS kept_score_raw
FROM ranked WHERE rn = 1
"""


def weighted_avg_by_type_oracle() -> str:
    """Twin of the pandas grouped-agg UDF: the same sequential left
    fold over event_id-ordered rows, as list_reduce."""
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {xs}), (a, x) -> a + x)"
    )
    num = fold.format(
        xs="list_transform(list_zip(vs, ks), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))"
    )
    den = fold.format(xs="ks")
    return f"""
WITH src AS (
  SELECT event_type, event_id, value,
    TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
  FROM events
  WHERE props IS NOT NULL AND json_valid(props)
    AND TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
),
g AS (
  SELECT event_type,
    list(value ORDER BY event_id) AS vs,
    list(k ORDER BY event_id) AS ks,
    count(*) AS n
  FROM src GROUP BY event_type
)
SELECT event_type,
  CASE WHEN {den} = 0.0 THEN NULL ELSE {num} / {den} END AS weighted_avg_value,
  n AS n_weighted
FROM g
"""


def sentence_split_rows_oracle() -> str:
    r"""Twin of the sentence-split UDTF: same sentence regex, same
    enumerated edge-trim char class (Python \s and RE2 \s disagree on
    \v), same 0-based numbering of non-empty sentences."""
    from flink_kafka_filter_transform_spark.operators.extensibility import EDGE_WS_CLASS

    cls = EDGE_WS_CLASS  # literal "[ \t\n\f\r]" — RE2 parses the escapes
    return rf"""
WITH s AS (
  SELECT doc_id,
    list_filter(
      list_transform(regexp_extract_all(text, '[^.!?]+[.!?]?'),
                     x -> regexp_replace(x, '^{cls}+|{cls}+$', '', 'g')),
      x -> length(x) > 0) AS sents
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  CAST(unnest(generate_series(1, len(sents))) - 1 AS INT) AS sentence_idx,
  unnest(sents) AS sentence,
  CAST(length(unnest(sents)) AS INT) AS n_chars
FROM s
"""


def events_daily_gapfilled_oracle() -> str:
    return """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
grid AS (SELECT s.day, t.event_type FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM daily) t)
SELECT strftime(g.day, '%Y-%m-%d') AS day, g.event_type,
  CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events
FROM grid g LEFT JOIN daily d ON g.day = d.day AND g.event_type = d.event_type
"""


def events_pivot_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.relational import EVENT_TYPES

    cols = ",\n  ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
  {cols}
FROM events GROUP BY 1
"""


def events_unpivot_oracle() -> str:
    return """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
  event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""


def cms_token_counts_oracle(top_n: int = 20) -> str:
    from flink_kafka_filter_transform_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH

    hashes = {
        j: portable_hash64_sql(f"'{j}:' || tok") for j in range(CMS_DEPTH)
    }
    grid_rows = "\n  UNION ALL ".join(
        f"SELECT {j} AS row, {hashes[j]} % {CMS_WIDTH} AS bucket FROM ex"
        for j in range(CMS_DEPTH)
    )
    probe_cols = ",\n    ".join(
        f"{hashes[j]} % {CMS_WIDTH} AS b{j}" for j in range(CMS_DEPTH)
    )
    joins = "\n".join(
        f"JOIN (SELECT bucket AS b{j}, cell AS c{j} FROM grid WHERE row = {j}) g{j} USING (b{j})"
        for j in range(CMS_DEPTH)
    )
    least = ", ".join(f"c{j}" for j in range(CMS_DEPTH))
    return rf"""
WITH ex AS (
  SELECT unnest(regexp_extract_all(text, '[^\s]+')) AS tok FROM documents
),
grid AS (
  SELECT row, bucket, count(*) AS cell FROM (
  {grid_rows}
  ) rb GROUP BY row, bucket
),
top AS (
  SELECT tok, count(*) AS n_exact FROM ex GROUP BY tok
  ORDER BY n_exact DESC, tok ASC LIMIT {top_n}
),
probes AS (
  SELECT tok, n_exact,
    {probe_cols}
  FROM top
)
SELECT probes.tok AS token, probes.n_exact, least({least}) AS cms_estimate
FROM probes
{joins}
"""


def documents_split_summary_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.sampling import BUCKETS

    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)")
    test_hi = 10 * BUCKETS // 100
    val_hi = test_hi + 10 * BUCKETS // 100
    return rf"""
WITH s AS (
  SELECT doc_id, text,
    CASE WHEN {h} % {BUCKETS} < {test_hi} THEN 'test'
         WHEN {h} % {BUCKETS} < {val_hi} THEN 'val'
         ELSE 'train' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs,
  CAST(sum(len(regexp_extract_all(text, '[^\s]+'))) AS BIGINT) AS n_tokens
FROM s GROUP BY split
"""


def events_stratified_sample_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.sampling import BUCKETS

    h = portable_hash64_sql("CAST(event_id AS VARCHAR)")
    rates = {"click": 0.1, "view": 0.1, "purchase": 1.0, "signup": 0.5}
    whens = " ".join(
        f"WHEN event_type = '{v}' THEN {int(r * BUCKETS)}" for v, r in sorted(rates.items())
    )
    return f"""
SELECT event_type, count(*) AS n_sampled FROM events
WHERE {h} % {BUCKETS} < (CASE {whens} ELSE -1 END)
GROUP BY event_type
"""


def _kmeans_ctes(
    k: int | None, iters: int, seeding: str = "first"
) -> str:
    """Lloyd's algorithm unrolled as a CTE chain — iteration i reads
    c{i-1} and emits a{i} (assignments) and c{i} (centroids). The
    distance fold, decimal centroid means, and tie-breaks mirror
    operators.kmeans exactly; seeding='farthest' prepends the
    farthest-point traversal (one CTE pair per seed).

    ``k=None`` sizes the codebook from the data itself —
    CEIL(count(*)/EMB_CELL_TARGET_ROWS), the same formula as
    operators.dedup.adaptive_n_cells. first-k seeding touches k only
    in c0's ``vec_id < k`` filter; farthest seeding (r6) unrolls a
    STATIC FPS_SEED_CAP traversal and takes the LEAST(k, cap) prefix
    plus a first-unchosen fill, so adaptive k works there too."""
    dist = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(e.v, c.centroid),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
    ]
    if seeding == "farthest":
        # Capped hybrid (r6): unroll at most FPS_SEED_CAP traversal
        # rounds — a static structure even when k is data-adaptive —
        # and fill the remaining k-nf seeds from the first unchosen
        # vec_ids, mirroring kmeans_fit. The greedy traversal's i-seed
        # prefix IS the i-seed traversal, so selecting cid <
        # LEAST(k, cap) from the full unroll matches an engine that
        # only ran that many rounds.
        from flink_kafka_filter_transform_spark.operators.kmeans import FPS_SEED_CAP

        if k is None:
            k_expr = (
                "(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / "
                f"{params.EMB_CELL_TARGET_ROWS}.0) AS BIGINT)) FROM embeddings)"
            )
            nf_unroll = FPS_SEED_CAP
            nf_expr = f"LEAST({k_expr}, {FPS_SEED_CAP})"
        else:
            k_expr = str(k)
            nf_unroll = min(k, FPS_SEED_CAP)
            nf_expr = str(nf_unroll)
        parts.append(
            "fs0 AS (SELECT CAST(0 AS BIGINT) AS cid, vec_id, v AS centroid "
            "FROM e ORDER BY vec_id LIMIT 1)"
        )
        for i in range(1, nf_unroll):
            prev = f"fs{i - 1}"
            # same left-fold distance as the Lloyd steps, min over the
            # chosen seeds, farthest wins (ties -> lower vec_id)
            parts.append(
                f"""fm{i} AS (
  SELECT e.vec_id, e.v, min({dist}) AS d
  FROM e CROSS JOIN {prev} c GROUP BY e.vec_id, e.v
)"""
            )
            parts.append(
                f"""fs{i} AS (
  SELECT * FROM {prev}
  UNION ALL
  (SELECT CAST({i} AS BIGINT) AS cid, vec_id, v AS centroid FROM fm{i} ORDER BY d DESC, vec_id ASC LIMIT 1)
)"""
            )
        parts.append(
            f"fsel AS (SELECT cid, vec_id, centroid FROM fs{nf_unroll - 1} "
            f"WHERE cid < {nf_expr})"
        )
        parts.append(
            """ffill AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
  FROM e WHERE vec_id NOT IN (SELECT vec_id FROM fsel)
)"""
        )
        parts.append(
            f"""c0 AS (
  SELECT cid, centroid FROM fsel
  UNION ALL
  SELECT {nf_expr} - 1 + rn AS cid, v AS centroid FROM ffill
  WHERE rn <= {k_expr} - {nf_expr}
)"""
        )
    else:
        k_sql = (
            str(k)
            if k is not None
            else (
                "(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / "
                f"{params.EMB_CELL_TARGET_ROWS}.0) AS BIGINT)) FROM embeddings)"
            )
        )
        parts.append(
            f"c0 AS (SELECT vec_id AS cid, v AS centroid FROM e WHERE vec_id < {k_sql})"
        )
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM e CROSS JOIN {prev} c
  ) r WHERE rn = 1
)"""
        )
        parts.append(
            f"""s{i} AS (
  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS cv
  FROM (
    SELECT a{i}.cid,
      unnest(generate_series(1, len(e.v))) AS pos,
      unnest(e.v) AS val
    FROM a{i} JOIN e USING (vec_id)
  ) x GROUP BY cid, pos
)"""
        )
        parts.append(
            f"""c{i} AS (
  SELECT p.cid, coalesce(n.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS centroid FROM s{i} GROUP BY cid) n
  USING (cid)
)"""
        )
    # final assignment against the last centroids
    parts.append(
        f"""afinal AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM e CROSS JOIN c{iters} c
  ) r WHERE rn = 1
)"""
    )
    # Force per-CTE materialization: the Lloyd chain references each
    # c{i} from two downstream CTEs, and DuckDB's default inlining
    # re-evaluates the whole prefix at every level — measured 4x cost
    # growth PER ITERATION on the r6 capped-farthest chain (afinal
    # 45.9 s inlined vs 0.2 s materialized at sf0.01). Semantics are
    # unchanged; every _kmeans_ctes consumer gets the linear plan.
    import re as _re

    return _re.sub(
        r"\b(fs\d+|fm\d+|fsel|ffill|c\d+|a\d+|s\d+|afinal|e) AS \(",
        r"\1 AS MATERIALIZED (",
        "WITH " + ",\n".join(parts),
    )


def kmeans_clusters_oracle(k: int | None = None, iters: int | None = None) -> str:
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    return f"""
{_kmeans_ctes(k, iters)}
SELECT vec_id, cid AS cluster_id FROM afinal
"""


def kmeans_cluster_sizes_oracle(k: int | None = None, iters: int | None = None) -> str:
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    return f"""
{_kmeans_ctes(k, iters)}
SELECT cid AS cluster_id, count(*) AS n_vectors FROM afinal GROUP BY cid
"""


def knn_ivf_kmeans_oracle(
    k_neighbors: int = 5, n_cells: int | None = None, iters: int | None = None, nprobe: int = 2
) -> str:
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    n_cells = K_DEFAULT if n_cells is None else n_cells
    iters = ITERS_DEFAULT if iters is None else iters
    c_cos = cosine_sql("q.q_vec", "c.centroid")
    cos = cosine_sql("e2.v", "p.q_vec")
    return f"""
{_kmeans_ctes(n_cells, iters)},
q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < {params.KNN_NUM_QUERIES}),
probed AS (
  SELECT q_id, q_vec, cid FROM (
    SELECT q.q_id, q.q_vec, c.cid,
      row_number() OVER (PARTITION BY q.q_id ORDER BY {c_cos} DESC, c.cid ASC) AS cr
    FROM q CROSS JOIN c{iters} c
  ) pr WHERE cr <= {nprobe}
),
scored AS (
  SELECT p.q_id, e2.vec_id, {cos} AS cos_sim
  FROM e e2
  JOIN afinal m ON e2.vec_id = m.vec_id
  JOIN probed p ON m.cid = p.cid
  WHERE e2.vec_id <> p.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k_neighbors}
"""


def dedup_survivors_oracle() -> str:
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p),
verts AS (SELECT DISTINCT doc_id FROM documents),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
r(doc, root) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.b, r.root FROM r JOIN e ON e.a = r.doc
),
comp AS (SELECT doc, min(root) AS cluster_id FROM r GROUP BY doc)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN comp ON d.doc_id = comp.doc
WHERE comp.doc = comp.cluster_id
"""


def embedding_normalized_norms_oracle() -> str:
    from flink_kafka_filter_transform_spark.functions.vectors import norm_sql

    n = norm_sql("v")
    unit = f"list_transform(v, x -> x / {n})"
    n_after = norm_sql(unit)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
SELECT vec_id, {n} AS norm,
  CASE WHEN {n} > 0 THEN {n_after} END AS norm_after
FROM e
"""


def embedding_quantize_oracle() -> str:
    return """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> abs(x))),
                (acc, x) -> greatest(acc, x)) AS max_abs
  FROM e
),
qd AS (
  SELECT vec_id, v, max_abs, max_abs / 127.0 AS scale,
    list_transform(v, x -> CAST(floor(x * 127.0 / max_abs + 0.5) AS INT)) AS q8
  FROM m WHERE max_abs > 0
)
SELECT vec_id, scale,
  array_to_string(list_transform(q8, x -> CAST(x AS VARCHAR)), ',') AS q8,
  CAST(list_reduce(
    list_prepend(CAST(0 AS DECIMAL(30,18)),
      list_transform(list_zip(v, q8),
        z -> CAST(abs(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) * scale) AS DECIMAL(20,18)))),
    (acc, x) -> CAST(acc + x AS DECIMAL(30,18))) AS DOUBLE) AS recon_err
FROM qd
"""


def jl_projection_distortion_oracle() -> str:
    from flink_kafka_filter_transform_spark.functions.vectors import norm_sql

    # sqrt(sum y_i^2): fold with a 0.0-prepend is bit-identical to the
    # engine's left-assoc chain (0.0 + a == a exactly for a >= 0)
    y_sq = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(y, t -> t * t)), (acc, t) -> acc + t)"
    )
    return f"""
WITH {_jl_proj_cte()},
n AS (SELECT vec_id, {norm_sql('v')} AS x_norm FROM e0)
SELECT p.vec_id, p.y[1] AS y0, sqrt({y_sq}) / n.x_norm AS norm_ratio
FROM proj p JOIN n ON p.vec_id = n.vec_id
WHERE n.x_norm > 0
"""


def _jl_proj_cte() -> str:
    """Shared CTE text: per-vector 16-dim JL projection as a list."""
    from flink_kafka_filter_transform_spark.operators.vectorprep import (
        JL_OUT_DIM,
        _jl_matrix,
    )

    rows = _jl_matrix()

    def comp(i: int) -> str:
        lits = ",".join(f"CAST({x!r} AS DOUBLE)" for x in rows[i])
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip(v, [{lits}]), "
            f"z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), "
            f"(acc, t) -> acc + t) / CAST(4.0 AS DOUBLE)"
        )

    ys = ", ".join(comp(i) for i in range(JL_OUT_DIM))
    # len(embedding) = JL_IN_DIM mirrors the engine's jl_dim_ok guard:
    # a mismatched vector would null-pad identically in both engines
    # and the differential would MATCH on garbage — exclude loudly.
    return f"""
e0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE len(embedding) = {len(rows[0])}
),
proj AS (SELECT vec_id, [{ys}] AS y FROM e0)
"""


def knn_jl_oracle(k: int = params.LSH_TOPK) -> str:
    cos = cosine_sql("p.y", "q.q_y")
    return f"""
WITH {_jl_proj_cte()},
q AS (SELECT vec_id AS q_id, y AS q_y FROM proj WHERE vec_id < {params.KNN_NUM_QUERIES}),
scored AS (
  SELECT q.q_id, p.vec_id, {cos} AS cos_sim
  FROM proj p CROSS JOIN q WHERE p.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


def knn_jl_recall_oracle(k: int = params.LSH_TOPK) -> str:
    return _recall_oracle(knn_jl_oracle(k=k), k)


def normalize_text_oracle() -> str:
    return """
WITH c AS (
  SELECT doc_id, text,
    regexp_replace(
      regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'),
      '^ +| +$', '', 'g') AS clean
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS len_raw,
  CAST(length(clean) AS BIGINT) AS len_clean,
  substr(clean, 1, 80) AS clean_prefix
FROM c
"""


def orders_above_customer_avg_oracle() -> str:
    return f"""
SELECT o_orderkey, o_custkey, o_totalprice,
  (SELECT {_dsum_sql('o2.o_totalprice')} / count(*)
   FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg
FROM orders o
WHERE o_totalprice > (
  SELECT {_dsum_sql('o3.o_totalprice')} / count(*)
  FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
"""


# ---------------------------------------------------------------------------
# TPC-H-shape breadth oracles (round 3)
# ---------------------------------------------------------------------------


def q6_forecast_revenue_oracle() -> str:
    return f"""
SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24.0
"""


def q7_volume_shipping_oracle() -> str:
    return f"""
SELECT supp_nation, cust_nation, l_year,
       {_dsum_sql('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1.0 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def q9_product_nation_profit_oracle() -> str:
    return f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS l_year,
       {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%re%'
GROUP BY n_name, l_year
"""


def q10_returned_items_oracle() -> str:
    return f"""
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
       {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q13_customer_distribution_oracle() -> str:
    return """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q18_large_volume_orders_oracle(min_qty: float = 300.0) -> str:
    return f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {_dsum_sql('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
) big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE total_qty > {min_qty!r}
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q17_small_quantity_oracle(brand: str = "Brand#4", frac: float = 0.5) -> str:
    return f"""
WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = '{brand}'),
li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN bp ON l_partkey = p_partkey
),
t AS (
  SELECT l_partkey AS t_partkey,
         CAST({frac!r} AS DOUBLE) * ({_dsum_sql('l_quantity')} / count(*)) AS max_qty
  FROM li GROUP BY l_partkey
)
SELECT {_dsum_sql('l_extendedprice')} / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM li JOIN t ON l_partkey = t_partkey
WHERE l_quantity < max_qty
"""


def q20_potential_promotion_oracle(
    name_prefix: str = "red", frac: float = 0.5, min_pairs: int = 11
) -> str:
    """Independent formulation: two aggregate CTEs joined on the pair
    key (vs the engine's single conditional-sum groupBy)."""
    return f"""
WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE '{name_prefix}%'),
li AS (
  SELECT l_suppkey, l_partkey, l_quantity, l_shipdate
  FROM lineitem JOIN rp ON l_partkey = p_partkey
),
qall AS (
  SELECT l_suppkey, l_partkey, {_dsum_sql('l_quantity')} AS q_all
  FROM li GROUP BY l_suppkey, l_partkey
),
q98 AS (
  SELECT l_suppkey, l_partkey, {_dsum_sql('l_quantity')} AS q_98
  FROM li
  WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY l_suppkey, l_partkey
),
per_supp AS (
  SELECT q98.l_suppkey AS sk, count(*) AS n_pairs
  FROM q98 JOIN qall
    ON q98.l_suppkey = qall.l_suppkey AND q98.l_partkey = qall.l_partkey
  WHERE q_98 > CAST({frac!r} AS DOUBLE) * q_all
  GROUP BY q98.l_suppkey
)
SELECT s_suppkey, s_name, n_name, CAST(n_pairs AS BIGINT) AS n_pairs
FROM per_supp
JOIN supplier ON sk = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_pairs >= {min_pairs}
"""


def q22_idle_rich_customers_oracle() -> str:
    from flink_kafka_filter_transform_spark.operators.relational import Q22_IDLE_CUTOFF

    return f"""
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       {_dsum_sql('c_acctbal')} AS totacctbal
FROM customer
CROSS JOIN (
  SELECT {_dsum_sql('c_acctbal')} / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
) t
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_IDLE_CUTOFF}')
GROUP BY c_nationkey
"""


def events_group_reservoir_oracle(k: int = 5) -> str:
    h = portable_hash64_sql("CAST(event_id AS VARCHAR)")
    return f"""
SELECT event_type, rank, event_id, user_id FROM (
  SELECT event_type, event_id, user_id,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY {h}, event_id) AS INTEGER) AS rank
  FROM events
) r WHERE rank <= {k}
"""


def bigram_top_pairs_oracle(k: int = 20) -> str:
    return f"""
WITH {_TOKS_CTE},
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> array_to_string(t[i:i + 1], ' '))) AS gram
  FROM toks WHERE len(t) >= 2
)
SELECT gram, count(*) AS n
FROM pairs GROUP BY gram
ORDER BY n DESC, gram ASC
LIMIT {k}
"""


def training_mixture_report_oracle(min_quality: float = 0.5) -> str:
    from flink_kafka_filter_transform_spark.operators.sampling import BUCKETS

    ht = portable_hash64_sql("text")
    hb = f"{portable_hash64_sql('CAST(doc_id AS VARCHAR)')} % {BUCKETS}"
    stop = _sql_list(params.STOPWORDS)
    test_hi = 10 * BUCKETS // 100
    val_hi = test_hi + 10 * BUCKETS // 100
    return rf"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT {ht} AS h, doc_id FROM documents) hashed
  GROUP BY h
),
kept AS (
  SELECT d.doc_id, d.source, regexp_extract_all(d.text, '[^\s]+') AS t
  FROM documents d JOIN keep USING (doc_id)
),
scored AS (
  SELECT doc_id, source, t,
    0.25 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
    + 0.25 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
    + 0.25 * (1.0 - CAST(len(list_filter(t, x -> list_contains({stop}, x))) AS DOUBLE) / len(t))
    + 0.25 * least((CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS DOUBLE) / len(t)) / 8.0, 1.0)
      AS q
  FROM kept WHERE len(t) > 0
),
s AS (
  SELECT source,
    CASE WHEN {hb} < {test_hi} THEN 'test'
         WHEN {hb} < {val_hi} THEN 'val'
         ELSE 'train' END AS split,
    len(t) AS n_toks
  FROM scored WHERE q >= {min_quality!r}
)
SELECT source, split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM s GROUP BY source, split
"""


def media_resize_oracle() -> str:
    """Twin of multimodal.media_resize: nearest-neighbor index mapping
    out(i,j) <- in((i*in_h)//out_h, (j*in_w)//out_w) recomputed in SQL
    over the synthesis formula — a wrong resize index or channel order
    on the Spark side diverges."""
    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    # byte index of resized cell (i, j, ch): ((row*w + col)*3 + ch)
    # with row = (i*h)//out_h, col = (j*w)//out_w
    idx = f"((((i.i*h) // {mm.RESIZE_H})*w + ((j.j*w) // {mm.RESIZE_W}))*3 + ch.ch)"
    return f"""
WITH img AS (
  SELECT doc_id, {mm.PPM_W_BASE} + doc_id % {mm.PPM_W_MOD} AS w,
         {mm.PPM_H_BASE} + doc_id % {mm.PPM_H_MOD} AS h
  FROM documents WHERE doc_id % 2 = 0
),
vals AS (
  SELECT doc_id, ch.ch AS ch,
         (doc_id*{mm.PPM_PIX_A} + {idx}*{mm.PPM_PIX_B}) % 256 AS v
  FROM img,
       generate_series(0, {mm.RESIZE_H} - 1) AS i(i),
       generate_series(0, {mm.RESIZE_W} - 1) AS j(j),
       generate_series(0, 2) AS ch(ch)
)
SELECT doc_id, {mm.RESIZE_W} AS out_w, {mm.RESIZE_H} AS out_h,
  CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS r_sum,
  CAST(SUM(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS g_sum,
  CAST(SUM(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS b_sum
FROM vals GROUP BY doc_id
"""


def cdc_scd2_history_oracle() -> str:
    """SCD2 twin: same lead-over-all-changes-then-drop-deletes order of
    operations, expressed as a windowed subquery."""
    return _with_cdc(
        """
SELECT db, table_name, key, op, msg_id, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current
FROM (
  SELECT db, table_name, key, op, msg_id,
         epoch_us(ts) AS valid_from_us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY db, table_name, key ORDER BY ts, msg_id
         ) AS valid_to_us
  FROM parsed WHERE op IS NOT NULL
) iv WHERE op <> 'd'
"""
    )



def knn_ivf_probe_sweep_oracle(
    k: int = params.LSH_TOPK, probes: tuple[int, ...] = (1, 2, 4)
) -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT {n} AS nprobe, CAST(sum(n_hits) AS BIGINT) AS total_hits,
  CAST(sum(n_hits) AS DOUBLE) / CAST(count(*) * {k} AS DOUBLE) AS mean_recall
FROM ({_recall_oracle(knn_ivf_oracle(k=k, nprobe=n), k)}) r{n}"""
        for n in probes
    )
    return arms


def doc_chunks_oracle(chunk: int = 64, stride: int = 32) -> str:
    ch = portable_hash64_sql("array_to_string(c, ' ')")
    return f"""
WITH {_TOKS_CTE},
starts AS (
  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, {stride})) AS s
  FROM toks WHERE len(t) > 0
),
chunks AS (
  SELECT doc_id, CAST(s // {stride} AS INTEGER) AS chunk_idx,
         t[s + 1 : s + {chunk}] AS c
  FROM starts
)
SELECT doc_id, chunk_idx,
  CAST(len(c) AS BIGINT) AS n_chunk_tokens,
  {ch} AS chunk_hash
FROM chunks
"""

def q8_market_share_oracle(
    share_nation: str = "NATION_3",
    region_name: str = "ASIA",
    p_type: str = "PROMO",
) -> str:
    """Independent formulation: plain 7-table join + FILTERed sums (vs
    the engine's conditional sum in one broadcast-planned aggregate)."""
    return f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {_dsum_sql(f"CASE WHEN n2.n_name = '{share_nation}' THEN l_extendedprice * (1.0 - l_discount) END")}
       / {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = '{p_type}'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '{region_name}'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1
"""


def q12_shipping_delay_oracle() -> str:
    return """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) < 30 THEN 'fast'
            WHEN datediff('day', o_orderdate, l_shipdate) < 90 THEN 'medium'
            ELSE 'slow' END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q15_top_supplier_oracle(start: str = "1997-01-01", end: str = "1997-04-01") -> str:
    """Independent formulation: window max over the revenue view (vs
    the engine's 1-row broadcast max join)."""
    return f"""
WITH revenue AS (
  SELECT l_suppkey, {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{start}' AND l_shipdate < TIMESTAMP '{end}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM (SELECT *, max(total_revenue) OVER () AS max_revenue FROM revenue) r
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = max_revenue
"""


def q16_supplier_part_variety_oracle() -> str:
    """Independent formulation: NOT IN subquery (vs the engine's
    broadcast anti join)."""
    return """
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""


def q19_discounted_revenue_oracle() -> str:
    """Independent formulation: the disjunction evaluated post-join in
    one WHERE (vs the engine's pre-join part pruning + residual)."""
    return f"""
SELECT {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_orders_oracle(late_days: int = 60, topk: int = 20) -> str:
    """Independent formulation: correlated EXISTS / NOT EXISTS exactly
    as TPC-H writes them (vs the engine's per-order decorrelated
    aggregate)."""
    return f"""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL {late_days} DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_suppkey, s_name, n_name, CAST(numwait AS BIGINT) AS numwait FROM (
  SELECT l_suppkey, count(*) AS numwait FROM (
    SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
    FROM lo l1
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM lo l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
  ) w GROUP BY l_suppkey
) per_supp
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY numwait DESC, s_suppkey
LIMIT {topk}
"""

def segment_dedup_stats_oracle(seg_len: int = 16) -> str:
    h = portable_hash64_sql("seg")
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '[^\\s]+') AS t FROM documents
),
pos AS (
  SELECT doc_id, i AS seg_idx,
         {portable_hash64_sql(f"array_to_string(t[(i - 1) * {seg_len} + 1 : i * {seg_len}], ' ')")} AS gh
  FROM toks, unnest(generate_series(1, CAST(floor(len(t) / {seg_len}) AS INTEGER))) AS u(i)
),
ndocs AS (
  SELECT gh, count(DISTINCT doc_id) AS n FROM pos GROUP BY gh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_fraction
FROM pos JOIN ndocs USING (gh)
GROUP BY doc_id
"""

def trigram_gini_diversity_oracle() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '[^\s]+') AS t FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  GROUP BY doc_id, tok
),
sums AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM counts GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(n, 0) AS n_tokens,
       coalesce(n_distinct, 0) AS n_distinct,
       CASE WHEN n > 0 THEN CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE) END
         AS distinct_ratio,
       CASE WHEN n > 0 THEN 1.0 - CAST(sum_sq AS DOUBLE) / CAST(n * n AS DOUBLE) END
         AS gini,
       CASE WHEN len(t) >= 3 THEN
         CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 2),
              i -> array_to_string(t[i:i + 2], ' ')))) AS DOUBLE)
           / CAST(len(t) - 2 AS DOUBLE) END AS trigram_distinct_ratio
FROM toks LEFT JOIN sums ON toks.doc_id = sums.doc_id
"""

def embedding_label_outliers_oracle() -> str:
    dist = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(e.v, c.centroid),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS cv
  FROM (
    SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val FROM e
  ) x GROUP BY label, pos
),
carr AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label),
d AS (
  SELECT e.label, e.vec_id, {dist} AS d2
  FROM e JOIN carr c USING (label)
),
stats AS (
  SELECT label, CAST(SUM(CAST(d2 AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_dist2
  FROM d GROUP BY label
)
SELECT d.label, CAST(count(*) AS BIGINT) AS n_vectors,
       any_value(mean_dist2) AS mean_dist2,
       CAST(sum(CASE WHEN d2 > 4.0 * mean_dist2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d JOIN stats USING (label)
GROUP BY d.label
"""

_PQ_DIST = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(list_zip(e.v, c.centroid),"
    " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
    " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
)


def _pq_chain_parts(m: int, k: int, iters: int) -> list[str]:
    """Per-subspace Lloyd CTE chains shared by every PQ oracle: for
    each subspace j emits e{j} (sliced subvectors), c{j}_0..c{j}_iters
    (codebook trajectory) and af{j} (final assignment)."""
    dist = _PQ_DIST
    parts = [
        "ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
    ]
    for j in range(m):
        L = f"(len(v) // {m})"
        parts.append(
            f"e{j} AS (SELECT vec_id, v[({j} * {L} + 1):(({j} + 1) * {L})] AS v FROM ef)"
        )
        parts.append(
            f"c{j}_0 AS (SELECT vec_id AS cid, v AS centroid FROM e{j} WHERE vec_id < {k})"
        )
        for i in range(1, iters + 1):
            prev = f"c{j}_{i - 1}"
            parts.append(
                f"""a{j}_{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM e{j} e CROSS JOIN {prev} c
  ) r WHERE rn = 1
)"""
            )
            parts.append(
                f"""s{j}_{i} AS (
  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS cv
  FROM (
    SELECT a{j}_{i}.cid,
      unnest(generate_series(1, len(e.v))) AS pos,
      unnest(e.v) AS val
    FROM a{j}_{i} JOIN e{j} e USING (vec_id)
  ) x GROUP BY cid, pos
)"""
            )
            parts.append(
                f"""c{j}_{i} AS (
  SELECT p.cid, coalesce(n.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS centroid FROM s{j}_{i} GROUP BY cid) n
  USING (cid)
)"""
            )
        parts.append(
            f"""af{j} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM e{j} e CROSS JOIN c{j}_{iters} c
  ) r WHERE rn = 1
)"""
        )
    return parts


def pq_train_report_oracle(m: int = 4, k: int | None = None, iters: int | None = None) -> str:
    """Product quantization: one unrolled Lloyd CTE chain PER SUBSPACE
    (independent codebooks over contiguous subvector slices), mirroring
    operators.kmeans.pq_train_report step for step."""
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    dist = _PQ_DIST
    parts = _pq_chain_parts(m, k, iters)
    reps = [
        f"""SELECT {j} AS subspace, af{j}.cid AS cluster_id,
  CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(SUM(CAST({dist} AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mse
FROM af{j} JOIN e{j} e USING (vec_id) JOIN c{j}_{iters} c ON af{j}.cid = c.cid
GROUP BY af{j}.cid"""
        for j in range(m)
    ]
    union = "\nUNION ALL\n".join(reps)
    return "WITH " + ",\n".join(parts) + "\n" + union


def _pq_adc_parts(m: int, k: int, iters: int, nq: int, topk: int) -> list[str]:
    """CTEs shared by knn_pq_adc / knn_pq_recall: chains + encoded
    corpus + per-query subspace lookup tables + ADC top-k."""
    dist = _PQ_DIST
    parts = _pq_chain_parts(m, k, iters)
    enc = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, vec_id, cid FROM af{j}" for j in range(m)
    )
    parts.append(f"enc AS (\n{enc}\n)")
    lut = "\nUNION ALL\n".join(
        f"SELECT e.vec_id AS q_id, {j} AS j, c.cid, {dist} AS pd2\n"
        f"FROM (SELECT vec_id, v FROM e{j} WHERE vec_id < {nq}) e CROSS JOIN c{j}_{iters} c"
        for j in range(m)
    )
    parts.append(f"lut AS (\n{lut}\n)")
    parts.append(
        f"""adc AS (
  SELECT q_id, vec_id,
         CAST(SUM(CAST(pd2 AS DECIMAL(28,18))) AS DOUBLE) AS adc_d2
  FROM enc JOIN lut USING (j, cid)
  WHERE vec_id <> q_id
  GROUP BY q_id, vec_id
)"""
    )
    parts.append(
        f"""pq_topk AS (
  SELECT q_id, vec_id, adc_d2,
         CAST(rn AS INTEGER) AS rank
  FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_d2 ASC, vec_id ASC) AS rn
    FROM adc
  ) r WHERE rn <= {topk}
)"""
    )
    return parts


def knn_pq_adc_oracle(
    m: int = 4, k: int | None = None, iters: int | None = None, topk: int | None = None
) -> str:
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    topk = params.KNN_K if topk is None else topk
    parts = _pq_adc_parts(m, k, iters, params.KNN_NUM_QUERIES, topk)
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT q_id, vec_id, rank, adc_d2 FROM pq_topk"
    )


def knn_ivf_pq_oracle(
    topk: int | None = None,
    m: int = 4,
    k: int | None = None,
    iters: int | None = None,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> str:
    """IVF-PQ twin: the coarse Lloyd chain (_kmeans_ctes: e, c{iters},
    afinal) + the per-subspace PQ chains/enc/lut (_pq_adc_parts —
    whose full-corpus adc/pq_topk CTEs stay unreferenced dead code),
    with candidates restricted to the nprobe L2-nearest cells before
    the ADC sum."""
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    n_cells = K_DEFAULT if n_cells is None else n_cells
    topk = params.KNN_K if topk is None else topk
    nq = params.KNN_NUM_QUERIES
    qdist = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.qv, c.centroid),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    pq_parts = _pq_adc_parts(m, k, iters, nq, topk)
    return (
        _kmeans_ctes(n_cells, iters)
        + ",\n"
        + ",\n".join(pq_parts)
        + f""",
qv AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {nq}),
probed2 AS (
  SELECT q_id, cid FROM (
    SELECT q.q_id, c.cid,
      row_number() OVER (PARTITION BY q.q_id ORDER BY {qdist} ASC, c.cid ASC) AS cr
    FROM qv q CROSS JOIN c{iters} c
  ) pr WHERE cr <= {nprobe}
),
cand2 AS (
  SELECT p.q_id, a.vec_id
  FROM afinal a JOIN probed2 p ON a.cid = p.cid
  WHERE a.vec_id <> p.q_id
),
adc2 AS (
  SELECT c.q_id, c.vec_id,
         CAST(SUM(CAST(l.pd2 AS DECIMAL(28,18))) AS DOUBLE) AS adc_d2
  FROM cand2 c
  JOIN enc n ON n.vec_id = c.vec_id
  JOIN lut l ON l.q_id = c.q_id AND l.j = n.j AND l.cid = n.cid
  GROUP BY c.q_id, c.vec_id
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rank, adc_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_d2 ASC, vec_id ASC) AS rn
  FROM adc2
) r WHERE rn <= {topk}
"""
    )


def knn_ivf_pq_recall_oracle(
    topk: int | None = None,
    m: int = 4,
    k: int | None = None,
    iters: int | None = None,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> str:
    """Recall twin for the composed IVF-PQ search: wraps
    knn_ivf_pq_oracle's result as a CTE next to the exact L2 top-k."""
    topk = params.KNN_K if topk is None else topk
    nq = params.KNN_NUM_QUERIES
    dist_full = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.v, e.v),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    inner = knn_ivf_pq_oracle(
        topk=topk, m=m, k=k, iters=iters, n_cells=n_cells, nprobe=nprobe
    )
    return f"""
WITH ivfpq AS ({inner}),
ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
exact_topk2 AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist_full} ASC, e.vec_id ASC) AS rn
    FROM (SELECT vec_id, v FROM ebase WHERE vec_id < {nq}) q
    JOIN ebase e ON e.vec_id <> q.vec_id
  ) r WHERE rn <= {topk}
)
SELECT q.q_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {float(topk)} AS recall_at_k
FROM (SELECT DISTINCT q_id FROM exact_topk2) q
LEFT JOIN (
  SELECT exact_topk2.q_id, count(*) AS n
  FROM exact_topk2 JOIN ivfpq USING (q_id, vec_id)
  GROUP BY exact_topk2.q_id
) h USING (q_id)
"""


def knn_pq_recall_oracle(
    m: int = 4, k: int | None = None, iters: int | None = None, topk: int | None = None
) -> str:
    """Recall@k of PQ-ADC against EXACT L2 top-k (same metric as the
    quantized search, so the readout isolates quantization loss)."""
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    topk = params.KNN_K if topk is None else topk
    nq = params.KNN_NUM_QUERIES
    dist_full = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.v, e.v),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    parts = _pq_adc_parts(m, k, iters, nq, topk)
    parts.append(
        f"""exact_topk AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist_full} ASC, e.vec_id ASC) AS rn
    FROM (SELECT vec_id, v FROM ef WHERE vec_id < {nq}) q
    JOIN ef e ON e.vec_id <> q.vec_id
  ) r WHERE rn <= {topk}
)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT q.q_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {float(topk)} AS recall_at_k
FROM (SELECT DISTINCT q_id FROM exact_topk) q
LEFT JOIN (
  SELECT exact_topk.q_id, count(*) AS n
  FROM exact_topk JOIN pq_topk USING (q_id, vec_id)
  GROUP BY exact_topk.q_id
) h USING (q_id)
"""
    )

def jpeg_decode_oracle() -> str:
    """Twin of multimodal.jpeg_decode: the fixture's blocks are
    uniform, so each decoded block value has the closed form
    clamp(2*floor((v-128)/2 + 0.5) + 128) — the Spark side runs the
    REAL baseline-JPEG decoder (Huffman, DC prediction, dequantize,
    IDCT) over real encoded blobs, and any slip diverges from this."""
    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    nblocks = (mm.JPEG_W // 8) * (mm.JPEG_H // 8)
    v = f"(doc_id * {mm.JPEG_PIX_A} + b * {mm.JPEG_PIX_B}) % 256"
    d = (
        f"LEAST(255, GREATEST(0, 2 * CAST(floor(({v} - 128) / 2.0 + 0.5) AS BIGINT) + 128))"
    )
    return f"""
WITH blocks AS (
  SELECT doc_id, unnest(generate_series(0, {nblocks - 1})) AS b FROM documents
),
dec AS (SELECT doc_id, {d} AS d FROM blocks)
SELECT doc_id,
  CAST({mm.JPEG_W} AS INTEGER) AS width,
  CAST({mm.JPEG_H} AS INTEGER) AS height,
  CAST(64 * SUM(d) AS BIGINT) AS pix_sum,
  CAST(MAX(d) AS INTEGER) AS pix_max,
  CAST(MIN(d) AS INTEGER) AS pix_min
FROM dec GROUP BY doc_id
"""

def minhash_band_sweep_oracle(band_configs: tuple[int, ...] = (8, 4, 2, 1)) -> str:
    """Twin of dedup.minhash_band_sweep: one banded candidate CTE per
    configuration, all measured against the same exhaustive-Jaccard
    ground truth."""
    parts = [
        f"""truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(a.shingles, b.shingles)))
      >= {params.JACCARD_THRESHOLD}
)"""
    ]
    selects = []
    for nb in band_configs:
        rows = params.MINHASH_K // nb
        band_selects = "\n  UNION ALL ".join(
            "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig".format(
                b=b,
                key=" || '_' || ".join(
                    f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
                ),
            )
            for b in range(nb)
        )
        parts.append(f"bands{nb} AS (\n  {band_selects}\n)")
        parts.append(
            f"""capped{nb} AS (
  SELECT doc_id, band_idx, band_key FROM (
    SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS n FROM bands{nb}
  ) b WHERE n <= {params.LSH_BUCKET_CAP}
)"""
        )
        parts.append(
            f"""cand{nb} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped{nb} a JOIN capped{nb} b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""
        )
        selects.append(
            f"""SELECT {nb} AS n_bands, {rows} AS rows_per_band,
  (SELECT CAST(count(*) AS BIGINT) FROM cand{nb}) AS n_candidates,
  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
  (SELECT CAST(count(*) AS BIGINT)
     FROM cand{nb} c JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    AS n_hits"""
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH {_minhash_sig_ctes()},
{','.join(parts)}
SELECT n_bands, rows_per_band, n_candidates, n_true_pairs, n_hits,
  CASE WHEN n_true_pairs > 0 THEN CAST(n_hits AS DOUBLE) / n_true_pairs END AS recall,
  CASE WHEN n_candidates > 0 THEN CAST(n_hits AS DOUBLE) / n_candidates END AS precision
FROM ({union}) s
"""


def q2_min_cost_supplier_oracle(
    p_type: str = "PROMO",
    p_size: int = 15,
    region_name: str = "EUROPE",
    topk: int = 100,
) -> str:
    """Independent formulation: the correlated scalar-MIN subquery
    exactly as TPC-H writes Q2 (vs the engine's grouped-min + equality
    join-back)."""
    return f"""
WITH supply AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{region_name}'
),
cand AS (
  SELECT p_partkey, supply_cost, s_suppkey, s_name, s_acctbal, n_name
  FROM supply
  JOIN part ON l_partkey = p_partkey
  JOIN rs ON l_suppkey = s_suppkey
  WHERE p_type = '{p_type}' AND p_size = {p_size}
)
SELECT s_acctbal, s_name, n_name, p_partkey, supply_cost
FROM cand c
WHERE supply_cost = (SELECT min(supply_cost) FROM cand c2
                     WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT {topk}
"""


def q11_important_parts_oracle(
    nation_name: str = "NATION_3", fraction_bp: int = 10
) -> str:
    """Independent formulation: scalar subquery in the HAVING, exactly
    as TPC-H writes Q11 (vs the engine's 1-row broadcast join). The
    threshold comparison is all-DECIMAL on both engines."""
    return f"""
WITH ns AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{nation_name}'
),
pv AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS value_dec
  FROM lineitem JOIN ns ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM pv
WHERE value_dec * 10000 > (SELECT sum(value_dec) FROM pv) * {fraction_bp}
"""


def semdedup_prune_oracle(
    k: int | None = None,
    iters: int = 2,
    threshold: float | None = None,
    train_denom: int | None = None,
    e_cte: str | None = None,
    count_relation: str = "embeddings",
) -> str:
    """SemDeDup prune ledger: replay the engine's SAMPLE-TRAINED
    k-means trajectory (adaptive cell count from the full corpus,
    Lloyd rounds over the 1/denom hash-sample + first-k seeds, ONE
    full-corpus assignment), compute centroid similarity per member,
    apply the SAME per-pair loser rule (keep lower cent_sim; ties keep
    lower vec_id), aggregate per cluster.

    ``e_cte`` overrides the vector-source CTE chain (must end by
    defining ``e(vec_id, v)``) and ``count_relation`` names the
    relation the adaptive-k count runs over — the hook
    semdedup_text_prune_oracle uses to swap the embeddings table for
    the corpus-derived hash vectors."""
    from flink_kafka_filter_transform_spark.functions.vectors import cosine_sql

    thr = params.EMB_NEARDUP_THRESHOLD if threshold is None else threshold
    denom = params.SEMDEDUP_TRAIN_DENOM if train_denom is None else train_denom
    k_sql = (
        str(k)
        if k is not None
        else (
            "(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / "
            f"{params.EMB_CELL_TARGET_ROWS}.0) AS BIGINT)) FROM {count_relation})"
        )
    )
    h = portable_hash64_sql("CAST(vec_id AS VARCHAR)")
    dist = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(e.v, c.centroid),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    parts = [
        e_cte
        if e_cte is not None
        else "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"smp AS (SELECT * FROM e WHERE {h} % {denom} = 0 OR vec_id < {k_sql})",
        f"c0 AS (SELECT vec_id AS cid, v AS centroid FROM e WHERE vec_id < {k_sql})",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM smp e CROSS JOIN {prev} c
  ) r WHERE rn = 1
)"""
        )
        parts.append(
            f"""s{i} AS (
  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS cv
  FROM (
    SELECT a{i}.cid,
      unnest(generate_series(1, len(e.v))) AS pos,
      unnest(e.v) AS val
    FROM a{i} JOIN smp e USING (vec_id)
  ) x GROUP BY cid, pos
)"""
        )
        parts.append(
            f"""c{i} AS (
  SELECT p.cid, coalesce(n.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS centroid FROM s{i} GROUP BY cid) n
  USING (cid)
)"""
        )
    parts.append(
        f"""afinal AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM e CROSS JOIN c{iters} c
  ) r WHERE rn = 1
)"""
    )
    return "WITH " + ",\n".join(parts) + f""",
cs AS (
  SELECT a.vec_id, a.cid, e.v,
         {cosine_sql('e.v', 'c.centroid')} AS cent_sim
  FROM afinal a JOIN e USING (vec_id) JOIN c{iters} c ON a.cid = c.cid
),
prs AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         x.cent_sim AS sim_a, y.cent_sim AS sim_b
  FROM cs x JOIN cs y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE {cosine_sql('x.v', 'y.v')} >= CAST({thr!r} AS DOUBLE)
),
dropped AS (
  SELECT DISTINCT CASE WHEN sim_a < sim_b THEN vec_b
                       WHEN sim_a > sim_b THEN vec_a
                       ELSE vec_b END AS vec_id
  FROM prs
)
SELECT a.cid AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(count(*) - sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_rate
FROM afinal a LEFT JOIN dropped d USING (vec_id)
GROUP BY a.cid
"""


def semdedup_text_prune_oracle(
    dim: int = 64,
    iters: int = 2,
    threshold: float | None = None,
    train_denom: int | None = None,
) -> str:
    """SemDeDup over the corpus-derived hashing-trick vectors
    (operators.dedup.semdedup_text_prune): the doc_hash_embedding CTE
    chain densified to ``dim`` coordinates (zeros filled, docs with no
    sparse rows excluded — both engines by construction), then the
    IDENTICAL sample-trained k-means + pair-prune chain as
    semdedup_prune_oracle, with adaptive k counted over the dense
    relation and the text-space threshold."""
    thr = params.SEMDEDUP_TEXT_THRESHOLD if threshold is None else threshold
    e_cte = f"""{_doc_hash_emb_cte(dim)},
dd AS (SELECT DISTINCT doc_id FROM emb),
pos AS (SELECT unnest(generate_series(0, {dim - 1})) AS pos),
e AS (
  SELECT dd.doc_id AS vec_id,
         list(CAST(coalesce(s.value, 0) AS DOUBLE) ORDER BY pos.pos) AS v
  FROM dd CROSS JOIN pos
  LEFT JOIN emb s ON s.doc_id = dd.doc_id AND s.idx = pos.pos
  GROUP BY dd.doc_id
)"""
    return semdedup_prune_oracle(
        iters=iters,
        threshold=thr,
        train_denom=train_denom,
        e_cte=e_cte,
        count_relation="e",
    )


def temperature_mixture_report_oracle() -> str:
    """Mirror of sampling.temperature_mixture_report: same token
    expression, same one-division-one-sqrt composition order."""
    return r"""
WITH per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '[^\s]+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_t, max(n_tokens) AS max_t
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_t AS DOUBLE) AS raw_share,
       sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_t AS DOUBLE)) AS temp_weight,
       sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_t AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) / CAST(max_t AS DOUBLE)) AS upsample_factor
FROM per_src CROSS JOIN tot
"""


def supply_chain_pagerank_oracle(iters: int | None = None, topk: int = 20) -> str:
    """Unrolled integer fixed-point PageRank: one (insum, rank) CTE
    pair per iteration, identical floor-divide arithmetic to
    operators.graph.pagerank (DuckDB `//` == Spark `DIV` for the
    all-positive values here)."""
    from flink_kafka_filter_transform_spark.operators.graph import PR_ITERS, PR_SCALE

    iters = PR_ITERS if iters is None else iters
    parts = [
        "e0 AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem)",
        "edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)",
        "verts AS (SELECT DISTINCT src AS node_id FROM edges)",
        f"nn AS (SELECT count(*) AS n, {PR_SCALE} // count(*) AS base, (15 * ({PR_SCALE} // count(*))) // 100 AS teleport FROM verts)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "r0 AS (SELECT node_id, CAST(base AS BIGINT) AS rank_scaled FROM verts CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS (
  SELECT e.dst AS node_id, sum(r.rank_scaled // d.deg) AS insum
  FROM edges e JOIN r{i - 1} r ON e.src = r.node_id JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{i} AS (
  SELECT v.node_id,
         CAST(nn.teleport + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS rank_scaled
  FROM verts v CROSS JOIN nn LEFT JOIN s{i} s ON v.node_id = s.node_id
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT CASE WHEN node_id % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       node_id // 2 AS key,
       rank_scaled,
       CAST(rank_scaled AS DOUBLE) / CAST({PR_SCALE} AS DOUBLE) AS rank
FROM r{iters}
ORDER BY rank_scaled DESC,
         CASE WHEN node_id % 2 = 0 THEN 'part' ELSE 'supplier' END,
         node_id // 2
LIMIT {topk}
"""


def dsir_proxy_weights_oracle(
    n_buckets: int = 64, target_mod: int = 50, ppm: int = 1_000_000
) -> str:
    """Mirror of sampling.dsir_proxy_weights: same hashed features,
    same add-1 ppm floor-division scoring (DuckDB `//` == Spark `DIV`
    on the all-positive ppm terms)."""
    h = portable_hash64_sql("u")
    hb = portable_hash64_sql("bg")
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '[^\s]+') AS t FROM documents
),
feats AS (
  SELECT doc_id, {h} % {n_buckets} AS b
  FROM (SELECT doc_id, unnest(t) AS u FROM toks)
  UNION ALL
  SELECT doc_id, {hb} % {n_buckets} AS b
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             list_zip(t[1:len(t) - 1], t[2:len(t)]),
             z -> z[1] || ' ' || z[2])) AS bg
    FROM toks
  )
),
cnt AS (SELECT doc_id, b, count(*) AS c FROM feats GROUP BY doc_id, b),
bkt AS (
  SELECT b, sum(c) AS r,
         coalesce(sum(CASE WHEN doc_id % {target_mod} = 0 THEN c END), 0) AS t
  FROM cnt GROUP BY b
),
tots AS (SELECT sum(r) AS rr, sum(t) AS tt FROM bkt),
sb AS (
  SELECT b, ((t + 1) * {ppm}) // (tt + {n_buckets})
           - ((r + 1) * {ppm}) // (rr + {n_buckets}) AS s
  FROM bkt CROSS JOIN tots
),
sc AS (SELECT doc_id, sum(c * s) AS score FROM cnt JOIN sb USING (b) GROUP BY doc_id)
SELECT d.doc_id, d.source,
       CAST(coalesce(score, 0) AS BIGINT) AS score,
       coalesce(score, 0) > 0 AS selected
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def knn_filtered_oracle(k: int = params.KNN_K) -> str:
    cos = cosine_sql("e.embedding", "q.q_vec")
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
           FROM embeddings WHERE vec_id < {params.KNN_NUM_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id, {cos} AS cos_sim
  FROM embeddings e JOIN q ON e.label = q.q_label
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Streaming maintenance sinks: post-drain state twins
# ---------------------------------------------------------------------------
# Every maintained state is a commutative monoid fold (register max /
# counter sum) over disjoint micro-batch partitions, so the drained
# streaming state must BIT-EQUAL the one-shot batch sketch — these
# oracles therefore compute the batch structure directly in SQL.


def hll_stream_state_oracle() -> str:
    """Final hll_merge_sink registers == the direct batch register
    relation (same hash, same rho, max per (group, register))."""
    from flink_kafka_filter_transform_spark.operators.sketch import M, RHO_MAX

    h = portable_hash64_sql("CAST(user_id AS VARCHAR)")
    return f"""
WITH h AS (SELECT event_type AS g, {h} AS h FROM events WHERE user_id IS NOT NULL),
b AS (SELECT g, h % {M} AS idx, h // {M} AS rest FROM h)
SELECT g AS event_type, idx AS _idx,
  CAST(max(CASE WHEN rest = 0 THEN {RHO_MAX} ELSE {RHO_MAX} - length(bin(rest)) END) AS INT) AS _r
FROM b GROUP BY g, idx
"""


def cms_stream_state_oracle() -> str:
    """Final cms_merge_sink grid == the one-shot batch CMS grid (sum
    over disjoint batches; same per-row salted hash buckets)."""
    from flink_kafka_filter_transform_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH

    hashes = {j: portable_hash64_sql(f"'{j}:' || tok") for j in range(CMS_DEPTH)}
    grid_rows = "\n  UNION ALL ".join(
        f"SELECT {j} AS row, {hashes[j]} % {CMS_WIDTH} AS bucket FROM ex"
        for j in range(CMS_DEPTH)
    )
    return rf"""
WITH ex AS (
  SELECT unnest(regexp_extract_all(text, '[^\s]+')) AS tok FROM documents
)
SELECT row, bucket, count(*) AS cell FROM (
  {grid_rows}
) rb GROUP BY row, bucket
"""


def bloom_stream_state_oracle() -> str:
    """Final bloom_merge_sink registers == the one-shot batch filter
    (bit_or over batches is lossless: OR of per-batch key-set
    registers equals registers of the union). Same content double-hash
    and probe positions as the batch bloom_build."""
    from flink_kafka_filter_transform_spark.operators import params

    h1 = portable_hash64_sql("text")
    h2 = portable_hash64_second_sql("text")
    m = params.BLOOM_REGS * params.BLOOM_REG_BITS
    rb = params.BLOOM_REG_BITS
    probes = ", ".join(str(j) for j in range(1, params.BLOOM_K + 1))
    return f"""
WITH k AS (SELECT DISTINCT {h1} AS h1, {h2} AS h2 FROM documents)
SELECT p // {rb} AS reg,
       bit_or(CAST(1 AS BIGINT) << CAST(p % {rb} AS INT)) AS bits
FROM (SELECT (h1 + j * h2) % {m} AS p FROM k, unnest([{probes}]) AS u(j))
GROUP BY 1
"""


def ivf_stream_cell_counts_oracle(k: int | None = None, iters: int | None = None) -> str:
    """Final ivf_assign_sink occupancy == per-cell cardinality of the
    batch assignment under the same deterministic Lloyd codebook."""
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    return f"""
{_kmeans_ctes(k, iters)}
SELECT cid, count(*) AS n_vectors FROM afinal GROUP BY cid
"""


def jpeg_color_decode_oracle() -> str:
    """Twin of multimodal.jpeg_color_decode: uniform DC-only blocks
    give every plane the closed form clamp(2*floor((v-128)/2+0.5)+128)
    per 8x8 block (chroma constant per 16x16 MCU), and the decoder's
    JFIF YCbCr->RGB is exact scaled-integer arithmetic — so the full
    channel statistics are recomputable without a decoder. Any Huffman
    slip, per-component DC-prediction mixup, upsample misalignment or
    conversion drift reds the hash."""
    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    bw = mm.JPEG_COLOR_W // 8
    mcux = mm.JPEG_COLOR_W // 16
    nblocks = bw * (mm.JPEG_COLOR_H // 8)

    def cf(v: str) -> str:
        return (
            f"LEAST(255, GREATEST(0, 2 * CAST(floor(({v} - 128) / 2.0 + 0.5) AS BIGINT) + 128))"
        )

    yv = f"(doc_id * {mm.JPEG_PIX_A} + b * {mm.JPEG_PIX_B}) % 256"
    mi = f"((b % {bw}) // 2) + ((b // {bw}) // 2) * {mcux}"
    cbv = f"(doc_id * {mm.JPEG_CB_A} + ({mi}) * {mm.JPEG_CB_B}) % 256"
    crv = f"(doc_id * {mm.JPEG_CR_A} + ({mi}) * {mm.JPEG_CR_B}) % 256"
    return f"""
WITH blocks AS (
  SELECT doc_id, unnest(generate_series(0, {nblocks - 1})) AS b FROM documents
),
dec AS (
  SELECT doc_id,
    {cf(yv)} AS yd,
    {cf(cbv)} AS cbd,
    {cf(crv)} AS crd
  FROM blocks
),
rgb AS (
  SELECT doc_id,
    LEAST(255, GREATEST(0, (1000 * yd + 1402 * (crd - 128) + 500) // 1000)) AS r,
    LEAST(255, GREATEST(0, (1000000 * yd - 344136 * (cbd - 128) - 714136 * (crd - 128) + 500000) // 1000000)) AS g,
    LEAST(255, GREATEST(0, (1000 * yd + 1772 * (cbd - 128) + 500) // 1000)) AS b
  FROM dec
)
SELECT doc_id,
  CAST({mm.JPEG_COLOR_W} AS INTEGER) AS width,
  CAST({mm.JPEG_COLOR_H} AS INTEGER) AS height,
  CAST(64 * SUM(r) AS BIGINT) AS r_sum,
  CAST(64 * SUM(g) AS BIGINT) AS g_sum,
  CAST(64 * SUM(b) AS BIGINT) AS b_sum,
  CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS rgb_max,
  CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS rgb_min
FROM rgb GROUP BY doc_id
"""


def bm25_top_docs_oracle(
    k: int = 5, query_mod: int = 200, query_terms: int = 6,
    k1: float = 1.2, b: float = 0.75,
) -> str:
    """Twin of text.bm25_top_docs — rational Robertson idf (no log,
    the tfidf transcendental-free rule), DECIMAL(28,18) per-pair score
    sums (order-proof), identical tie-break (bm25 DESC, doc_id ASC)."""
    return f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs,
    CAST(SUM(CAST(dl AS DECIMAL(28,18))) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfc AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
qterms AS (
  SELECT DISTINCT doc_id AS q_doc, unnest(t[1:{query_terms}]) AS term
  FROM toks WHERE doc_id % {query_mod} = 0
),
scored AS (
  SELECT q.q_doc, tf.doc_id,
    CAST(SUM(CAST(
      ((CAST(s.n_docs AS DOUBLE) - CAST(d.df_count AS DOUBLE) + 0.5)
        / (CAST(d.df_count AS DOUBLE) + 0.5))
      * (CAST(tf.tf AS DOUBLE) * {k1 + 1.0}
         / (CAST(tf.tf AS DOUBLE)
            + {k1} * ({1.0 - b} + {b} * CAST(dl.dl AS DOUBLE) / s.avgdl)))
    AS DECIMAL(28,18))) AS DOUBLE) AS bm25,
    count(*) AS n_matched_terms
  FROM tf
  JOIN qterms q USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dfc d ON tf.term = d.term
  CROSS JOIN stats s
  WHERE tf.doc_id <> q.q_doc
  GROUP BY q.q_doc, tf.doc_id
)
SELECT q_doc, rank, doc_id, n_matched_terms, bm25 FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY q_doc ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


def unigram_surprisal_oracle() -> str:
    """Twin of text.unigram_surprisal — integer-exact bit surprisal
    (length(bin(T // c)) - 1; no transcendentals), identical mean."""
    return f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
counts AS (SELECT term, count(*) AS cnt FROM ex GROUP BY term),
tot AS (SELECT SUM(cnt) AS total FROM counts),
bits AS (
  SELECT term, CAST(length(bin(t.total // c.cnt)) - 1 AS BIGINT) AS bits
  FROM counts c CROSS JOIN tot t
)
SELECT ex.doc_id,
  count(*) AS n_tokens,
  CAST(SUM(b.bits) AS BIGINT) AS sum_bits,
  CAST(SUM(b.bits) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_surprisal_bits
FROM ex JOIN bits b USING (term)
GROUP BY ex.doc_id
"""


def substring_dedup_stats_oracle(k: int = 32) -> str:
    """Exact-substring dedup profile: stride-1 char k-gram windows,
    cross-doc shared-window marking, islands rewrite for the longest
    duplicated run — the same relational steps as the Spark operator
    (operators.dedup.substring_dedup_stats)."""
    h = portable_hash64_sql(f"substr(text, CAST(pos AS INT), {k})")
    return f"""
WITH pg AS (
  SELECT doc_id, pos, {h} AS gh
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - {k - 1})) AS pos
    FROM documents
    WHERE length(text) >= {k}
  )
),
shared_gh AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pg)
  GROUP BY gh HAVING count(*) >= 2
),
shared AS (
  SELECT doc_id, pos FROM pg JOIN shared_gh USING (gh)
),
runs AS (
  SELECT doc_id, grp, count(*) AS run_len
  FROM (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM shared
  )
  GROUP BY doc_id, grp
),
maxrun AS (
  SELECT doc_id, max(run_len) AS max_run FROM runs GROUP BY doc_id
),
tot AS (
  SELECT doc_id, count(*) AS n_windows FROM pg GROUP BY doc_id
),
shr AS (
  SELECT doc_id, count(*) AS n_shared_windows FROM shared GROUP BY doc_id
)
SELECT t.doc_id,
  t.n_windows,
  CAST(COALESCE(s.n_shared_windows, 0) AS BIGINT) AS n_shared_windows,
  CAST(COALESCE(s.n_shared_windows, 0) AS DOUBLE) / CAST(t.n_windows AS DOUBLE)
    AS shared_window_fraction,
  CAST(COALESCE(m.max_run + {k - 1}, 0) AS BIGINT) AS max_shared_substr_chars
FROM tot t
LEFT JOIN shr s USING (doc_id)
LEFT JOIN maxrun m USING (doc_id)
"""


def substring_dedup_rewrite_oracle(k: int = 32) -> str:
    """Duplicate-span removal (Lee et al. 2021's cleaned-corpus
    output): cut positions = window occurs in a lower-doc_id doc,
    covered char intervals merged by the sorted-position lag rule,
    kept text = ordered string_agg of the complement segments — the
    same gaps-and-islands chain as the Spark operator
    (operators.dedup.substring_dedup_rewrite)."""
    h = portable_hash64_sql(f"substr(text, CAST(pos AS INT), {k})")
    return f"""
WITH pg AS (
  SELECT doc_id, pos, {h} AS gh
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - {k - 1})) AS pos
    FROM documents
    WHERE length(text) >= {k}
  )
),
firstdoc AS (SELECT gh, min(doc_id) AS mn FROM pg GROUP BY gh),
cut AS (
  SELECT doc_id, pos FROM pg JOIN firstdoc USING (gh) WHERE doc_id > mn
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {k}
              THEN 0 ELSE 1 END AS new_grp
  FROM cut
),
grps AS (
  SELECT doc_id, pos,
         sum(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
),
spans AS (
  SELECT doc_id, grp, min(pos) AS s, max(pos) + {k - 1} AS e
  FROM grps GROUP BY doc_id, grp
),
perdoc AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS rm
  FROM spans GROUP BY doc_id
),
segs AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
         s - 1 AS ke, s AS ord
  FROM spans
  UNION ALL
  SELECT mx.doc_id, mx.e + 1 AS ks, length(d.text) AS ke,
         2147483647 AS ord
  FROM (SELECT doc_id, max(e) AS e FROM spans GROUP BY doc_id) mx
  JOIN documents d USING (doc_id)
),
rebuilt AS (
  SELECT s.doc_id,
         string_agg(substr(d.text, CAST(s.ks AS INT),
                           CAST(greatest(s.ke - s.ks + 1, 0) AS INT)),
                    '' ORDER BY s.ord) AS clean_text
  FROM segs s JOIN documents d USING (doc_id)
  GROUP BY s.doc_id
)
SELECT d.doc_id,
  CAST(length(d.text) AS BIGINT) AS orig_chars,
  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans_removed,
  CAST(coalesce(p.rm, 0) AS BIGINT) AS chars_removed,
  coalesce(r.clean_text, d.text) AS clean_text,
  CAST(length(coalesce(r.clean_text, d.text)) AS BIGINT) AS clean_chars
FROM documents d
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""


def dedup_stream_state_oracle() -> str:
    """First-seen streaming ledger face: the final state equals exact
    corpus dedup — min-doc_id survivor and suppressed-copy count per
    content hash (streaming.state.streaming_first_seen)."""
    h = portable_hash64_sql("text")
    return f"""
SELECT {h} AS content_hash,
  min(doc_id) AS first_doc_id,
  count(*) - 1 AS n_suppressed
FROM documents GROUP BY 1
"""


def winnowing_overlap_oracle(k: int = 8, w: int = 16) -> str:
    """Winnowing fingerprints (MOSS): per-position min over w
    consecutive k-gram hashes, distinct per doc, cross-doc sharing —
    the same window frame and full-window rule as the Spark operator
    (operators.dedup.winnowing_overlap)."""
    h = portable_hash64_sql(f"substr(text, CAST(pos AS INT), {k})")
    return f"""
WITH pg AS (
  SELECT doc_id, pos, {h} AS gh
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - {k - 1})) AS pos
    FROM documents
    WHERE length(text) >= {k + w - 1}
  )
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
      min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
      count(*) OVER (PARTITION BY doc_id) AS n_pos
    FROM pg
  ) WHERE pos <= n_pos - {w} + 1
),
nd AS (SELECT fp, count(*) AS ndocs FROM fps GROUP BY fp)
SELECT f.doc_id,
  count(*) AS n_fingerprints,
  CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_shared_fingerprints,
  CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS shared_fp_fraction
FROM fps f JOIN nd USING (fp)
GROUP BY f.doc_id
"""


def winnowing_pairs_oracle(k: int = 8, w: int = 16, top_n: int = 100) -> str:
    """Pair-ranking twin of operators.dedup.winnowing_pairs: the same
    fps CTE as winnowing_overlap_oracle, the same WINNOWING_FP_CAP
    prune (a hot fingerprint is boilerplate), pair counts over the
    capped index, match_score against the smaller side's FULL
    fingerprint count, and the same total order under the LIMIT
    (n_shared desc, doc_a, doc_b) so the top-N is deterministic."""
    h = portable_hash64_sql(f"substr(text, CAST(pos AS INT), {k})")
    return f"""
WITH pg AS (
  SELECT doc_id, pos, {h} AS gh
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - {k - 1})) AS pos
    FROM documents
    WHERE length(text) >= {k + w - 1}
  )
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
      min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
      count(*) OVER (PARTITION BY doc_id) AS n_pos
    FROM pg
  ) WHERE pos <= n_pos - {w} + 1
),
sizes AS (SELECT doc_id, count(*) AS nf FROM fps GROUP BY doc_id),
nd AS (SELECT fp, count(*) AS _nd FROM fps GROUP BY fp),
capped AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN nd USING (fp)
  WHERE nd._nd <= {params.WINNOWING_FP_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fps
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared_fps,
  CAST(n_shared_fps AS DOUBLE) / least(sa.nf, sb.nf) AS match_score
FROM pairs
JOIN sizes sa ON sa.doc_id = pairs.doc_a
JOIN sizes sb ON sb.doc_id = pairs.doc_b
ORDER BY n_shared_fps DESC, doc_a, doc_b
LIMIT {top_n}
"""


def audio_frame_features_oracle(frame: int = 16) -> str:
    """Frame-level PCM features recomputed from the WAV fixture's
    closed form (multimodal._synth_wav: n = 50 + doc_id % 20 samples,
    s_i = (doc_id*7919 + i*104729) % 65536 - 32768, odd doc_ids carry
    WAV blobs) — integer-exact energy sums and strict-sign-flip zero
    crossings, so the differential needs no float tolerance."""
    s_i = "(doc_id * 7919 + i * 104729) % 65536 - 32768"
    s_next = "(doc_id * 7919 + (i + 1) * 104729) % 65536 - 32768"
    return f"""
WITH wav AS (
  SELECT doc_id, 50 + doc_id % 20 AS n FROM documents WHERE doc_id % 2 = 1
),
sv AS (
  SELECT doc_id, n, i, {s_i} AS s,
         i // {frame} AS frame_idx, i % {frame} AS o
  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM wav)
),
sp AS (
  SELECT doc_id, frame_idx, s,
    CASE WHEN o < {frame - 1} THEN {s_next} END AS s_next
  FROM sv WHERE frame_idx < n // {frame}
)
SELECT doc_id,
  CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(sum(s * s) AS BIGINT) AS energy_sum,
  CAST(sum(CASE WHEN s * s_next < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS zero_crossings
FROM sp GROUP BY doc_id, frame_idx
"""


def image_phash_pairs_oracle() -> str:
    """Twin of multimodal.image_phash_pairs: the 60-bit dHash is
    recomputed ENTIRELY in SQL from the fixture's closed-form raster —
    sampled-grid luma (r + 2g + b) // 4 at the nearest-neighbor index
    mapping, row-difference bits packed MSB-first — then the same
    4 x 15-bit chunk blocking, bucket cap, and bit_count(xor) verify
    as the Spark side. A decoder, luma, resize-index, or packing bug
    on either side diverges the hash and every downstream pair."""
    p = params
    # raster byte value at index x for document d (base b, perturbed
    # byte at pert): ((b*A + x*B + x*x*(1 + b % QMOD)) % 256,
    # +128 mod 256 when x = pert)
    def v(x: str) -> str:
        raw = (
            f"(base*{p.PHASH_PIX_A} + ({x})*{p.PHASH_PIX_B} "
            f"+ ({x})*({x})*(1 + base % {p.PHASH_PIX_QMOD})) % 256"
        )
        return (
            f"CASE WHEN ({x}) = pert THEN ({raw} + 128) % 256 ELSE {raw} END"
        )

    b0 = "(((i.i*h) // {rows})*w + ((j.j*w) // {cols}))*3".format(
        rows=p.PHASH_ROWS, cols=p.PHASH_COLS
    )
    chunk_arms = "\n    UNION ALL\n".join(
        f"SELECT doc_id, phash, {c} AS ci, (phash >> {p.PHASH_CHUNK_BITS * c}) "
        f"& {(1 << p.PHASH_CHUNK_BITS) - 1} AS ck FROM phash"
        for c in range(p.PHASH_CHUNKS)
    )
    return f"""
WITH img AS (
  SELECT doc_id, doc_id // {p.PHASH_GROUP} AS base,
         {p.PHASH_W_BASE} + (doc_id // {p.PHASH_GROUP}) % {p.PHASH_W_MOD} AS w,
         {p.PHASH_H_BASE} + (doc_id // {p.PHASH_GROUP}) % {p.PHASH_H_MOD} AS h,
         (doc_id * {p.PHASH_PERT_STEP}) % (({p.PHASH_W_BASE} + (doc_id // {p.PHASH_GROUP}) % {p.PHASH_W_MOD}) * ({p.PHASH_H_BASE} + (doc_id // {p.PHASH_GROUP}) % {p.PHASH_H_MOD}) * 3) AS pert
  FROM documents
),
grays AS (
  SELECT doc_id, i.i AS i, j.j AS j,
         (({v(b0)}) + 2*({v(b0 + " + 1")}) + ({v(b0 + " + 2")})) // 4 AS gray
  FROM img,
       generate_series(0, {p.PHASH_ROWS - 1}) AS i(i),
       generate_series(0, {p.PHASH_COLS - 1}) AS j(j)
),
bits AS (
  SELECT a.doc_id, a.i, a.j,
         CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
  FROM grays a JOIN grays b
    ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1
  WHERE a.j < {p.PHASH_COLS - 1}
),
phash AS (
  SELECT doc_id,
         CAST(SUM(CAST(bit AS BIGINT) << ({p.PHASH_BITS - 1} - (i*{p.PHASH_COLS - 1} + j))) AS BIGINT) AS phash
  FROM bits GROUP BY doc_id
),
chunks AS (
    {chunk_arms}
),
capped AS (
  SELECT * FROM (
    SELECT doc_id, phash, ci, ck,
           count(*) OVER (PARTITION BY ci, ck) AS _n
    FROM chunks
  ) WHERE _n <= {p.PHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS h_a,
                  b.doc_id AS doc_b, b.phash AS h_b
  FROM capped a JOIN capped b
    ON a.ci = b.ci AND a.ck = b.ck AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(h_a, h_b)) <= {p.PHASH_MAX_HAMMING}
"""


def bigram_surprisal_oracle() -> str:
    """Twin of text.bigram_surprisal — stupid-backoff bigram bits in
    pure integer arithmetic: conditional floor-log2 via
    length(bin(ctx // c2)) - 1 for bigrams at or above the count
    floor, unigram bits + the 2-bit backoff penalty below it, plain
    unigram bits for each document's first token."""
    mc = params.BIGRAM_MIN_COUNT
    pen = params.BIGRAM_BACKOFF_BITS
    return f"""
WITH {_TOKS_CTE},
base AS (SELECT doc_id, t FROM toks WHERE len(t) >= 1),
pairs AS (
  SELECT doc_id,
         unnest(t[1:len(t) - 1]) AS prev,
         unnest(t[2:len(t)]) AS cur
  FROM base WHERE len(t) >= 2
),
uni AS (
  SELECT term, count(*) AS cnt
  FROM (SELECT unnest(t) AS term FROM base) GROUP BY term
),
tot AS (SELECT SUM(cnt) AS total FROM uni),
term_bits AS (
  SELECT term, CAST(length(bin(t.total // u.cnt)) - 1 AS BIGINT) AS ub
  FROM uni u CROSS JOIN tot t
),
pc AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
ctx AS (SELECT prev, SUM(c2) AS ctx FROM pc GROUP BY prev),
pair_bits AS (
  SELECT pc.prev, pc.cur,
         CASE WHEN pc.c2 >= {mc}
              THEN CAST(length(bin(x.ctx // pc.c2)) - 1 AS BIGINT)
              ELSE {pen} + tb.ub END AS bits,
         CASE WHEN pc.c2 >= {mc} THEN 0 ELSE 1 END AS backoff
  FROM pc
  JOIN ctx x USING (prev)
  JOIN term_bits tb ON tb.term = pc.cur
),
scored AS (
  SELECT p.doc_id, b.bits, b.backoff
  FROM pairs p JOIN pair_bits b ON p.prev = b.prev AND p.cur = b.cur
  UNION ALL
  SELECT base.doc_id, tb.ub AS bits, 0 AS backoff
  FROM base JOIN term_bits tb ON tb.term = base.t[1]
)
SELECT doc_id,
  count(*) AS n_tokens,
  CAST(SUM(backoff) AS BIGINT) AS n_backoff,
  CAST(SUM(bits) AS BIGINT) AS sum_bits,
  CAST(SUM(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_surprisal_bits
FROM scored GROUP BY doc_id
"""


def audio_silence_segments_oracle() -> str:
    """Twin of multimodal.audio_silence_segments: samples-to-segments
    recomputed from the VAD fixture's closed form entirely in SQL —
    block-level activity congruence picks the noise or tiny sample
    form, frame energies are integer square sums, threshold, then
    gaps-and-islands (f - row_number per (doc, active) run) for the
    maximal segments. A decode, framing, energy, threshold, or
    run-fold bug on the Spark side diverges every affected row."""
    p = params
    n = p.VAD_NFRAMES * p.VAD_FRAME
    act = (
        f"(doc_id * {p.VAD_ACT_A} + ((i // {p.VAD_FRAME}) // {p.VAD_BLOCK})"
        f" * {p.VAD_ACT_B}) % {p.VAD_ACT_MOD} < {p.VAD_ACT_LT}"
    )
    noise = "(doc_id * 7919 + i * 104729) % 65536 - 32768"
    tiny = f"(doc_id + i) % {p.VAD_TINY_MOD} - {p.VAD_TINY_MOD // 2}"
    return f"""
WITH sv AS (
  SELECT doc_id, i,
    CASE WHEN {act} THEN {noise} ELSE {tiny} END AS s
  FROM (SELECT doc_id, unnest(generate_series(0, {n - 1})) AS i FROM documents)
),
fe AS (
  SELECT doc_id, i // {p.VAD_FRAME} AS f, sum(s * s) AS e
  FROM sv GROUP BY doc_id, i // {p.VAD_FRAME}
),
fa AS (
  SELECT doc_id, f,
    CASE WHEN e > {p.VAD_ENERGY_THRESHOLD} THEN 1 ELSE 0 END AS active
  FROM fe
),
isl AS (
  SELECT doc_id, f, active,
    f - row_number() OVER (PARTITION BY doc_id, active ORDER BY f) AS grp
  FROM fa
),
seg AS (
  SELECT doc_id, active, min(f) AS start_frame, count(*) AS n_frames
  FROM isl GROUP BY doc_id, active, grp
)
SELECT doc_id,
  row_number() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1 AS seg_idx,
  CAST(active AS BIGINT) AS active,
  CAST(start_frame AS BIGINT) AS start_frame,
  CAST(n_frames AS BIGINT) AS n_frames
FROM seg
"""


def audio_fingerprint_pairs_oracle() -> str:
    """Twin of multimodal.audio_fingerprint_pairs: frame energies and
    the 60-bit contour recomputed ENTIRELY in SQL from the fixture's
    closed-form samples (16-sample square-sum frames, comparison bits
    packed MSB-first), then the same chunk blocking, bucket cap, and
    bit_count(xor) verify as the Spark side."""
    p = params
    n = p.AFP_NFRAMES * p.AFP_FRAME
    idx = "(f.f*{fr} + k.k)".format(fr=p.AFP_FRAME)
    raw = (
        f"(base*{p.AFP_SAMP_A} + {idx}*{p.AFP_SAMP_B} "
        f"+ {idx}*{idx}*(1 + base % {p.AFP_SAMP_QMOD})) % 65536 - 32768"
    )
    chunk_arms = "\n    UNION ALL\n".join(
        f"SELECT doc_id, afp, {c} AS ci, (afp >> {p.AFP_CHUNK_BITS * c}) "
        f"& {(1 << p.AFP_CHUNK_BITS) - 1} AS ck FROM afp"
        for c in range(p.AFP_CHUNKS)
    )
    return f"""
WITH clip AS (
  SELECT doc_id, doc_id // {p.AFP_GROUP} AS base,
         (doc_id * {p.AFP_PERT_STEP}) % {n} AS pert
  FROM documents
),
samples AS (
  SELECT doc_id, f.f AS f,
         CASE WHEN {idx} = pert THEN {p.AFP_PERT_VALUE}
              ELSE {raw} END AS s
  FROM clip,
       generate_series(0, {p.AFP_NFRAMES - 1}) AS f(f),
       generate_series(0, {p.AFP_FRAME - 1}) AS k(k)
),
energies AS (
  SELECT doc_id, f, SUM(s * s) AS e FROM samples GROUP BY doc_id, f
),
bits AS (
  SELECT a.doc_id, a.f,
         CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM energies a JOIN energies b
    ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < {p.AFP_NFRAMES - 1}
),
afp AS (
  SELECT doc_id,
         CAST(SUM(CAST(bit AS BIGINT) << ({p.AFP_NFRAMES - 2} - f)) AS BIGINT) AS afp
  FROM bits GROUP BY doc_id
),
chunks AS (
    {chunk_arms}
),
capped AS (
  SELECT * FROM (
    SELECT doc_id, afp, ci, ck,
           count(*) OVER (PARTITION BY ci, ck) AS _n
    FROM chunks
  ) WHERE _n <= {p.AFP_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.afp AS h_a,
                  b.doc_id AS doc_b, b.afp AS h_b
  FROM capped a JOIN capped b
    ON a.ci = b.ci AND a.ck = b.ck AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(h_a, h_b)) <= {p.AFP_MAX_HAMMING}
"""


def video_frame_match_pairs_oracle() -> str:
    """Twin of multimodal.video_frame_match_pairs: every per-frame
    dHash is recomputed ENTIRELY in SQL from the fixture's closed form
    — gray(r, c) of frame seed s is byte c of md5(s || '|' || r) (the
    portable-hash primitive; the fixture writes that byte into all
    three channels so the decoder's (r + 2g + b) // 4 luma reproduces
    it exactly), row-difference bits packed MSB-first — then the same
    DISTINCT, frame-hash cap, equi-join, and matched-count threshold
    as the Spark side. A demux, decode, luma, or packing bug on either
    side diverges every downstream pair."""
    p = params
    gray = (
        "CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || "
        "CAST(r.r AS VARCHAR)), c.c*2 + 1, 2) AS BIGINT)"
    )
    return f"""
WITH vid AS (
  SELECT doc_id,
         doc_id // {p.VID_GROUP} AS g,
         (doc_id * {p.VID_UPOS_A}) % {p.VID_NFRAMES} AS p0,
         (doc_id * {p.VID_UPOS_B} + 1) % {p.VID_NFRAMES} AS p1
  FROM documents
),
frames AS (
  SELECT doc_id, f.f AS f,
         CASE WHEN f.f = p0 OR f.f = p1
              THEN {p.VID_SALT_UNIQ} + doc_id * {p.VID_NFRAMES} + f.f
              ELSE g * {p.VID_NFRAMES} + f.f END AS seed
  FROM vid, generate_series(0, {p.VID_NFRAMES - 1}) AS f(f)
),
grays AS (
  SELECT doc_id, f, r.r AS r, c.c AS c, {gray} AS gray
  FROM frames,
       generate_series(0, {p.VID_H - 1}) AS r(r),
       generate_series(0, {p.VID_W - 1}) AS c(c)
),
bits AS (
  SELECT a.doc_id, a.f, a.r, a.c,
         CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
  FROM grays a JOIN grays b
    ON a.doc_id = b.doc_id AND a.f = b.f AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < {p.VID_W - 1}
),
fhd AS (
  SELECT DISTINCT doc_id,
         CAST(SUM(CAST(bit AS BIGINT) << ({p.PHASH_BITS - 1} - (r*{p.VID_W - 1} + c))) AS BIGINT) AS fh
  FROM bits GROUP BY doc_id, f
),
capped AS (
  SELECT doc_id, fh FROM (
    SELECT doc_id, fh, count(*) OVER (PARTITION BY fh) AS _n FROM fhd
  ) WHERE _n <= {p.VID_FRAME_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_matched
FROM capped a JOIN capped b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING count(*) >= {p.VID_MIN_MATCH}
"""


def video_scene_cuts_oracle() -> str:
    """Twin of multimodal.video_scene_cuts: the scene-structured
    fixture's per-frame dHashes are recomputed entirely in SQL (md5-row
    grays, row-difference bits, MSB-first packing), then cuts =
    adjacent-frame Hamming > VID_CUT_HAMMING, scene runs = cumulative
    cut sums — NOT the fixture's seed layout, so a demux/decode/
    threshold bug on the Spark side diverges even where the layout
    would predict the same answer."""
    p = params
    gray = (
        "CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || "
        "CAST(r.r AS VARCHAR)), c.c*2 + 1, 2) AS BIGINT)"
    )
    return f"""
WITH pos AS (
  SELECT doc_id, f.f AS f,
         SUM(CASE WHEN f.f >= 1
                   AND (f.f * f.f) % {p.VID_SCENE_MOD} = doc_id % {p.VID_SCENE_MOD}
              THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY f.f) AS scene
  FROM documents, generate_series(0, {p.VID_NFRAMES - 1}) AS f(f)
),
frames AS (
  SELECT doc_id, f, {p.VID_SCENE_SALT} + doc_id * 32 + scene AS seed FROM pos
),
grays AS (
  SELECT doc_id, f, r.r AS r, c.c AS c, {gray} AS gray
  FROM frames,
       generate_series(0, {p.VID_H - 1}) AS r(r),
       generate_series(0, {p.VID_W - 1}) AS c(c)
),
bits AS (
  SELECT a.doc_id, a.f, a.r, a.c,
         CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
  FROM grays a JOIN grays b
    ON a.doc_id = b.doc_id AND a.f = b.f AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < {p.VID_W - 1}
),
fh AS (
  SELECT doc_id, f,
         CAST(SUM(CAST(bit AS BIGINT) << ({p.PHASH_BITS - 1} - (r*{p.VID_W - 1} + c))) AS BIGINT) AS fh
  FROM bits GROUP BY doc_id, f
),
cuts AS (
  SELECT a.doc_id, a.f + 1 AS f,
         CASE WHEN bit_count(xor(a.fh, b.fh)) > {p.VID_CUT_HAMMING}
              THEN 1 ELSE 0 END AS cut
  FROM fh a JOIN fh b ON a.doc_id = b.doc_id AND b.f = a.f + 1
),
scn AS (
  SELECT doc_id, f, SUM(cut) OVER (PARTITION BY doc_id ORDER BY f) AS scn
  FROM (SELECT doc_id, 0 AS f, 0 AS cut FROM documents
        UNION ALL
        SELECT doc_id, f, cut FROM cuts)
),
scene_sizes AS (
  SELECT doc_id, scn, count(*) AS sz FROM scn GROUP BY doc_id, scn
)
SELECT s.doc_id,
       CAST({p.VID_NFRAMES} AS BIGINT) AS n_frames,
       CAST(MAX(s.scn) AS BIGINT) AS n_cuts,
       CAST(MAX(s.scn) + 1 AS BIGINT) AS n_scenes,
       CAST(MAX(z.sz) AS BIGINT) AS longest_scene_frames
FROM scn s JOIN scene_sizes z ON s.doc_id = z.doc_id
GROUP BY s.doc_id
"""


def knn_ivf_pq_residual_oracle(
    topk: int | None = None,
    m: int = 4,
    k: int | None = None,
    iters: int | None = None,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> str:
    """Residual IVF-PQ twin (FAISS IVFPQ): the coarse Lloyd chain
    (_kmeans_ctes), per-vector residuals vs the assigned coarse
    centroid, per-subspace Lloyd chains over the RESIDUAL slices
    (r-prefixed CTEs, materialized like the coarse chain), per-
    (query, probed-cell) residual lookup tables, and the ADC sum over
    cell-restricted candidates. Mirrors operators.kmeans.
    knn_ivf_pq_residual's fold order, seeding, and tie-breaks."""
    import re as _re

    from flink_kafka_filter_transform_spark.operators.kmeans import (
        ITERS_DEFAULT,
        K_DEFAULT,
    )

    k = K_DEFAULT if k is None else k
    iters = ITERS_DEFAULT if iters is None else iters
    n_cells = K_DEFAULT if n_cells is None else n_cells
    topk = params.KNN_K if topk is None else topk
    nq = params.KNN_NUM_QUERIES

    def fold(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(list_zip({a}, {b}),"
            " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
            " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
        )

    sub = "list_transform(list_zip({a}, {b}), z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
    L = f"(len(rv) // {m})"
    parts = [
        f"""resid AS (
  SELECT a.vec_id, a.cid, {sub.format(a="e.v", b="c.centroid")} AS rv
  FROM afinal a JOIN e USING (vec_id) JOIN c{iters} c USING (cid)
)"""
    ]
    for j in range(m):
        parts.append(
            f"re{j} AS (SELECT vec_id, rv[({j} * {L} + 1):(({j} + 1) * {L})] AS v FROM resid)"
        )
        parts.append(
            f"rc{j}_0 AS (SELECT vec_id AS cid, v AS centroid FROM re{j} WHERE vec_id < {k})"
        )
        d = fold("e.v", "c.centroid")
        for i in range(1, iters + 1):
            prev = f"rc{j}_{i - 1}"
            parts.append(
                f"""ra{j}_{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {d} ASC, c.cid ASC) AS rn
    FROM re{j} e CROSS JOIN {prev} c
  ) r WHERE rn = 1
)"""
            )
            parts.append(
                f"""rs{j}_{i} AS (
  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS cv
  FROM (
    SELECT ra{j}_{i}.cid,
      unnest(generate_series(1, len(e.v))) AS pos,
      unnest(e.v) AS val
    FROM ra{j}_{i} JOIN re{j} e USING (vec_id)
  ) x GROUP BY cid, pos
)"""
            )
            parts.append(
                f"""rc{j}_{i} AS (
  SELECT p.cid, coalesce(n.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS centroid FROM rs{j}_{i} GROUP BY cid) n
  USING (cid)
)"""
            )
        parts.append(
            f"""raf{j} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {d} ASC, c.cid ASC) AS rn
    FROM re{j} e CROSS JOIN rc{j}_{iters} c
  ) r WHERE rn = 1
)"""
        )
    renc = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, vec_id, cid AS scid FROM raf{j}" for j in range(m)
    )
    parts.append(f"renc AS (\n{renc}\n)")
    qdist = fold("q.qv", "c.centroid")
    parts.append(f"qv2 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {nq})")
    parts.append(
        f"""rprobed AS (
  SELECT q_id, cid FROM (
    SELECT q.q_id, c.cid,
      row_number() OVER (PARTITION BY q.q_id ORDER BY {qdist} ASC, c.cid ASC) AS cr
    FROM qv2 q CROSS JOIN c{iters} c
  ) pr WHERE cr <= {nprobe}
)"""
    )
    parts.append(
        f"""qres AS (
  SELECT p.q_id, p.cid AS pcid, {sub.format(a="q.qv", b="c.centroid")} AS qrv
  FROM rprobed p JOIN qv2 q USING (q_id) JOIN c{iters} c USING (cid)
)"""
    )
    QL = f"(len(qrv) // {m})"
    sdist = fold("t.qs", "c.centroid")
    rlut = "\nUNION ALL\n".join(
        f"SELECT t.q_id, t.pcid, {j} AS j, c.cid AS scid, {sdist} AS pd2\n"
        f"FROM (SELECT q_id, pcid, qrv[({j} * {QL} + 1):(({j} + 1) * {QL})] AS qs FROM qres) t "
        f"CROSS JOIN rc{j}_{iters} c"
        for j in range(m)
    )
    parts.append(f"rlut AS (\n{rlut}\n)")
    parts.append(
        f"""rcand AS (
  SELECT p.q_id, a.cid AS pcid, a.vec_id
  FROM afinal a JOIN rprobed p ON a.cid = p.cid
  WHERE a.vec_id <> p.q_id
)"""
    )
    parts.append(
        f"""radc AS (
  SELECT c.q_id, c.vec_id,
         CAST(SUM(CAST(l.pd2 AS DECIMAL(28,18))) AS DOUBLE) AS adc_d2
  FROM rcand c
  JOIN renc n ON n.vec_id = c.vec_id
  JOIN rlut l ON l.q_id = c.q_id AND l.pcid = c.pcid AND l.j = n.j AND l.scid = n.scid
  GROUP BY c.q_id, c.vec_id
)"""
    )
    tail = f"""
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rank, adc_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_d2 ASC, vec_id ASC) AS rn
  FROM radc
) r WHERE rn <= {topk}
"""
    body = ",\n".join(parts)
    # materialize the residual chain CTEs like _kmeans_ctes does for
    # the coarse chain (DuckDB default inlining re-evaluates the whole
    # prefix at every reference level)
    body = _re.sub(
        r"\b(resid|re\d+|rc\d+_\d+|ra\d+_\d+|rs\d+_\d+|raf\d+|renc|qv2|rprobed|qres|rlut|rcand|radc) AS \(",
        r"\1 AS MATERIALIZED (",
        body,
    )
    return _kmeans_ctes(n_cells, iters) + ",\n" + body + tail


def knn_ivf_pq_residual_recall_oracle(
    topk: int | None = None,
    m: int = 4,
    k: int | None = None,
    iters: int | None = None,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> str:
    """Recall twin for residual IVF-PQ — wraps the residual oracle's
    result next to the exact L2 top-k (same shape as
    knn_ivf_pq_recall_oracle)."""
    topk = params.KNN_K if topk is None else topk
    nq = params.KNN_NUM_QUERIES
    dist_full = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.v, e.v),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    inner = knn_ivf_pq_residual_oracle(
        topk=topk, m=m, k=k, iters=iters, n_cells=n_cells, nprobe=nprobe
    )
    return f"""
WITH ivfpqr AS ({inner}),
ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
exact_topk3 AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist_full} ASC, e.vec_id ASC) AS rn
    FROM (SELECT vec_id, v FROM ebase WHERE vec_id < {nq}) q
    JOIN ebase e ON e.vec_id <> q.vec_id
  ) r WHERE rn <= {topk}
)
SELECT q.q_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {topk} AS recall_at_k
FROM (SELECT DISTINCT q_id FROM exact_topk3) q
LEFT JOIN (
  SELECT i.q_id, count(*) AS n
  FROM ivfpqr i JOIN exact_topk3 t ON t.q_id = i.q_id AND t.vec_id = i.vec_id
  GROUP BY i.q_id
) h USING (q_id)
"""


def gopher_quality_rules_oracle() -> str:
    """Independent per-rule Gopher hit counts — same integer-boundary
    rules as the engine (word count / mean word length / symbol ratio /
    alpha words / distinct stopwords), one flag pass + one rollup."""
    stop = _sql_list(params.STOPWORDS)
    return f"""
WITH raw AS (SELECT doc_id, text, regexp_extract_all(text, '[^\\s]+') AS t FROM documents),
flags AS (
  SELECT
    (len(t) < 50 OR len(t) > 100000) AS f1,
    (list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) < 3 * len(t)
     OR list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) > 10 * len(t)) AS f2,
    (10 * (length(text) - length(replace(text, '#', ''))) > len(t)
     OR 10 * (length(text) - length(replace(text, '...', ''))) > 3 * len(t)) AS f3,
    (5 * len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) < 4 * len(t)) AS f4,
    (len(list_intersect(list_distinct(t), {stop})) < 2) AS f5
  FROM raw
),
agg AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS n3,
         sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS n4,
         sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS n5,
         sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 AND NOT f5 THEN 1 ELSE 0 END) AS n6
  FROM flags
)
SELECT * FROM (
  SELECT 0 AS rule_no, 'all' AS rule, CAST(n0 AS BIGINT) AS n_docs FROM agg
  UNION ALL SELECT 1, 'word_count', CAST(n1 AS BIGINT) FROM agg
  UNION ALL SELECT 2, 'mean_word_length', CAST(n2 AS BIGINT) FROM agg
  UNION ALL SELECT 3, 'symbol_ratio', CAST(n3 AS BIGINT) FROM agg
  UNION ALL SELECT 4, 'alpha_words', CAST(n4 AS BIGINT) FROM agg
  UNION ALL SELECT 5, 'stopwords', CAST(n5 AS BIGINT) FROM agg
  UNION ALL SELECT 6, 'pass_all', CAST(n6 AS BIGINT) FROM agg
)
"""


def vocab_growth_curve_oracle(n_buckets: int = 20) -> str:
    """Heaps-curve twin: equal-width doc_id buckets, token-keyed
    min(doc_id) firsts, two rollups + cumulative windows."""
    return f"""
WITH {_TOKS_CTE},
base AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
mx AS (SELECT max(doc_id) AS m FROM base),
bt AS (
  SELECT CAST((doc_id * {n_buckets}) // (m + 1) AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS bucket_tokens
  FROM base, mx GROUP BY 1
),
firsts AS (
  SELECT tok, min(doc_id) AS fd
  FROM (SELECT doc_id, unnest(t) AS tok FROM base)
  GROUP BY tok
),
nt AS (
  SELECT CAST((fd * {n_buckets}) // (m + 1) AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS new_types
  FROM firsts, mx GROUP BY 1
)
SELECT bucket, n_docs, bucket_tokens,
       CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(bucket_tokens) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
FROM bt LEFT JOIN nt USING (bucket)
"""


def knn_ivf_pq_rerank_oracle(
    topk: int | None = None,
    shortlist_mult: int = 4,
    m: int = 4,
    k: int | None = None,
    iters: int | None = None,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> str:
    """Refine-stage twin: knn_ivf_pq_oracle at topk = shortlist as a
    CTE, exact L2 over the shortlist's true vectors, re-ranked top-k
    (same left-to-right fold as every exact-distance oracle)."""
    topk = params.KNN_K if topk is None else topk
    shortlist = shortlist_mult * topk
    dist_full = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.v, e.v),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    inner = knn_ivf_pq_oracle(
        topk=shortlist, m=m, k=k, iters=iters, n_cells=n_cells, nprobe=nprobe
    )
    return f"""
WITH short AS ({inner}),
ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
scored AS (
  SELECT s.q_id, s.vec_id, {dist_full} AS exact_d2
  FROM short s
  JOIN ebase e ON e.vec_id = s.vec_id
  JOIN ebase q ON q.vec_id = s.q_id
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rank, exact_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY exact_d2 ASC, vec_id ASC) AS rn
  FROM scored
) r WHERE rn <= {topk}
"""


def knn_ivf_pq_rerank_recall_oracle(
    topk: int | None = None,
    shortlist_mult: int = 4,
    m: int = 4,
    k: int | None = None,
    iters: int | None = None,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> str:
    """Recall twin for the re-ranked IVF-PQ search (same shape as
    knn_ivf_pq_recall_oracle, wrapping the rerank oracle)."""
    topk = params.KNN_K if topk is None else topk
    nq = params.KNN_NUM_QUERIES
    dist_full = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.v, e.v),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    inner = knn_ivf_pq_rerank_oracle(
        topk=topk, shortlist_mult=shortlist_mult, m=m, k=k,
        iters=iters, n_cells=n_cells, nprobe=nprobe,
    )
    return f"""
WITH ivfpqrr AS ({inner}),
ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
exact_topk4 AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist_full} ASC, e.vec_id ASC) AS rn
    FROM (SELECT vec_id, v FROM ebase WHERE vec_id < {nq}) q
    JOIN ebase e ON e.vec_id <> q.vec_id
  ) r WHERE rn <= {topk}
)
SELECT q.q_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {float(topk)} AS recall_at_k
FROM (SELECT DISTINCT q_id FROM exact_topk4) q
LEFT JOIN (
  SELECT i.q_id, count(*) AS n
  FROM ivfpqrr i JOIN exact_topk4 t ON t.q_id = i.q_id AND t.vec_id = i.vec_id
  GROUP BY i.q_id
) h USING (q_id)
"""


def knn_sq8_oracle(k: int | None = None) -> str:
    """SQ8 twin: per-dim [min,max] trained over the corpus, 8-bit
    codes via the identical floor(+0.5) expression, code-space L2
    d2 = sum span2_d * (cq_d - cx_d)^2 with the shared left-to-right
    double fold."""
    k = params.KNN_K if k is None else k
    nq = params.KNN_NUM_QUERIES
    return f"""
WITH eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
dims AS (
  SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx
  FROM eb, unnest(generate_series(1, len(v))) AS t(i)
  GROUP BY i
),
arrs AS (
  SELECT list(mn ORDER BY pos) AS mins,
         list(mx ORDER BY pos) AS maxs,
         list(((mx - mn) / 255.0) * ((mx - mn) / 255.0) ORDER BY pos) AS spans2
  FROM dims
),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(v)),
           i -> CAST(CASE WHEN maxs[i] > mins[i]
                     THEN floor((v[i] - mins[i]) * 255.0 / (maxs[i] - mins[i]) + 0.5)
                     ELSE 0 END AS INT)) AS c
  FROM eb, arrs
),
scored AS (
  SELECT q.vec_id AS q_id, x.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, len(q.c)),
             i -> CAST((q.c[i] - x.c[i]) * (q.c[i] - x.c[i]) AS DOUBLE) * a.spans2[i])),
           (acc, x2) -> acc + x2) AS sq8_d2
  FROM codes x
  JOIN (SELECT * FROM codes WHERE vec_id < {nq}) q ON x.vec_id <> q.vec_id
  CROSS JOIN arrs a
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rank, sq8_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sq8_d2 ASC, vec_id ASC) AS rn
  FROM scored
) r WHERE rn <= {k}
"""


def knn_sq8_recall_oracle(k: int | None = None) -> str:
    """Recall twin for SQ8 search (same wrap as the other recall
    oracles: approx CTE next to exact L2 top-k)."""
    k = params.KNN_K if k is None else k
    nq = params.KNN_NUM_QUERIES
    dist_full = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(list_zip(q.v, e.v),"
        " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    return f"""
WITH sq8 AS ({knn_sq8_oracle(k=k)}),
ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
exact_topk5 AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist_full} ASC, e.vec_id ASC) AS rn
    FROM (SELECT vec_id, v FROM ebase WHERE vec_id < {nq}) q
    JOIN ebase e ON e.vec_id <> q.vec_id
  ) r WHERE rn <= {k}
)
SELECT q.q_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {float(k)} AS recall_at_k
FROM (SELECT DISTINCT q_id FROM exact_topk5) q
LEFT JOIN (
  SELECT i.q_id, count(*) AS n
  FROM sq8 i JOIN exact_topk5 t ON t.q_id = i.q_id AND t.vec_id = i.vec_id
  GROUP BY i.q_id
) h USING (q_id)
"""


def neardup_kcore_oracle(k: int = 2, iters: int = 12) -> str:
    """k-core twin: the peeling fixpoint unrolled as a CTE chain
    (s0 -> s{iters}; the kmeans-oracle treatment of iterative
    algorithms) over the minhash pairs CTE. At the fixpoint every
    extra unrolled round is an identity, so a fixed unroll >= the
    engine's convergence round count agrees exactly — the engine
    RAISES if it fails to converge within the same bound."""
    parts = [
        f"pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p)",
        "e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e)",
    ]
    for t in range(iters):
        parts.append(
            f"""s{t + 1} AS MATERIALIZED (
  SELECT e.src AS id FROM e
  JOIN s{t} a ON e.src = a.id
  JOIN s{t} b ON e.dst = b.id
  GROUP BY e.src HAVING count(*) >= {k}
)"""
        )
    fin = f"s{iters}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
deg AS (
  SELECT e.src AS id, CAST(count(*) AS BIGINT) AS core_degree
  FROM e
  JOIN {fin} a ON e.src = a.id
  JOIN {fin} b ON e.dst = b.id
  GROUP BY e.src
)
SELECT v.id AS doc_id,
       m.id IS NOT NULL AS in_kcore,
       CAST(coalesce(deg.core_degree, 0) AS BIGINT) AS core_degree
FROM s0 v
LEFT JOIN {fin} m ON v.id = m.id
LEFT JOIN deg ON v.id = deg.id
"""
    )


def knn_ivf_filtered_oracle(
    k_neighbors: int = 5,
    n_cells: int | None = None,
    iters: int | None = None,
    nprobe: int = 2,
    filter_probe_mult: int = 2,
) -> str:
    """Filtered-IVF twin: knn_ivf_kmeans_oracle's coarse chain with
    the label predicate in the SAME candidate join and the widened
    (filter_probe_mult * nprobe) probe rule."""
    from flink_kafka_filter_transform_spark.operators.kmeans import ITERS_DEFAULT, K_DEFAULT

    n_cells = K_DEFAULT if n_cells is None else n_cells
    iters = ITERS_DEFAULT if iters is None else iters
    eff = filter_probe_mult * nprobe
    c_cos = cosine_sql("q.q_vec", "c.centroid")
    cos = cosine_sql("e2.v", "p.q_vec")
    return f"""
{_kmeans_ctes(n_cells, iters)},
el AS (SELECT vec_id, label FROM embeddings),
q AS (
  SELECT e.vec_id AS q_id, e.v AS q_vec, el.label AS q_label
  FROM e JOIN el ON e.vec_id = el.vec_id
  WHERE e.vec_id < {params.KNN_NUM_QUERIES}
),
probedf AS (
  SELECT q_id, q_vec, q_label, cid FROM (
    SELECT q.q_id, q.q_vec, q.q_label, c.cid,
      row_number() OVER (PARTITION BY q.q_id ORDER BY {c_cos} DESC, c.cid ASC) AS cr
    FROM q CROSS JOIN c{iters} c
  ) pr WHERE cr <= {eff}
),
scoredf AS (
  SELECT p.q_id, e2.vec_id, {cos} AS cos_sim
  FROM e e2
  JOIN el ON e2.vec_id = el.vec_id
  JOIN afinal m ON e2.vec_id = m.vec_id
  JOIN probedf p ON m.cid = p.cid AND el.label = p.q_label
  WHERE e2.vec_id <> p.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scoredf
) r WHERE rank <= {k_neighbors}
"""


def knn_ivf_filtered_recall_oracle(
    k_neighbors: int = 5,
    n_cells: int | None = None,
    iters: int | None = None,
    nprobe: int = 2,
    filter_probe_mult: int = 2,
) -> str:
    """Recall twin vs the exact FILTERED top-k (label predicate on the
    full scan — the knn_filtered semantics)."""
    inner = knn_ivf_filtered_oracle(
        k_neighbors=k_neighbors, n_cells=n_cells, iters=iters,
        nprobe=nprobe, filter_probe_mult=filter_probe_mult,
    )
    cosf = cosine_sql("e.v", "q.q_vec")
    nq = params.KNN_NUM_QUERIES
    return f"""
WITH ivff AS ({inner}),
ebase AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
exact_topkf AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
      row_number() OVER (PARTITION BY q.q_id ORDER BY {cosf} DESC, e.vec_id ASC) AS rn
    FROM (SELECT vec_id AS q_id, label AS q_label, v AS q_vec FROM ebase WHERE vec_id < {nq}) q
    JOIN ebase e ON e.vec_id <> q.q_id AND e.label = q.q_label
  ) r WHERE rn <= {k_neighbors}
)
SELECT q.q_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {float(k_neighbors)} AS recall_at_k
FROM (SELECT DISTINCT q_id FROM exact_topkf) q
LEFT JOIN (
  SELECT i.q_id, count(*) AS n
  FROM ivff i JOIN exact_topkf t ON t.q_id = i.q_id AND t.vec_id = i.vec_id
  GROUP BY i.q_id
) h USING (q_id)
"""


def knn_mrl_oracle(k: int = params.LSH_TOPK, dims: int = 16) -> str:
    """Prefix-truncation twin: cosine over v[1:dims] (DuckDB slice is
    inclusive; same 16 elements as Spark's slice(v, 1, 16))."""
    cos = cosine_sql("p.tv", "q.q_tv")
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE))[1:{dims}] AS tv
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, tv AS q_tv FROM base WHERE vec_id < {params.KNN_NUM_QUERIES}),
scored AS (
  SELECT q.q_id, p.vec_id, {cos} AS cos_sim
  FROM base p CROSS JOIN q WHERE p.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


def knn_mrl_recall_oracle(k: int = params.LSH_TOPK, dims: int = 16) -> str:
    return _recall_oracle(knn_mrl_oracle(k=k, dims=dims), k)


def events_hopping_window_oracle(
    size_s: int = 3600, slide_s: int = 1800
) -> str:
    """Hopping-window twin: integer epoch-microsecond window starts —
    for size = 2*slide every event belongs to exactly the windows
    starting at s0 = (t div slide)*slide and s0 - slide (both
    strictly newer than t - size for integer t), the same
    epoch-aligned set Spark's F.window generates."""
    size_us = size_s * 1_000_000
    slide_us = slide_s * 1_000_000
    n_wins = size_s // slide_s
    return f"""
WITH ev AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
  FROM events
),
expanded AS (
  SELECT ((us // {slide_us}) * {slide_us}) - k.k * {slide_us} AS start_us,
         event_type, value
  FROM ev, (SELECT unnest(generate_series(0, {n_wins - 1})) AS k) k
)
SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(make_timestamp(start_us + {size_us}), '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       count(*) AS n_events,
       {_dsum_sql('value')} AS sum_value
FROM expanded
GROUP BY start_us, event_type
"""


def events_retention_cohorts_oracle(max_k: int = 14) -> str:
    """Retention-triangle twin: integer epoch-day buckets, min-day
    cohorts, per-(cohort, k) distinct users."""
    return f"""
WITH ev AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
  FROM events
),
first AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT f.cohort_day, e.day - f.cohort_day AS k,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM ev e JOIN first f USING (user_id)
WHERE e.day - f.cohort_day <= {max_k}
GROUP BY f.cohort_day, k
"""


def _doc_hash_emb_cte(dim: int = 64) -> str:
    gh = portable_hash64_sql("tok")
    return f"""{_TOKS_CTE},
hv AS (SELECT doc_id, {gh} AS h FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
emb AS (
  SELECT doc_id, CAST(h % {dim} AS INT) AS idx,
         CAST(sum(CASE WHEN ((h // {dim}) & 1) = 0 THEN 1 ELSE -1 END) AS BIGINT) AS value
  FROM hv GROUP BY doc_id, idx
  HAVING sum(CASE WHEN ((h // {dim}) & 1) = 0 THEN 1 ELSE -1 END) <> 0
)"""


def doc_hash_embedding_oracle(dim: int = 64) -> str:
    """Hashing-trick twin: bucket = h mod dim, sign = bit log2(dim) of
    the SAME portable hash, integer sums, zeros dropped."""
    return f"WITH {_doc_hash_emb_cte(dim)}\nSELECT doc_id, idx, value FROM emb"


def doc_text_knn_oracle(k: int = 5, dim: int = 64) -> str:
    """Text-corpus cosine top-k twin over the hashed vectors: integer
    sparse dot + integer norms, ONE double division per pair."""
    nq = params.KNN_NUM_QUERIES
    return f"""
WITH {_doc_hash_emb_cte(dim)},
norms AS (SELECT doc_id, CAST(sum(value * value) AS BIGINT) AS n2 FROM emb GROUP BY doc_id),
q AS (SELECT doc_id AS q_id, idx, value AS q_value FROM emb WHERE doc_id < {nq}),
dots AS (
  SELECT q.q_id, e.doc_id, CAST(sum(e.value * q.q_value) AS BIGINT) AS dot
  FROM emb e JOIN q ON e.idx = q.idx AND e.doc_id <> q.q_id
  GROUP BY q.q_id, e.doc_id
),
scored AS (
  SELECT d.q_id, d.doc_id,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.n2 * qn.n2 AS DOUBLE)) AS cos_sim
  FROM dots d
  JOIN norms n ON n.doc_id = d.doc_id
  JOIN norms qn ON qn.doc_id = d.q_id
)
SELECT q_id, doc_id, rank, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
) r WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# URL canonicalization / host profile (r10) — operators.web
# ---------------------------------------------------------------------------


def _url_canon_cte() -> str:
    """Shared canonicalization chain: the raw-URL derivation template
    (operators.web.URL_EXPR, dialect-valid verbatim) plus the
    IDENTICAL regex steps the Spark map stage applies."""
    from flink_kafka_filter_transform_spark.operators.web import URL_EXPR

    return f"""
raw AS (
  SELECT doc_id, source, {URL_EXPR} AS url FROM documents
),
parts AS (
  SELECT doc_id, source, url,
    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
    regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1) AS auth,
    regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM raw
),
canon AS (
  SELECT doc_id, source, url, host,
    scheme || '://' || host ||
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443')
         THEN '' ELSE ':' || port END ||
    CASE WHEN pc = '' THEN '/' ELSE pc END ||
    CASE WHEN qc = '' THEN '' ELSE '?' || qc END AS canonical_url
  FROM (
    SELECT doc_id, source, url, scheme,
      regexp_replace(regexp_replace(lower(auth), ':[0-9]+$', ''),
                     '^www\\.', '') AS host,
      regexp_extract(auth, ':([0-9]+)$', 1) AS port,
      regexp_replace(path, '(/index\\.html|/)$', '') AS pc,
      coalesce(array_to_string(
        list_filter(str_split(query, '&'),
          t -> t <> '' AND NOT regexp_matches(t, '^(utm_|fbclid=|gclid=)')),
        '&'), '') AS qc
    FROM parts
  )
)"""


def url_canonical_dedup_oracle() -> str:
    """Duplicate canonical-URL groups: identical regex chain, one
    canonical_url-keyed rollup, group-size >= 2 filter
    (operators.web.url_canonical_dedup)."""
    return f"""
WITH {_url_canon_cte()}
SELECT canonical_url,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
  min(doc_id) AS first_doc_id
FROM canon
GROUP BY canonical_url
HAVING count(*) >= 2
"""


def host_profile_oracle() -> str:
    """Per-host crawl profile: one host-keyed rollup + arithmetic
    projection (operators.web.host_profile)."""
    return f"""
WITH {_url_canon_cte()}
SELECT host,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical_urls,
  CAST(count(*) - count(DISTINCT canonical_url) AS BIGINT) AS n_dup_docs,
  CAST(count(*) - count(DISTINCT canonical_url) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS dup_ratio,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM canon
GROUP BY host
"""


def normalized_exact_dedup_oracle() -> str:
    """Normalization-robust exact dedup: identical lowercase /
    POSIX-punct-to-space / whitespace-squash / trim chain (RE2
    [[:punct:]] and Java \\p{Punct} are the same 32 ASCII chars), then
    the hash groupBy (operators.dedup.normalized_exact_dedup)."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), "
        "'[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    hn = portable_hash64_sql(norm)
    hr = portable_hash64_sql("text")
    return f"""
SELECT {hn} AS norm_hash,
  CAST(count(*) AS BIGINT) AS n_copies,
  CAST(count(DISTINCT {hr}) AS BIGINT) AS n_raw_variants,
  min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
"""


def url_blocklist_report_oracle() -> str:
    """First-match URL blocklist counts over canonical URLs — same
    CASE chain as operators.web.url_blocklist_report."""
    return f"""
WITH {_url_canon_cte()},
r AS (
  SELECT CASE
    WHEN regexp_matches(host, '^h[0-9]*3[.]example[.]com$') THEN 1
    WHEN regexp_matches(canonical_url, '/page[0-9]*7([?]|$)') THEN 2
    WHEN regexp_matches(canonical_url, '[?&]ref=4($|&)') THEN 3
    ELSE 0 END AS r
  FROM canon
),
agg AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN r = 3 THEN 1 ELSE 0 END) AS n3,
         sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS n4
  FROM r
)
SELECT * FROM (
  SELECT 0 AS rule_no, 'all' AS rule, CAST(n0 AS BIGINT) AS n_docs FROM agg
  UNION ALL SELECT 1, 'blocked_mirror_host', CAST(n1 AS BIGINT) FROM agg
  UNION ALL SELECT 2, 'blocked_spam_path', CAST(n2 AS BIGINT) FROM agg
  UNION ALL SELECT 3, 'blocked_param', CAST(n3 AS BIGINT) FROM agg
  UNION ALL SELECT 4, 'allowed', CAST(n4 AS BIGINT) FROM agg
)
"""


def _html_blocks_cte() -> str:
    """Shared HTML boilerplate-removal chain (r14): the raw-page
    derivation template (operators.web.HTML_EXPR, dialect-valid
    verbatim) plus the IDENTICAL segmentation / strip / link-density
    steps the Spark map stage applies — split on closing block tags,
    LAST opening block tag names the block, inline tags become spaces,
    keep rule = tag blacklist + min length + integer link density.
    Thresholds are imported from the operator module so the two
    engines cannot drift."""
    from flink_kafka_filter_transform_spark.operators.web import (
        HTML_EXPR,
        MAX_LINK_DENSITY_PCT,
        MIN_BLOCK_CHARS,
    )

    return f"""
raw AS (SELECT doc_id, {HTML_EXPR} AS html FROM documents),
blocks AS (
  SELECT doc_id,
    list_filter(
      list_transform(regexp_split_to_array(html, '</(?:nav|div|p|footer)>'),
        p -> struct_pack(
          tag := regexp_extract(p, '^.*<(nav|div|p|footer)[^>]*>', 1),
          btext := trim(regexp_replace(regexp_replace(
                     regexp_extract(p, '^.*<(?:nav|div|p|footer)[^>]*>(.*)$', 1),
                     '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
          lchars := coalesce(list_sum(list_transform(
                      regexp_extract_all(
                        regexp_extract(p, '^.*<(?:nav|div|p|footer)[^>]*>(.*)$', 1),
                        '<a [^>]*>([^<]*)</a>', 1),
                      t -> length(t))), 0))),
      b -> b.tag <> '') AS bs
  FROM raw),
extract AS (
  SELECT doc_id,
    CAST(len(bs) AS BIGINT) AS n_blocks,
    CAST(len(ks) AS BIGINT) AS kept_blocks,
    CAST(len(bs) - len(ks) AS BIGINT) AS boiler_blocks,
    CAST(length(array_to_string(list_transform(ks, b -> b.btext), ' '))
         AS BIGINT) AS extracted_chars,
    array_to_string(list_transform(ks, b -> b.btext), ' ') AS extracted_text
  FROM (
    SELECT doc_id, bs,
      list_filter(bs, b -> b.tag NOT IN ('nav', 'footer')
                       AND length(b.btext) >= {MIN_BLOCK_CHARS}
                       AND b.lchars * 100
                           <= length(b.btext) * {MAX_LINK_DENSITY_PCT}) AS ks
    FROM blocks
  )
)"""


def html_boilerplate_extract_oracle() -> str:
    """Per-document main-content extraction report — identical
    template + segmentation + keep-rule chain
    (operators.web.html_boilerplate_extract)."""
    return f"""
WITH {_html_blocks_cte()}
SELECT doc_id, n_blocks, kept_blocks, boiler_blocks, extracted_chars,
       extracted_text
FROM extract
"""


def html_extract_quality_funnel_oracle() -> str:
    """Cumulative crawl-curation funnel over the EXTRACTED text —
    same gates as operators.web.html_extract_quality_funnel."""
    return f"""
WITH {_html_blocks_cte()},
flags AS (
  SELECT kept_blocks >= 1 AS c1,
         kept_blocks >= 1 AND extracted_chars >= 120 AS c2,
         kept_blocks >= 1 AND extracted_chars >= 120
           AND boiler_blocks * 100 <= n_blocks * 80 AS c3
  FROM extract
),
agg AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS n3
  FROM flags
)
SELECT * FROM (
  SELECT 0 AS stage_no, 'all' AS stage, CAST(n0 AS BIGINT) AS n_docs FROM agg
  UNION ALL SELECT 1, 'content_extracted', CAST(n1 AS BIGINT) FROM agg
  UNION ALL SELECT 2, 'min_length', CAST(n2 AS BIGINT) FROM agg
  UNION ALL SELECT 3, 'low_boiler_ratio', CAST(n3 AS BIGINT) FROM agg
)
"""


def char_entropy_profile_oracle() -> str:
    """Zeroth-order char-entropy bound, integer bits — identical
    explode / per-char count / floor-log2 rollup as the Spark operator
    (operators.text.char_entropy_profile)."""
    return """
WITH chars AS (
  SELECT doc_id, length(text) AS n, substr(text, CAST(i AS INT), 1) AS ch
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
    FROM documents WHERE length(text) > 0
  )
),
per_char AS (
  SELECT doc_id, n, ch, count(*) AS cnt FROM chars GROUP BY 1, 2, 3
),
perdoc AS (
  SELECT doc_id,
    CAST(min(n) AS BIGINT) AS n_chars,
    CAST(count(*) AS BIGINT) AS n_distinct_chars,
    CAST(sum(cnt * (length(bin(n // cnt)) - 1)) AS BIGINT) AS entropy_bits
  FROM per_char GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars, entropy_bits,
  CAST((1000 * entropy_bits) // n_chars AS BIGINT) AS millibits_per_char
FROM perdoc
"""


def dedup_cascade_report_oracle() -> str:
    """Cascade funnel twin: url-canonical min survivors -> normalized
    min among survivors -> MinHash pair rule (smaller S2-surviving
    partner drops the doc), one conditional rollup to 4 rows
    (operators.dedup.dedup_cascade_report). The pair relation is the
    full minhash_lsh_pairs oracle, subqueried whole — the
    split_leakage composition pattern."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), "
        "'[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    hn = portable_hash64_sql(norm)
    return f"""
WITH {_url_canon_cte()},
url_min AS (SELECT canonical_url, min(doc_id) AS m FROM canon GROUP BY 1),
s1 AS (
  SELECT c.doc_id FROM canon c JOIN url_min u USING (canonical_url)
  WHERE c.doc_id = u.m
),
norm AS (
  SELECT d.doc_id, {hn} AS nh FROM documents d JOIN s1 USING (doc_id)
),
norm_min AS (SELECT nh, min(doc_id) AS m FROM norm GROUP BY nh),
s2 AS (
  SELECT n.doc_id FROM norm n JOIN norm_min m USING (nh)
  WHERE n.doc_id = m.m
),
pairs AS (SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_oracle()}) p),
dropped3 AS (
  SELECT DISTINCT p.doc_b AS doc_id FROM pairs p
  JOIN s2 ON s2.doc_id = p.doc_a
),
s3 AS (
  SELECT doc_id FROM s2
  WHERE doc_id NOT IN (SELECT doc_id FROM dropped3)
),
base AS (SELECT doc_id, length(text) AS nc FROM documents),
agg AS (
  SELECT
    count(*) AS d0, sum(nc) AS c0,
    sum(CASE WHEN s1.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS d1,
    sum(CASE WHEN s1.doc_id IS NOT NULL THEN nc ELSE 0 END) AS c1,
    sum(CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS d2,
    sum(CASE WHEN s2.doc_id IS NOT NULL THEN nc ELSE 0 END) AS c2,
    sum(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS d3,
    sum(CASE WHEN s3.doc_id IS NOT NULL THEN nc ELSE 0 END) AS c3
  FROM base
  LEFT JOIN s1 USING (doc_id)
  LEFT JOIN s2 USING (doc_id)
  LEFT JOIN s3 USING (doc_id)
)
SELECT * FROM (
  SELECT 0 AS stage_no, 'corpus' AS stage, CAST(d0 AS BIGINT) AS n_docs,
         CAST(c0 AS BIGINT) AS n_chars FROM agg
  UNION ALL SELECT 1, 'url_dedup', CAST(d1 AS BIGINT), CAST(c1 AS BIGINT) FROM agg
  UNION ALL SELECT 2, 'normalized_exact', CAST(d2 AS BIGINT), CAST(c2 AS BIGINT) FROM agg
  UNION ALL SELECT 3, 'minhash_neardup', CAST(d3 AS BIGINT), CAST(c3 AS BIGINT) FROM agg
)
"""


def orders_profile_oracle() -> str:
    """Per-column profiling rows for the orders table — the same
    count / null / exact-distinct / min-max statistics as
    operators.relational.table_profile, one SELECT block per column
    (timestamps via strftime to the events_daily format)."""
    blocks = []
    for col, dtype in [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ]:
        if dtype in ("bigint", "double"):
            mn_s, mx_s = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
            mn_n = f"CAST(min({col}) AS DOUBLE)"
            mx_n = f"CAST(max({col}) AS DOUBLE)"
        elif dtype == "timestamp":
            mn_s = f"strftime(min({col}), '%Y-%m-%d %H:%M:%S')"
            mx_s = f"strftime(max({col}), '%Y-%m-%d %H:%M:%S')"
            mn_n, mx_n = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        else:
            mn_s, mx_s = f"min({col})", f"max({col})"
            mn_n, mx_n = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        blocks.append(f"""
  SELECT '{col}' AS column_name, '{dtype}' AS dtype,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
    CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
    {mn_s} AS min_str, {mx_s} AS max_str,
    {mn_n} AS min_num, {mx_n} AS max_num
  FROM orders""")
    return "SELECT * FROM (" + "\n  UNION ALL".join(blocks) + "\n)"


def interval_overlap_pairs_oracle() -> str:
    """NAIVE interval inequality self-join — checks the bucketed +
    ownership-deduped rewrite against direct overlap semantics (fine
    at sf0.01; that quadratic cost is exactly what the rewrite
    removes). Duration arithmetic and the composite iid mirror
    operators.rangejoin.lineitem_transit_intervals."""
    from flink_kafka_filter_transform_spark.operators.rangejoin import (
        TRANSIT_MOD_DAYS,
    )

    return f"""
WITH iv AS (
  SELECT l_suppkey,
         l_orderkey * 8 + l_linenumber AS iid,
         CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS BIGINT)
           AS start_day,
         CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000
              + 1 + (l_orderkey + l_linenumber) % {TRANSIT_MOD_DAYS} AS BIGINT)
           AS end_day
  FROM lineitem
)
SELECT a.l_suppkey AS l_suppkey,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(least(a.end_day, b.end_day) - greatest(a.start_day, b.start_day) + 1)
       AS BIGINT) AS sum_overlap_days,
  CAST(max(least(a.end_day, b.end_day) - greatest(a.start_day, b.start_day) + 1)
       AS BIGINT) AS max_overlap_days
FROM iv a JOIN iv b
  ON a.l_suppkey = b.l_suppkey AND a.iid < b.iid
 AND a.start_day <= b.end_day AND b.start_day <= a.end_day
GROUP BY a.l_suppkey
"""


def name_edit_neighbors_oracle() -> str:
    """NAIVE quadratic name join — checks the symmetric-delete
    blocking against direct Levenshtein semantics (the length
    pre-filter only cheapens the oracle; |len(a)-len(b)| > 1 already
    implies distance > 1)."""
    return """
SELECT a.c_custkey AS a_c_custkey, b.c_custkey AS b_c_custkey,
  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
  AND levenshtein(a.c_name, b.c_name) <= 1
"""


def supplier_customer_linkage_oracle() -> str:
    """NAIVE quadratic cross join on the 9-digit name-id suffix —
    checks the two-relation variant blocking (index the supplier
    side, probe with customer variants) against direct Levenshtein
    semantics. substr positions mirror linkage.NAME_ID_START/LEN;
    ids are ASCII so byte- and char-based levenshtein agree (the
    dialect pin tests/test_regex_dialect.py records)."""
    return """
SELECT c.c_custkey AS c_custkey, s.s_suppkey AS s_suppkey,
  CAST(levenshtein(substr(c.c_name, 10, 9), substr(s.s_name, 10, 9))
       AS INTEGER) AS distance
FROM customer c, supplier s
WHERE levenshtein(substr(c.c_name, 10, 9), substr(s.s_name, 10, 9)) <= 1
"""


def zordered_box_scan_oracle() -> str:
    """Layout-invariant twin of the Z-ordered 2-D box scan: values
    cannot depend on the storage layout, so the oracle is the plain
    filtered rollup; what Z-ordering changes is only file-level I/O
    (min/max skipping, measured from real footers in the plan test).
    Box constants mirror operators.relational.ZBOX_*."""
    from flink_kafka_filter_transform_spark.operators.relational import (
        ZBOX_DAY_HI,
        ZBOX_DAY_LO,
        ZBOX_PART_HI,
        ZBOX_PART_LO,
    )

    return f"""
SELECT l_returnflag,
  CAST(count(*) AS BIGINT) AS n_rows,
  {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
WHERE l_partkey BETWEEN {ZBOX_PART_LO} AND {ZBOX_PART_HI}
  AND CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS BIGINT)
      BETWEEN {ZBOX_DAY_LO} AND {ZBOX_DAY_HI}
GROUP BY l_returnflag
"""

