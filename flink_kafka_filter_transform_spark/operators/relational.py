"""General relational operators over the TPC-H-ish tables.

The reference has no SQL layer (SURVEY.md §2.2 — no joins between data
streams, no value aggregations, no windows); these queries prove the
engine carries the full relational surface a user migrating off the
reference onto a real analytics engine needs, and they are the bench
workload's heavy half.

Float determinism policy (vs the DuckDB oracle): double SUMs are
order-dependent, so every aggregated measure is summed as
DECIMAL(28,6) (exact, order-independent) and cast to double at the
end; averages divide the exact sum by the count in double. Per-row
double arithmetic (e.g. price*(1-discount)) is IEEE-deterministic and
written with identical association on both sides.

Scale notes: all joins are key-equi joins Catalyst can reorder;
dimension sides (region/nation/customer at 1:150k of lineitem) fall
under the broadcast threshold, so the big fact table is never
shuffled for them; AQE handles skew. Aggregations get map-side partial
combine for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_kafka_filter_transform_spark.sources.parquet import (
    ts_as_micros,
    ts_as_timestamp,
)

# "Idle customer" cutoff shared by q22_idle_rich_customers and
# customers_without_orders: this testdata gives every customer at least
# one lifetime order, so anti joins against ALL orders are vacuously
# empty; "no orders since the cutoff" keeps the gates non-empty.
Q22_IDLE_CUTOFF = "2000-01-01"


def _dsum(col: Column) -> Column:
    """Order-independent exact sum of a double measure -> double."""
    return F.sum(col.cast("decimal(28,6)")).cast("double")


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 analog: grouped pricing aggregates over lineitem."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / n).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / n).alias("avg_price"),
            (_dsum(F.col("l_discount")) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def q3_shipping_priority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 analog: top-10 unshipped orders by revenue for a segment."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"))
        # ISO string, not DATE: date/timestamp objects canonicalize
        # differently across Spark/DuckDB/pandas and would break the
        # driver's value hash
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "revenue")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H Q5 analog: revenue per nation where supplier and customer
    share the nation, region-restricted. Six-way join: the dimension
    chain broadcasts, lineitem never shuffles for it."""
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"))
    )


def top_customers_per_segment(customer: DataFrame, k: int = 3) -> DataFrame:
    """Window ranking: top-k customers by balance within each segment."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        customer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("c_mktsegment", "rank", "c_custkey", "c_name", "c_acctbal")
    )


def events_daily(events: DataFrame) -> DataFrame:
    """Daily per-type event rollup (the batch twin of a streaming
    tumbling-window count)."""
    day = F.date_format(ts_as_timestamp(events), "yyyy-MM-dd")
    return events.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value")).alias("sum_value"),
    )


def events_props_extract(events: DataFrame) -> DataFrame:
    """JSON property extraction + bucketed aggregation over props."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"), "value")
        .filter(F.col("k").isNotNull())
        .groupBy("event_type", F.expr("k div 10").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (_dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_value"),
        )
    )


def order_priority_stats(orders: DataFrame) -> DataFrame:
    """Distinct aggregation: order counts + distinct customers per priority."""
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        _dsum(F.col("o_totalprice")).alias("sum_totalprice"),
    )


def events_sessionized(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: split each user's event stream at >gap_minutes
    silences (lag + cumulative sum — the classic two-window pattern).

    Timestamps are compared as integer microseconds, which keeps the
    whole operator in exact integer arithmetic. Both windows shuffle
    once on user_id; at scale this is a single hash partitioning reused
    by both window specs."""
    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = ts_as_micros(events)
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_gap = events.select("user_id", "event_id", ts_us.alias("ts_us")).withColumn(
        "new_session",
        F.when(
            F.lag("ts_us").over(order).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(order)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = with_gap.withColumn("session_id", F.sum("new_session").over(running))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def event_path_report(
    events: DataFrame, k: int = 20, gap_minutes: int = 30, n: int = 2
) -> DataFrame:
    """Behavioral path mining: the corpus-wide top-``k`` length-``n``
    event-type sequences taken WITHIN a session — n=2 is the session
    TRANSITION MATRIX's top cells (the Markov-chain view of user
    behavior); larger n gives "what do users do in n steps" funnel
    candidates — sequence-mining lite,
    built from parts the engine already pins: the lag+cumsum session
    assignment of ``events_sessionized`` and the shifted-array n-gram
    builder of text.token_ngrams (paths are space-joined type windows,
    e.g. 'view click purchase').

    Determinism: events order by (ts_us, event_id) — event_id is
    unique, so per-session sequences are total-ordered and both
    engines agree; ties in path counts break lexically.

    Scale shape: the two session windows and the per-session
    collect_list all shuffle ONCE on user_id (same hash partitioning
    reused); per-session arrays are session-sized (bounded by the gap
    rule), path extraction is the O(events) shifted-array zip, and the
    path-count aggregation carries path-cardinality rows (<=
    |event_types|^n — tiny) with map-side combine into a
    TakeOrderedAndProject."""
    from flink_kafka_filter_transform_spark.operators.text import token_ngrams

    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = ts_as_micros(events)
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_gap = events.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us")
    ).withColumn(
        "new_session",
        F.when(
            F.lag("ts_us").over(order).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(order)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = with_gap.withColumn("session_id", F.sum("new_session").over(running))
    seqs = sessions.groupBy("user_id", "session_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts_us", "event_id", "event_type"))
        ).alias("_s")
    )
    types = F.transform(F.col("_s"), lambda s: s["event_type"])
    paths = seqs.select(
        F.explode(token_ngrams(types, n, distinct=False)).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), F.col("path").asc())
        .limit(k)
    )


def funnel_user_day_state(events: DataFrame) -> DataFrame:
    """The funnel's stateful core: each user's FIRST view/click/
    purchase microsecond per day, as conditional mins. min() merges
    monotonically and order-insensitively, so this exact aggregation
    also runs INCREMENTALLY under Structured Streaming (the streaming
    twin feeds a stream through this same function; late or replayed
    events can only refine a min, never corrupt it — see
    tests/test_streaming.py::test_funnel_stream_converges_with_late_data)."""
    from flink_kafka_filter_transform_spark.sources.parquet import ts_as_micros

    day = F.date_format(ts_as_timestamp(events), "yyyy-MM-dd")
    return (
        events.select(
            "user_id",
            day.alias("day"),
            "event_type",
            ts_as_micros(events).alias("_us"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("_us"))).alias("_v"),
            F.min(F.when(F.col("event_type") == "click", F.col("_us"))).alias("_c"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("_us"))).alias("_p"),
        )
    )


def funnel_day_rollup(per_user: DataFrame) -> DataFrame:
    """Day rollup over the per-(user, day) funnel state: strict
    v < c < p ordering decides conversion (ties break it, identically
    on both engines)."""
    clicked = F.col("_v").isNotNull() & F.col("_c").isNotNull() & (F.col("_c") > F.col("_v"))
    converted = clicked & F.col("_p").isNotNull() & (F.col("_p") > F.col("_c"))
    return (
        per_user.groupBy("day")
        .agg(
            F.sum(F.when(F.col("_v").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_viewers"),
            F.sum(F.when(clicked, 1).otherwise(0)).cast("bigint").alias("n_clickers"),
            F.sum(F.when(converted, 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted"),
        )
    )


def daily_funnel(events: DataFrame) -> DataFrame:
    """Ordered-event conversion funnel: per day, how many users viewed,
    how many of those clicked AFTER their first view, and how many
    completed view -> click -> purchase in timestamp order — the
    product-analytics staple the event surface lacked.

    Shape: one (user_id, day) aggregation with conditional mins
    (map-side combine), then a day rollup of fixed-width flags — two
    shuffles, no windows, no joins. The stateful stage is shared with
    the streaming twin (funnel_user_day_state)."""
    return funnel_day_rollup(funnel_user_day_state(events))


def daily_reconciliation(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """FULL OUTER reconciliation: per-day order placements vs lineitem
    shipments, keeping days present on EITHER side — the two-ledger
    audit shape (and the one join type the relational surface didn't
    exercise). Both inputs aggregate to day cardinality BEFORE the
    join, so the full-outer side carries ~one row per day regardless
    of input size; full outer cannot broadcast (both sides must
    produce unmatched rows), which is why the pre-aggregation, not the
    join strategy, is what makes this scale."""
    o = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("sum_order_value"),
    )
    l = lineitem.groupBy(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_shipped"))
    return (
        o.join(l, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce("sum_order_value", F.lit(0.0)).alias("sum_order_value"),
            F.coalesce("n_shipped", F.lit(0)).cast("bigint").alias("n_shipped"),
            F.when(F.col("n_orders").isNull(), F.lit("shipments_only"))
            .when(F.col("n_shipped").isNull(), F.lit("orders_only"))
            .otherwise(F.lit("both"))
            .alias("side"),
        )
    )


def value_outliers_by_type(events: DataFrame, z: float = 3.0) -> DataFrame:
    """Per-type z-score outlier profile: mean/population-stddev of
    ``value`` per event_type, and how many events sit more than ``z``
    deviations out — the monitoring-style anomaly scan the event
    surface lacked.

    Float discipline: sums and sums-of-squares fold as DECIMAL
    (order-independent, exact); mean, variance (E[x^2] - mean^2,
    clamped at 0), and sqrt are then fixed-order IEEE double ops —
    sqrt is correctly rounded by the standard, so unlike ln/exp it is
    bit-identical across engines and stays inside the float policy.

    Scale shape: one aggregation builds the per-type stats (map-side
    combine, one row per type); the tiny stats relation broadcasts
    back onto the stream for the outlier count — two passes over the
    input, zero data-sized shuffles beyond the first aggregation."""
    sum_v = F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
    sum_sq = F.sum(
        (F.col("value").cast("decimal(28,6)") * F.col("value").cast("decimal(28,6)"))
    ).cast("double")
    n = F.count(F.lit(1))
    stats = events.groupBy("event_type").agg(
        n.alias("n_events"),
        (sum_v / n).alias("mean_value"),
        (sum_sq / n).alias("_ex2"),
    )
    std = F.sqrt(
        F.greatest(
            F.col("_ex2") - F.col("mean_value") * F.col("mean_value"), F.lit(0.0)
        )
    )
    stats = stats.select("event_type", "n_events", "mean_value", std.alias("std_value"))
    flagged = (
        events.join(F.broadcast(stats), "event_type")
        .filter(
            F.abs(F.col("value") - F.col("mean_value"))
            > F.lit(z) * F.col("std_value")
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return stats.join(flagged, "event_type", "left").select(
        "event_type",
        "n_events",
        "mean_value",
        "std_value",
        F.coalesce("n_outliers", F.lit(0)).cast("bigint").alias("n_outliers"),
    )


def q4_order_priority_semi(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 analog: left-semi join — orders with at least one
    late-shipped lineitem, counted per priority. Semi joins stop at
    first match: no row multiplication, fact side streams through."""
    late = lineitem.filter(F.col("l_shipdate") > F.lit("1999-06-01").cast("timestamp"))
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def customers_without_orders(
    customer: DataFrame, orders: DataFrame, since: str = Q22_IDLE_CUTOFF
) -> DataFrame:
    """Anti join: customers with no orders since ``since`` (broadcast
    the distinct key set at scale, or let AQE pick). The date filter
    exists for the same reason as q22's: every customer in this
    testdata has a lifetime order, so 'never ordered' compared empty
    results on both engines — a vacuous differential gate."""
    recent = orders.filter(F.col("o_orderdate") >= F.lit(since).cast("timestamp"))
    return customer.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def revenue_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP aggregation: revenue at (flag, status), (flag), and grand
    total levels in one pass — Spark expands grouping sets map-side, so
    the shuffle still carries one partial row per group per mapper."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        _dsum(disc_price).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def revenue_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE aggregation: all four grouping levels (flag x status) in one
    pass. Same map-side grouping-set expansion as rollup; at scale the
    shuffle volume is #groups x #mappers regardless of input rows."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        _dsum(disc_price).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def _user_days(events: DataFrame, event_type: str) -> DataFrame:
    day = F.date_format(ts_as_timestamp(events), "yyyy-MM-dd")
    return (
        events.filter(F.col("event_type") == event_type)
        .select("user_id", day.alias("day"))
        .distinct()
    )


def users_purchase_except_error(events: DataFrame) -> DataFrame:
    """Set difference: (user, day) pairs with a purchase but no error
    that day. EXCEPT is a distinct + hash-partition by the full row —
    at scale both sides pre-aggregate to distinct pairs first, so the
    shuffle carries |distinct pairs|, not |events|."""
    return _user_days(events, "purchase").subtract(_user_days(events, "error"))


def users_purchase_intersect_error(events: DataFrame) -> DataFrame:
    """Set intersection: (user, day) pairs with both a purchase and an
    error event."""
    return _user_days(events, "purchase").intersect(_user_days(events, "error"))


def orders_top10(orders: DataFrame) -> DataFrame:
    """Global top-k: orderBy + limit compiles to TakeOrderedAndProject —
    each partition keeps a k-row heap and only k rows per partition
    reach the driver; never a full sort at scale."""
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


def user_value_moving_avg(events: DataFrame) -> DataFrame:
    """Per-user moving average of `value` over the last 3 events
    (analytic window frame). The frame sum is DECIMAL — exact and
    order-independent — divided by the frame count in double, so the
    result is bit-identical to the oracle despite float inputs."""
    ts_us = ts_as_micros(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "user_id", "event_id", ts_us.alias("ts_us"), "value"
    ).select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg_3"),
    )


def salted_event_counts(events: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Skew-safe two-phase aggregation: low-cardinality group keys
    (event_type: ~5 values over everything) would put all 100 TB behind
    5 reduce tasks. Salting splits each hot key into `salt_buckets`
    partials first; the second aggregation combines `salt_buckets`
    rows per key — O(keys x buckets), trivially small. Result is
    identical to the direct groupBy (decimal partial sums commute)."""
    salted = events.withColumn(
        "_salt", F.pmod(F.hash("event_id"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("_sum_v"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        F.sum("_sum_v").cast("double").alias("sum_value"),
    )


def event_value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of event value per type.

    Spark's `percentile` and DuckDB's `quantile_cont` share the
    lower + (upper-lower)*frac interpolation on sorted doubles and
    agree bit-for-bit (verified over the test corpus). Exact
    percentiles sort per group — at 100 TB swap in approx_percentile
    (t-digest, mergeable, no sort) and keep this as the oracle-checked
    reference semantics."""
    return events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50_value"),
        F.expr("percentile(value, 0.95)").alias("p95_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 analog: share of promo-part revenue in a ship window.

    Fact-dimension join: part broadcasts under the threshold at test
    scale; at 100 TB part is bucketed/bloom-joined but lineitem still
    never shuffles — the ratio is two exact decimal sums over the
    joined stream, divided in double at the end."""
    disc_price = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(28,6)")
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def revenue_grouping_sets(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS: (flag, status) and (status) only — the
    general form rollup/cube are sugar for. Same single-pass map-side
    grouping-set expansion."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return lineitem.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        _dsum(disc_price).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def scalar_function_showcase(orders: DataFrame) -> DataFrame:
    """Scalar-function breadth in one oracle-checked projection: date
    parts and day arithmetic, string slicing/casing/concat, math
    (abs/sqrt/floor/ceil/sign, all IEEE-or-integer deterministic),
    conditional (greatest/least/coalesce/nullif/CASE). Map-only plan —
    stays entirely inside one WholeStageCodegen span."""
    price = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.datediff(F.lit("1999-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "days_to_1999"
        ),
        F.upper(F.substring("o_orderpriority", 3, 100)).alias("priority_word"),
        F.length("o_orderpriority").cast("int").alias("priority_len"),
        F.concat_ws(":", "o_orderpriority", F.col("o_custkey").cast("string")).alias(
            "prio_cust"
        ),
        F.abs(price - F.lit(100000.0)).alias("abs_from_100k"),
        F.sqrt(price).alias("sqrt_price"),
        F.floor(price).cast("bigint").alias("floor_price"),
        F.ceil(price).cast("bigint").alias("ceil_price"),
        F.signum(price - F.lit(100000.0)).alias("price_sign"),
        F.greatest(price, F.lit(50000.0)).alias("floored_price"),
        F.least(F.col("o_custkey") % 100, F.lit(50)).cast("bigint").alias("capped_mod"),
        F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")), F.lit("(med)")).alias(
            "prio_or_med"
        ),
        F.when(price > 200000, "high").when(price > 100000, "mid").otherwise("low").alias(
            "price_band"
        ),
    )


def events_props_map_explode(events: DataFrame) -> DataFrame:
    """Map-type surface: parse the props JSON into MAP<STRING,STRING>,
    explode to (key, value) pairs, aggregate per key. Generators
    (explode) run inside codegen; the per-key agg is the only shuffle."""
    m = F.from_json(F.col("props"), "map<string,string>")
    ex = events.select("event_type", F.explode(m).alias("prop_key", "prop_val"))
    return ex.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("prop_val").alias("n_distinct_vals"),
        F.min("prop_val").alias("min_val"),
        F.max("prop_val").alias("max_val"),
    )


def window_function_showcase(orders: DataFrame) -> DataFrame:
    """Analytic-window breadth over one deterministic ordering:
    ranking (row_number/rank/dense_rank/ntile), offsets (lag/lead),
    frame endpoints (first/last value), and distribution
    (percent_rank/cume_dist — count ratios, so exact doubles). The
    single window spec means one shuffle + one sort serves all nine
    functions."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_orderkey", 1).over(w).alias("prev_key"),
        F.lead("o_orderkey", 1).over(w).alias("next_key"),
        F.first("o_orderkey").over(wf).alias("top_key"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).filter(F.col("rn") <= 50)


def events_daily_gapfilled(events: DataFrame) -> DataFrame:
    """Date-spine gap filling: every (day, event_type) cell over the
    observed date range, zero-filled where no events occurred — the
    resample/densify step every time-series rollup needs. The spine is
    sequence+explode over the global min/max (one tiny driver-free
    cross join that broadcasts); the real data joins back left."""
    day = F.to_date(ts_as_timestamp(events))
    daily = events.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = daily.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    return (
        grid.join(daily, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(events: DataFrame) -> DataFrame:
    """Pivot: one row per day, one count column per event type. The
    pivot values are EXPLICIT — with an explicit list Spark skips the
    extra distinct-collection job and the plan is a single grouped
    conditional aggregation, identical shape to the oracle's CASE
    sums (and the only sane form at scale: unknown pivot values mean
    an unbounded schema)."""
    day = F.date_format(ts_as_timestamp(events), "yyyy-MM-dd")
    return (
        events.groupBy(day.alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES],
        )
    )


def events_unpivot(events: DataFrame) -> DataFrame:
    """Unpivot (melt): the pivoted wide table back to long
    (day, event_type, n) rows — Spark's unpivot/stack surface. Zero-
    count cells are dropped to make the round trip exact."""
    wide = events_pivot(events)
    return (
        wide.unpivot(
            "day",
            [f"n_{t}" for t in EVENT_TYPES],
            "event_type",
            "n_events",
        )
        .withColumn("event_type", F.expr("substring(event_type, 3)"))
        .filter(F.col("n_events") > 0)
    )


def array_function_showcase(docs: DataFrame) -> DataFrame:
    """Array-function breadth over the token arrays: sort, dedupe,
    slice, set ops against a constant, existence predicates, and a
    fold — all Catalyst higher-order functions, one map-only plan."""
    from flink_kafka_filter_transform_spark.operators.text import tokens

    # NOT F.expr("regexp_extract_all(text, '[^\\s]+')"): Spark SQL
    # string literals eat the backslash ('\s' -> 's'), silently turning
    # the pattern into [^s]+ — use the Column-API helper instead.
    toks = tokens()
    stop = F.array(F.lit("the"), F.lit("and"), F.lit("of"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        # Driver contract: no array/map/struct output columns (the
        # harness canonicalizer cannot hash list cells) — join to a
        # string; tokens are [^\s]+ so a space separator is unambiguous.
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), " ").alias(
            "first5_sorted"
        ),
        F.size(F.array_intersect(toks, stop)).alias("n_stopword_kinds"),
        F.size(F.array_except(F.array_distinct(toks), stop)).alias("n_content_kinds"),
        F.array_contains(toks, "the").alias("has_the"),
        F.exists(toks, lambda t: F.length(t) > 10).alias("has_long_token"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        .cast("bigint")
        .alias("total_chars"),
    )


def orders_above_customer_avg(orders: DataFrame) -> DataFrame:
    """Correlated-subquery semantics, decorrelated: orders whose price
    exceeds their own customer's average order price. Spark expresses
    the correlation as aggregate + self-join (what a decorrelation
    rewrite produces); the oracle keeps the CORRELATED subquery form —
    two independent formulations of the same semantics. The per-
    customer average divides an exact decimal sum in double so both
    engines compare against the identical threshold."""
    avg_ = orders.groupBy(F.col("o_custkey").alias("_ck")).agg(
        (_dsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("cust_avg")
    )
    return (
        orders.join(avg_, F.col("o_custkey") == F.col("_ck"))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


def events_sessionized_native(events: DataFrame) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session_window —
    the same semantics as events_sessionized's lag + cumulative-sum
    formulation, expressed through the built-in operator (which also
    runs incrementally under streaming, see
    streaming.session_windowed_counts). The DuckDB oracle keeps the
    MANUAL formulation, so the hash match validates Spark's native
    session merging against an independent algorithm.

    Boundary note: session_window MERGES a gap of exactly 30 minutes
    (merge condition is start <= previous end — verified empirically
    by tests/test_properties.py::test_session_window_merges_exact_gap),
    matching the oracle's strictly-greater-breaks lag formulation on
    ALL inputs — including corpora with exact-gap consecutive pairs.
    """
    e = events.select(
        "user_id",
        ts_as_timestamp(events).alias("tsx"),
    )
    return (
        e.groupBy("user_id", F.session_window(F.col("tsx"), "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-shape breadth (round 3): the join/agg patterns a warehouse
# workload exercises that the earlier queries don't — filter-only agg,
# multi-nation join pair, left-join distribution, HAVING on a grouped
# join, and anti-join + scalar subquery. (The reference has no SQL
# layer at all — SURVEY §2.2 — this is extension surface; schemas are
# TPC-H-lite: no partsupp/receiptdate, predicates adapted.)
# ---------------------------------------------------------------------------


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 analog: pure filter + single aggregate — the query
    whose entire cost is scan efficiency. All three predicates reach
    the parquet reader as pushed filters; no shuffle (single partial
    agg row per task)."""
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= F.lit(0.02))
            & (F.col("l_discount") <= F.lit(0.06))
            & (F.col("l_quantity") < F.lit(24.0))
        )
        .agg(_dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q7_volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7 analog: revenue flowing between two nations, by
    (supplier nation, customer nation, ship year). The nation table
    joins twice under different roles — both broadcast (25 rows);
    only the fact-side join keys shuffle."""
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"))
    )


def q9_product_nation_profit(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q9 analog (no partsupp table -> revenue, not profit):
    discounted revenue by supplier nation and ship year for parts whose
    name matches. The part filter prunes BEFORE the fact join —
    predicate on the broadcast build side, so the probe discards
    non-matching rows at the hash lookup."""
    red_parts = part.filter(F.col("p_name").contains("re")).select("p_partkey")
    return (
        lineitem.join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"))
    )


def q10_returned_items(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """TPC-H Q10 analog: top-20 customers by revenue lost to returns in
    one quarter. TakeOrderedAndProject caps the result driver-side;
    ties broken by custkey so the top-20 set is deterministic."""
    rev = _dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q13_customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 analog: the order-count distribution over customers —
    LEFT join (zero-order customers must survive with count 0), then a
    second aggregation over the first's output. The second groupBy runs
    on a customer-cardinality relation, already tiny relative to the
    fact table."""
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count(col): NULLs don't count
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q18_large_volume_orders(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame, min_qty: float = 300.0
) -> DataFrame:
    """TPC-H Q18 analog: orders whose total quantity exceeds a
    threshold (HAVING on a grouped join), joined back to their
    customer. The quantity rollup happens on lineitem ALONE (one
    groupBy on the fact table, map-side combined) and only qualifying
    orderkeys — a tiny set — join onward."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(min_qty))
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q17_small_quantity(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#4", frac: float = 0.5
) -> DataFrame:
    """TPC-H Q17 analog: average yearly revenue lost if small-quantity
    orders for one brand's parts went unfilled. The classic correlated
    scalar subquery — ``l_quantity < frac * (SELECT avg(l_quantity) ...
    WHERE same part)`` — decorrelated into a per-part aggregate that
    joins back. (This schema has no p_container, so the inner predicate
    is brand-only; frac=0.5 instead of TPC-H's 0.2 keeps the gate
    non-vacuous at test SFs — 671 qualifying lineitems at sf0.01.)

    Scale shape: the brand filter prunes part to O(100) keys ->
    broadcast to the fact scan; the per-part threshold relation is
    bounded by the SAME broadcast-sized key set, so it broadcasts back
    onto the fact rows. ONE fact shuffle total (the per-part groupBy);
    the final 1-row aggregate is map-side combined."""
    bp = part.filter(F.col("p_brand") == F.lit(brand)).select("p_partkey")
    li = lineitem.join(
        F.broadcast(bp), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresh = li.groupBy("l_partkey").agg(
        (
            F.lit(frac).cast("double")
            * (_dsum(F.col("l_quantity")) / F.count(F.lit(1)))
        ).alias("max_qty")
    )
    return (
        li.join(
            F.broadcast(thresh.withColumnRenamed("l_partkey", "t_partkey")),
            F.col("l_partkey") == F.col("t_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("max_qty"))
        .agg((_dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


def q20_potential_promotion(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "red",
    frac: float = 0.5,
    min_pairs: int = 11,
) -> DataFrame:
    """TPC-H Q20 analog: suppliers who shipped a disproportionate share
    of their lifetime 'red' part volume during 1998. The original
    correlates partsupp.availqty against a scalar subquery over
    lineitem; this schema has no partsupp, so the correlated pair is
    (1998 shipped qty) vs (frac * lifetime shipped qty) per
    (supplier, part) — same per-group-scalar-subquery shape — and the
    supplier qualifies via HAVING >= min_pairs qualifying pairs (at
    this testdata every supplier has SOME dominating pair, so bare
    EXISTS would be vacuous).

    Scale shape: name-filtered part keys broadcast to the fact scan;
    BOTH correlated aggregates compute in ONE fact shuffle (conditional
    sum inside a single (suppkey, partkey) groupBy — no second scan, no
    self-join); the qualifying-pair count is a second shuffle over
    pair-sized rows (map-side combined); nation (fixed 25 rows) is
    broadcast-hinted, supplier (SF-proportional) is left to AQE."""
    rp = part.filter(F.col("p_name").startswith(name_prefix)).select("p_partkey")
    in_98 = (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")
    )
    pair = (
        lineitem.join(F.broadcast(rp), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            _dsum(F.col("l_quantity")).alias("q_all"),
            _dsum(F.when(in_98, F.col("l_quantity"))).alias("q_98"),
        )
    )
    qualifying = pair.filter(
        F.col("q_98") > F.lit(frac).cast("double") * F.col("q_all")
    )
    per_supp = qualifying.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).filter(F.col("n_pairs") >= F.lit(min_pairs))
    return (
        # supplier is SF-proportional: no pinned broadcast hint — the
        # planner/AQE re-decides per run (a pin is an OOM at 100 TB SF;
        # plans/explain.broadcast_hint_count docstring)
        per_supp.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "n_pairs")
        .orderBy("s_suppkey")
    )


def q22_idle_rich_customers(
    customer: DataFrame, orders: DataFrame, idle_cutoff: str = Q22_IDLE_CUTOFF
) -> DataFrame:
    """TPC-H Q22 analog: customers with above-average balance and no
    orders SINCE ``idle_cutoff``, counted per nation. Composes the two
    decorrelated shapes: a scalar subquery (global positive-balance
    average -> broadcast 1-row cross join) and an anti join against the
    date-filtered orders (never-ordered-recently). The cutoff exists
    because this testdata gives every customer at least one lifetime
    order (0 of 1500 order-less at sf0.01), which made the original
    "no orders ever" anti join vacuously empty — r3 ADVICE. At the
    cutoff the gate compares 55 rows / 23 nations at sf0.01. The date
    filter is pushed below the anti join's build side, so the shape
    (scalar subquery + anti join) is unchanged."""
    avg_bal = customer.filter(F.col("c_acctbal") > F.lit(0.0)).agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal")
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit(idle_cutoff).cast("timestamp"))
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def q8_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    share_nation: str = "NATION_3",
    region_name: str = "ASIA",
    p_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8 analog: one nation's share of PROMO-part revenue sold
    into one region, by order year. (The reference has no joins at all
    — SURVEY.md §2.2; this is the 7-table join + conditional-share
    aggregate shape a migrating user needs.)

    Scale shape: part is type-filtered then broadcast to the lineitem
    scan (the most selective reducer first); lineitem joins orders on
    the orderkey — the ONE unavoidable fact-fact shuffle; customer
    joins on custkey (Catalyst/AQE picks broadcast at test SFs, shuffle
    at scale — both sides already key-partitioned); supplier / nation
    x2 / region broadcast. The share is a conditional sum inside a
    single year-grouped aggregate — no second pass, no self-join."""
    tp = part.filter(F.col("p_type") == F.lit(p_type)).select("p_partkey")
    rn = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == F.lit(region_name))),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(tp), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(rn), F.col("c_nationkey") == F.col("c_nk"))
        # supplier is SF-proportional: unpinned, AQE decides (see q20 note)
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                _dsum(F.when(F.col("supp_nation") == F.lit(share_nation), vol))
                / _dsum(vol)
            ).alias("mkt_share")
        )
    )


def q12_shipping_delay(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 analog: does slow shipping correlate with order
    priority? This schema has no l_shipmode/commitdate, so the grouping
    key is the ship-delay bucket (days between order and ship date):
    fast < 30 <= medium < 90 <= slow. Per bucket, count lines from
    high-priority (1-URGENT / 2-HIGH) vs lower-priority orders — Q12's
    signature conditional two-counter aggregate.

    Scale shape: ONE fact-fact shuffle (lineitem x orders on orderkey;
    only 3 columns survive the scan on each side), then a 3-row
    map-side-combined aggregate. No windows, no second pass."""
    delay_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay_days < F.lit(30), F.lit("fast"))
        .when(delay_days < F.lit(90), F.lit("medium"))
        .otherwise(F.lit("slow"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, F.lit(1)).otherwise(F.lit(0))).alias("high_line_count"),
            F.sum(F.when(~high, F.lit(1)).otherwise(F.lit(0))).alias("low_line_count"),
        )
    )


def q15_top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    start: str = "1997-01-01",
    end: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q15 analog: the supplier(s) with maximum revenue in one
    quarter. The original defines a revenue VIEW and selects rows equal
    to its scalar-subquery max; here the view is a per-supplier
    aggregate and the max is a 1-row broadcast joined back — ties kept,
    exactly like the spec.

    Scale shape: quarter filter pushes to the lineitem scan; ONE
    supplier-keyed shuffle builds the revenue view (supplier cardinality
    — small rows); the global max is a 1-row aggregate broadcast back
    onto the view (no sort of the view, no window over all suppliers);
    supplier dimension broadcasts."""
    in_q = (F.col("l_shipdate") >= F.lit(start).cast("timestamp")) & (
        F.col("l_shipdate") < F.lit(end).cast("timestamp")
    )
    revenue = (
        lineitem.filter(in_q)
        .groupBy("l_suppkey")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        # supplier is SF-proportional: unpinned, AQE decides (see q20 note)
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q16_supplier_part_variety(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q16 analog: how many distinct suppliers can deliver each
    (brand, type, size) combination, excluding one brand, one type
    family, and suppliers flagged by the NOT-IN subquery (negative
    account balance stands in for the %Complaints% comment filter; this
    schema has no partsupp, so the supplier-part association is
    observed shipments in lineitem).

    Scale shape: the excluded-supplier set is tiny -> broadcast ANTI
    join (never a shuffled NOT IN); part attributes broadcast onto the
    fact scan; COUNT(DISTINCT) decomposes into two shuffles — dedup on
    (brand,type,size,suppkey), then count per (brand,type,size) — both
    map-side combined, both on post-projection short rows."""
    keep_part = part.filter(
        (F.col("p_brand") != F.lit("Brand#1"))
        & (F.col("p_type") != F.lit("PROMO"))
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supplier.filter(F.col("s_acctbal") < F.lit(0.0)).select("s_suppkey")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(keep_part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


def q19_discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 analog: revenue from three OR'd (brand, size-range,
    quantity-range) branches — the disjunctive-predicate pushdown
    shape. No shipmode/container in this schema, so each branch is
    brand + p_size BETWEEN + l_quantity BETWEEN.

    Scale shape: the part-side disjunction (brand AND size per branch)
    is applied BEFORE the join, shrinking part to the union of the
    three branches -> broadcast; only the quantity residual (the one
    fact-side conjunct) evaluates per joined row. The fact table is
    never shuffled; output is one map-side-combined row."""
    branch1_p = (F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 5)
    branch2_p = (F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 10)
    branch3_p = (F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
    pp = part.filter(branch1_p | branch2_p | branch3_p).select(
        "p_partkey", "p_brand", "p_size"
    )
    q = F.col("l_quantity")
    residual = (
        (branch1_p & q.between(1, 11))
        | (branch2_p & q.between(10, 20))
        | (branch3_p & q.between(20, 30))
    )
    return (
        lineitem.join(F.broadcast(pp), F.col("l_partkey") == F.col("p_partkey"))
        .filter(residual)
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue")
        )
    )


def q21_waiting_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    late_days: int = 60,
    topk: int = 20,
) -> DataFrame:
    """TPC-H Q21 analog: suppliers who single-handedly kept finished
    multi-supplier orders waiting. The original's EXISTS (another
    supplier on the order) + NOT EXISTS (another LATE supplier) pair is
    decorrelated into ONE per-order aggregate — n_supps >= 2 AND
    n_late_supps == 1 — then joined back to the late lines. 'Late'
    is l_shipdate > o_orderdate + late_days (no commit/receipt dates
    in this schema).

    Scale shape: one fact-fact shuffle (lineitem x F-status orders on
    orderkey) computes the late flag; the per-order supplier/late-
    supplier distinct counts reuse that SAME orderkey partitioning
    (no second exchange of the fact rows — Catalyst sees the child
    partitioning satisfies the groupBy); the qualifying-order set joins
    back on orderkey, again exchange-free; supplier/nation broadcast;
    top-k is a driver-side take on supplier-cardinality rows."""
    lo = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == F.lit("F")).select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
            ).alias("late"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct(F.col("l_suppkey")).alias("n_supps"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supps"
        ),
    )
    qualifying = per_order.filter(
        (F.col("n_supps") >= F.lit(2)) & (F.col("n_late_supps") == F.lit(1))
    ).select(F.col("l_orderkey").alias("q_orderkey"))
    return (
        lo.filter(F.col("late"))
        .join(qualifying, F.col("l_orderkey") == F.col("q_orderkey"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        # supplier is SF-proportional: unpinned, AQE decides (see q20 note)
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
        .limit(topk)
    )


def observed_supply(lineitem: DataFrame) -> DataFrame:
    """The partsupp stand-in this schema lacks: one row per observed
    (part, supplier) pair with the minimum unit price ever shipped as
    the supply-cost analog. Unit price is a per-row double division
    (IEEE-deterministic); MIN is exact.

    Scale shape: ONE fact shuffle on the composite (partkey, suppkey)
    key with map-side combine; output is partsupp-cardinality (distinct
    pairs), far smaller than lineitem."""
    return (
        lineitem.select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("_unit"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_unit").alias("supply_cost"))
    )


def q2_min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    p_type: str = "PROMO",
    p_size: int = 15,
    region_name: str = "EUROPE",
    topk: int = 100,
) -> DataFrame:
    """TPC-H Q2 analog: for each qualifying part, the regional
    supplier(s) offering the minimum supply cost — the correlated
    scalar-MIN-subquery shape (this schema has no partsupp, so the
    part-supplier catalog is ``observed_supply`` derived from shipped
    lines). Ties on the per-part min are kept, exactly like the spec;
    the final order is Q2's (acctbal DESC, nation, supplier, part) with
    a deterministic full tie-break before the LIMIT.

    Scale shape: the supply catalog is built with ONE fact shuffle
    (observed_supply); the 9-part dimension filter and the regional
    supplier set both broadcast onto it, so the catalog is never
    re-shuffled; the per-part MIN is a groupBy on the already-joined
    (part-filtered) catalog — tiny — joined back by equality (no
    window over the catalog). Completes the TPC-H shape inventory:
    with q11 this makes all 22 query shapes covered."""
    fp = part.filter(
        (F.col("p_type") == F.lit(p_type)) & (F.col("p_size") == F.lit(p_size))
    ).select("p_partkey")
    rs = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == F.lit(region_name))
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        observed_supply(lineitem)
        .join(F.broadcast(fp), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(rs), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    min_cost = cand.groupBy(F.col("p_partkey").alias("mc_partkey")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    return (
        cand.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("supply_cost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supply_cost")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name"),
            F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(topk)
    )


def q11_important_parts(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_3",
    fraction_bp: int = 10,
) -> DataFrame:
    """TPC-H Q11 analog: parts whose inventory value held by one
    nation's suppliers exceeds a fraction of that nation's total — the
    global-scalar-subquery HAVING shape. Value per (part) is
    sum(extendedprice * quantity) over lines shipped by the nation's
    suppliers; the threshold is ``fraction_bp`` basis points (1/10000)
    of the grand total. The comparison runs entirely in DECIMAL —
    value * 10000 > total * fraction_bp — so the gate is exact on both
    engines (no double rounding at the boundary).

    Scale shape: the nation's supplier set broadcasts onto the fact
    scan; ONE part-keyed shuffle builds the per-part values; the grand
    total is a 1-row aggregate broadcast back (never a window over all
    parts); HAVING filters part-cardinality rows."""
    ns = (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == F.lit(nation_name))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    val_dec = F.sum(
        (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(28,6)")
    )
    per_part = (
        lineitem.join(F.broadcast(ns), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(val_dec.alias("_value_dec"))
    )
    total = per_part.agg(F.sum("_value_dec").alias("_total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("_value_dec") * F.lit(10000)
            > F.col("_total_dec") * F.lit(fraction_bp)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("_value_dec").cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# Storage-bucketed co-located join (late r9)
# ---------------------------------------------------------------------------


BUCKETED_N = 8  # bucket count for the orders/lineitem twins


# (table_name, scratch_dir) pairs for every layout twin this process
# materialized — the twins' OWN cleanup registry, deliberately separate
# from the face-scratch one although both resolve their dirs through
# streaming.pipeline._scratch_dir. Face scratch is per-run and reclaimed
# as soon as the returned state is consumed (bench does so after every
# query), while the layout twins are memoized in the session catalog and
# must outlive every later query in the session: registering them for
# face cleanup deletes the table files out from under the catalog
# (FAILED_READ_FILE on the next read, found by the r9 bench run).
# Harnesses drain this registry once at end-of-run through
# cleanup_layout_scratch (bench.close, the sf1/sf3 tools), so repeated
# sessions don't accumulate orphaned parquet.
_LAYOUT_SCRATCH: list[tuple[str, str]] = []


def cleanup_layout_scratch(spark) -> list[str]:
    """Drop every layout-twin table this process created and delete its
    scratch dir through the Hadoop FileSystem API (so a configured
    HDFS/S3A scratch root is reclaimed too). END-of-run only (the twins
    are session-memoized): a mid-run call just means the next layout
    query pays one extra rematerialization (the _twin_ready self-heal),
    never a wrong result. Returns the deleted dirs."""
    from flink_kafka_filter_transform_spark.streaming.pipeline import _delete_path

    deleted: list[str] = []
    while _LAYOUT_SCRATCH:
        table, d = _LAYOUT_SCRATCH.pop()
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass
        _delete_path(spark, d)
        deleted.append(d)
    return deleted


def _ensure_layout_table(spark, table: str, prefix: str, write_fn) -> None:
    """Memoized per-TABLE materialization: probe readability, rebuild
    only this table if stale (a partial external deletion must not
    force the healthy sibling through a second full bucketed write),
    and register (table, dir) for end-of-run cleanup."""
    from flink_kafka_filter_transform_spark.streaming.pipeline import _scratch_dir

    if _twin_ready(spark, table):
        return
    scratch = _scratch_dir(spark, prefix)
    write_fn(f"{scratch}/{table}")
    _LAYOUT_SCRATCH.append((table, scratch))


def _twin_ready(spark, table: str) -> bool:
    """True when the memoized twin exists AND its files are readable
    (self-heals if an external cleaner reclaimed the scratch)."""
    if not spark.catalog.tableExists(table):
        return False
    try:
        spark.table(table).limit(1).collect()
        return True
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        return False


def _bucketed_twin_tables(spark, sf_dir: str) -> tuple[str, str]:
    """Materialize orders/lineitem ONCE per session as storage-BUCKETED
    external tables (CLUSTERED BY the order key, SORTED, bucketed
    parquet under a session-lived layout-scratch dir; metadata in the
    session catalog), memoized PER TABLE by a readability probe
    (_twin_ready via _ensure_layout_table — a deleted orders twin
    rebuilds orders only, never re-shuffles the healthy lineitem).
    This is the lakehouse layout decision the brief names alongside
    repartition(): pay one shuffle at WRITE time, then every future
    join/aggregation on the bucket key is exchange-free — at 100 TB a
    fact-to-fact join on the order key is the shuffle you cannot
    afford per-query, and bucketing is the only way to delete it
    without broadcasting (neither side is broadcastable)."""
    import hashlib

    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    tok = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders = f"sgraft_b_orders_{tok}"
    t_lineitem = f"sgraft_b_lineitem_{tok}"

    def write_bucketed(table: str, src: str, key: str):
        def write(path: str) -> None:
            (
                load_table(spark, src, sf_dir)
                .write.bucketBy(BUCKETED_N, key)
                .sortBy(key)
                .option("path", path)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(table)
            )

        return write

    _ensure_layout_table(
        spark, t_orders, "sgraft_bucketed_",
        write_bucketed(t_orders, "orders", "o_orderkey"),
    )
    _ensure_layout_table(
        spark, t_lineitem, "sgraft_bucketed_",
        write_bucketed(t_lineitem, "lineitem", "l_orderkey"),
    )
    return t_orders, t_lineitem


def bucketed_join_revenue(spark, sf_dir: str) -> DataFrame:
    """Per-priority order revenue off the storage-bucketed twins: the
    orders-to-lineitem join reads both sides pre-hashed into the SAME
    8 buckets on the order key, so the join needs NO exchange on
    either side (the plan gate asserts it) — the only shuffle in the
    whole query is the final 5-group priority rollup. Values are
    layout-invariant, so the oracle is the plain relational join; what
    bucketing changes is the PLAN, which is the point: this query is
    the repo's demonstration that the engine's join strategies extend
    to the storage layout tier (broadcast for dimensions, AQE for
    skew, buckets for fact-to-fact).

    The decimal-sum discipline matches q3 (_dsum), so the revenue is
    bit-exact cross-engine."""
    t_orders, t_lineitem = _bucketed_twin_tables(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    j = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue"),
        )
        .select("o_orderpriority", "n_orders", "n_items", "revenue")
    )


# ---------------------------------------------------------------------------
# Date-partitioned layout + partition pruning (late r9)
# ---------------------------------------------------------------------------


PARTITION_PRUNE_DAY = "2024-01-15"  # mid-range day of the events fixture


def _partitioned_events_table(spark, sf_dir: str) -> str:
    """Materialize events ONCE per session as a DATE-PARTITIONED
    external table (hive-style day= directories under a session-lived
    layout-scratch path) — bucketing's sibling layout decision: bucketing deletes the
    join shuffle, date partitioning deletes the SCAN for any
    day-bounded query. At 100 TB an event table is always laid out
    this way; a "yesterday's revenue" query that scans 3 years of
    history is the canonical layout bug."""
    import hashlib

    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    tok = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_events = f"sgraft_p_events_{tok}"

    def write(path: str) -> None:
        ev = load_table(spark, "events", sf_dir)
        day = F.date_format(ts_as_timestamp(ev), "yyyy-MM-dd")
        (
            ev.select(day.alias("day"), "event_type", "value")
            .write.partitionBy("day")
            .option("path", path)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(t_events)
        )

    _ensure_layout_table(spark, t_events, "sgraft_partitioned_", write)
    return t_events


def partitioned_daily_revenue(spark, sf_dir: str) -> DataFrame:
    """One day's per-type event rollup off the date-partitioned twin:
    the day predicate must resolve at PLANNING time against the
    partition directories (PartitionFilters in the scan, asserted by
    the plan gate), so the query reads 1 of 30 day partitions — the
    other 29 are never opened. Values are layout-invariant (oracle =
    the plain day-filtered rollup); what partitioning changes is the
    I/O, which is the point: with bucketed_join_revenue this
    completes the storage-layout pair (partition pruning for scans,
    buckets for joins)."""
    t_events = _partitioned_events_table(spark, sf_dir)
    e = spark.table(t_events).filter(F.col("day") == PARTITION_PRUNE_DAY)
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select("event_type", "n_events", "sum_value")
    )


def events_hopping_window(events: DataFrame) -> DataFrame:
    """Hopping (sliding) window rollup — the overlapping-window
    aggregation every streaming dashboard runs (1-hour windows, 30-min
    hop: each event lands in EXACTLY size/slide = 2 windows), here as
    the batch twin via the NATIVE ``F.window`` generator so Catalyst
    plans the window expansion (the same operator Structured Streaming
    uses with a watermark; epoch-aligned starts, UTC session).

    Scale shape: window expansion is a map-side Expand (x2 rows, no
    shuffle of its own), then ONE (window, event_type)-keyed aggregate
    with map-side combine — a tumbling rollup's cost times the overlap
    factor, never a self-join. Window starts leave as formatted
    strings (the events_daily convention: no tz-aware/naive hash
    ambiguity cross-engine)."""
    from flink_kafka_filter_transform_spark.sources.parquet import ts_as_timestamp

    w = F.window(ts_as_timestamp(events), "1 hour", "30 minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_end"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_retention_cohorts(events: DataFrame, max_k: int = 14) -> DataFrame:
    """Cohort retention — the classic product-analytics rollup this
    surface didn't yet cover (funnels, sessions, and paths are here;
    retention triangles are their standard companion): users are
    cohorted by their FIRST-seen day, and cell (cohort_day, k) counts
    the cohort members active again k days later (k = 0 is cohort
    size; k <= ``max_k`` bounds the triangle's width).

    Scale shape: one user-keyed min aggregate (map-side combined)
    builds the first-seen relation; it joins back user-keyed — the
    SAME partitioning the aggregate just produced, so at scale the
    join reuses the shuffle rather than adding one; the per-cell
    distinct-user count shuffles fixed-width (cohort_day, k, user_id)
    triples and the output is <= |days| x (max_k + 1) rows. Nothing
    broadcasts by hint: the first-seen relation is user-cardinality
    (corpus-scale), exactly the thing the broadcast rule forbids."""
    from flink_kafka_filter_transform_spark.sources.parquet import ts_as_micros

    # Integer DIV, not double `/` + cast (r9 ADVICE): micros above 2^53
    # (or a day-boundary rounding edge) could bucket differently than
    # the oracle's exact `//` — the repo's cross-engine discipline is
    # transcendental- and float-free wherever the oracle is.
    ev = events.select(
        "user_id", ts_as_micros(events).alias("_us")
    ).select("user_id", F.expr("_us DIV 86400000000").alias("day"))
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("k"),
        )
        .filter(F.col("k") <= max_k)
        .groupBy("cohort_day", "k")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def table_profile(df: DataFrame) -> DataFrame:
    """ANALYZE-style data-profiling readout — one row per COLUMN of
    the input relation: row count, null count, exact distinct count,
    min/max (string-typed columns and formatted timestamps in
    min_str/max_str, numerics as doubles in min_num/max_num) — the
    landing-data audit every ingestion pipeline runs before trusting
    a new drop (schema drift shows as a dtype change, a broken feed
    as a null-count spike, an ID collision as n_distinct < n_rows).

    Scale shape: ONE corpus scan — every per-column statistic folds
    into a single global aggregate (count/sum are map-side combined;
    each count(DISTINCT col) expands into Spark's standard
    multi-phase partial plan, one expand pass for all of them), then
    a stack() projection emits |columns| fixed-width rows. No join,
    no window, no broadcast. At 100 TB the exact distinct counts are
    the expensive part — swap count_distinct for
    approx_count_distinct (HLL, one pass, mergeable) when 2% error
    is acceptable; the oracle contract here is EXACT, so the
    registered query keeps the exact form.

    Timestamps format through the events_daily convention
    (yyyy-MM-dd HH:mm:ss) so min_str/max_str carry no cross-engine
    fractional-second ambiguity."""
    # r15 (guide §2): the pre-shuffle phase is HEAVY — the
    # count-distinct Expand multiplies every row by |columns|, then
    # sorts and partially aggregates on wide keys — and it runs at the
    # SCAN's parallelism (one task per single-row-group toy file:
    # 2.65 s of a 3.9 s wall in ONE task at sf0.1/32 cores).
    from flink_kafka_filter_transform_spark.sources.parquet import (
        respread_if_underpartitioned,
    )

    df = respread_if_underpartitioned(df)
    numeric = {"bigint", "int", "smallint", "tinyint", "double", "float", "decimal"}
    aggs: list = [F.count(F.lit(1)).alias("_rows")]
    names: list[str] = []
    dtypes: dict[str, str] = {}
    for field in df.schema.fields:
        c = field.name
        t = field.dataType.simpleString()
        # report NTZ/LTZ variants as plain 'timestamp': the dtype cell
        # is a cross-engine label, and DuckDB's view of the same
        # parquet column says TIMESTAMP
        if t.startswith("timestamp"):
            t = "timestamp"
        names.append(c)
        dtypes[c] = t
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
        if t in numeric:
            aggs.append(F.min(c).cast("double").alias(f"_mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"_mx_{c}"))
        elif t == "timestamp":
            fmt = "yyyy-MM-dd HH:mm:ss"
            aggs.append(
                F.date_format(F.min(c), fmt).alias(f"_mns_{c}")
            )
            aggs.append(
                F.date_format(F.max(c), fmt).alias(f"_mxs_{c}")
            )
        else:
            aggs.append(F.min(c).cast("string").alias(f"_mns_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_mxs_{c}"))
    agg = df.agg(*aggs)
    parts = []
    for c in names:
        t = dtypes[c]
        is_num = t in numeric
        parts.append(
            ", ".join(
                [
                    f"'{c}'",
                    f"'{t}'",
                    "_rows",
                    f"_nn_{c}",
                    f"_nd_{c}",
                    "CAST(NULL AS STRING)" if is_num else f"_mns_{c}",
                    "CAST(NULL AS STRING)" if is_num else f"_mxs_{c}",
                    f"_mn_{c}" if is_num else "CAST(NULL AS DOUBLE)",
                    f"_mx_{c}" if is_num else "CAST(NULL AS DOUBLE)",
                ]
            )
        )
    stack = (
        f"stack({len(names)}, " + ", ".join(parts) +
        ") AS (column_name, dtype, n_rows, n_nulls, n_distinct, "
        "min_str, max_str, min_num, max_num)"
    )
    return agg.select(F.expr(stack)).select(
        "column_name",
        "dtype",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_str",
        "max_str",
        "min_num",
        "max_num",
    )


# ---------------------------------------------------------------------------
# Z-ordered layout + 2-D box scan (r10) — third storage-layout member
# ---------------------------------------------------------------------------

# 2-D box predicate: a part range x a date range, the canonical
# "this product family, this year" analytic slice. The part range must
# exist at EVERY sf (the fixture's partkey domain scales with sf —
# 0..199 at sf0.001), and the day bounds are epoch days (integer DIV
# of micros — the float-free discipline) for calendar 1997, inside the
# fixture's 1995..2001 shipdate span; all four constants are mirrored
# into the oracle from here.
ZBOX_PART_LO, ZBOX_PART_HI = 16, 48
ZBOX_DAY_LO, ZBOX_DAY_HI = 9862, 10226
ZORDER_N_FILES = 16
_DAY_US = 86_400_000_000


def _zordered_lineitem_table(spark, sf_dir: str) -> str:
    """Materialize lineitem ONCE per session Z-ORDERED on
    (l_partkey, ship_day): sinks.write_zordered_parquet interleaves
    the two normalized key columns' bits and range-clusters on the
    Morton value, so each parquet file owns a compact square-ish
    region of the (part, day) plane — the multi-dimensional layout
    decision that completes the storage trio (buckets delete the join
    shuffle, date partitions delete the scan for ONE bounded column,
    Z-order makes min/max skipping selective on EITHER of two columns
    at once; a single-column sort nails one dimension and leaves the
    other spanning the whole domain in every file)."""
    import hashlib

    from flink_kafka_filter_transform_spark.sinks import write_zordered_parquet
    from flink_kafka_filter_transform_spark.sources.parquet import (
        load_table,
        ts_as_micros,
    )

    tok = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t = f"sgraft_z_lineitem_{tok}"

    def write(path: str) -> None:
        li = load_table(spark, "lineitem", sf_dir)
        df = li.select(
            "l_partkey",
            ts_as_micros(li, "l_shipdate").alias("_us"),
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
        ).select(
            "l_partkey",
            F.expr(f"_us DIV {_DAY_US}").alias("ship_day"),
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
        )
        write_zordered_parquet(
            df, path, "l_partkey", "ship_day", n_files=ZORDER_N_FILES
        )
        spark.sql(f"CREATE TABLE {t} USING parquet LOCATION '{path}'")

    _ensure_layout_table(spark, t, "sgraft_zorder_", write)
    return t


def zordered_box_scan(spark, sf_dir: str) -> DataFrame:
    """Per-returnflag revenue inside a 2-D (part x day) box off the
    Z-ordered twin: both range predicates reach the parquet reader as
    PushedFilters (plan-gated), and because the files are clustered on
    the interleaved key, footer min/max statistics skip the files
    whose (part, day) region misses the box — tests/test_plans
    measures files actually opened < ZORDER_N_FILES from the real
    footers, not from the plan. Values are layout-invariant, so the
    oracle is the plain filtered rollup over raw lineitem; what
    Z-ordering changes is the I/O, which is the point."""
    t = _zordered_lineitem_table(spark, sf_dir)
    li = spark.table(t).filter(
        (F.col("l_partkey") >= ZBOX_PART_LO)
        & (F.col("l_partkey") <= ZBOX_PART_HI)
        & (F.col("ship_day") >= ZBOX_DAY_LO)
        & (F.col("ship_day") <= ZBOX_DAY_HI)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue"),
        )
        .select("l_returnflag", "n_rows", "revenue")
    )

