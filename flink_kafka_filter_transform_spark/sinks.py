"""Batch sinks: clustered parquet lake writes.

The reference's only sink is Kafka (streaming/pipeline.kafka_sink
mirrors it). An analytics engine also needs the lake-write side, and
at 100 TB the write layout IS the performance contract for every
downstream reader: parquet footers carry per-row-group min/max
statistics, so a file layout clustered on the filter columns lets
readers skip whole row groups. ``write_zordered_parquet`` clusters on
two columns at once; ``write_clustered_parquet`` is its single-column
comparator. The partitioned and bucketed layouts are written by the
registered queries that read them (``relational.partitioned_daily_revenue``,
``relational.bucketed_join_revenue``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write parquet range-CLUSTERED on ``cluster_cols``: global range
    partition (each output file owns a disjoint key range) + sort
    within partitions (each ROW GROUP inside a file owns a narrow
    sub-range).

    Why this is a 100 TB lever: parquet footers carry per-row-group
    min/max statistics, and readers skip row groups whose range can't
    match the filter. On randomly-laid-out data every row group spans
    the whole key domain and nothing skips; after clustering, a point
    or range predicate touches only the files/row-groups covering its
    key range — the same scan goes from O(dataset) to O(selectivity).
    This is the single-column analog of Z-ordering (for multi-column
    locality, interleave the key bits first and cluster on that).
    ``tests/test_sinks.py`` measures the clustering factor from the
    actual parquet footer statistics rather than trusting the plan.
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def zorder_value(col_a: str, col_b: str, bits: int = 16):
    """Bit-interleaved (Morton/Z-order) key of two non-negative integer
    columns: bit i of each input lands at positions 2i / 2i+1, so rows
    close in Z-value are close in BOTH dimensions.

    Inputs must fit in ``bits`` bits — at scale, first map each column
    to its quantile rank (or truncate to the needed resolution); here
    the testdata ids/values are already small. Each input is masked to
    the declared bit width first: without the mask, a negative bigint
    sign-extends through shiftright and silently produces garbage
    interleavings (callers that normalize, like write_zordered_parquet,
    are unaffected; direct callers fail safe). Pure map expression
    (shiftright/and/shiftleft chains, whole-stage codegen'd).
    """
    from pyspark.sql import functions as F

    mask = F.lit((1 << bits) - 1).cast("bigint")
    a = F.col(col_a).cast("bigint").bitwiseAND(mask)
    b = F.col(col_b).cast("bigint").bitwiseAND(mask)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Parquet clustered on the Z-order curve of TWO columns: each
    file/row-group owns a compact square-ish region of the (a, b)
    plane, so min/max pruning is selective on EITHER column — the
    multi-dimensional generalization of ``write_clustered_parquet``
    (which nails one column and leaves the other spanning the whole
    domain). With k files, per-dimension row-group coverage shrinks to
    ~k^-1/2 instead of 1 (verified from real footers in
    tests/test_sinks.py).

    Both columns are min/max-NORMALIZED to the full bit width before
    interleaving: with raw values, the wider-ranged column's high bits
    outrank every bit of the narrower one and the curve degenerates to
    single-column ordering (measured: user_id coverage 1.0 before
    normalization, ~0.4 after)."""
    from pyspark.sql import functions as F

    bits = 16
    stats = df.agg(
        F.min(col_a).alias("_a_mn"),
        F.max(col_a).alias("_a_mx"),
        F.min(col_b).alias("_b_mn"),
        F.max(col_b).alias("_b_mx"),
    )

    def norm(c: str, mn: str, mx: str):
        span = (F.col(mx) - F.col(mn)).cast("double")
        # NULL keys coalesce to the domain minimum (bucket 0): leaving
        # them NULL would give NULL _z and silently pile every such row
        # into one unclustered partition spanning both full domains.
        val = F.coalesce(F.col(c), F.col(mn))
        scaled = (val - F.col(mn)).cast("double") / span * float((1 << bits) - 1)
        return F.when(span > 0, F.floor(scaled).cast("bigint")).otherwise(F.lit(0))

    z = zorder_value("_a_n", "_b_n", bits).alias("_z")
    (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_a_n", norm(col_a, "_a_mn", "_a_mx"))
        .withColumn("_b_n", norm(col_b, "_b_mn", "_b_mx"))
        .withColumn("_z", z)
        .drop("_a_n", "_b_n", "_a_mn", "_a_mx", "_b_mn", "_b_mx")
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )
