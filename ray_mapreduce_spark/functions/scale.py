"""Partitioning helpers shared across plans."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def spread(df: DataFrame) -> DataFrame:
    """Spread rows across cores before a compute-heavy narrow stage.

    The local testdata tables are single parquet files -> ONE input
    split, which would serialize hash/dot-product-heavy stages onto one
    core. At cluster scale the input already has many splits and this
    round-robin repartition stays cheap relative to the per-row compute
    it feeds (it shuffles only the projected columns)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def spread_by(df: DataFrame, *cols: str) -> DataFrame:
    """``spread`` variant that hash-partitions on ``cols`` instead of
    round-robin. Use when the compute-heavy stage downstream is a
    window/groupBy KEYED on ``cols``: establishing hashpartitioning
    BEFORE a row-multiplying op (explode) means the exchange moves one
    row per input row, and the downstream window/agg rides the
    partitioning with only a local sort — versus round-robin spread +
    a second exchange of the multiplied rows (r15: removed the
    ~tokens-sized exchange from the shingle path; guide §2.3 "project
    before the exchange" / §2.4). Key cardinality must be far above
    the partition count (doc_id at any corpus scale)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)


_SCRATCH = ("_pid", "_lcs", "_off", "_ps", "_total")


def two_pass_cumsum(
    df: DataFrame,
    sort_cols: list[Column | str],
    value: Column | str,
    out_col: str,
    total_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Running ``sum(value) OVER ([PARTITION BY group_cols] ORDER BY
    sort_cols ROWS UNBOUNDED PRECEDING)`` without a single-partition
    (or one-group-one-partition) sort. ``group_cols + sort_cols`` MUST
    be a unique key. A row number is the running sum of ``F.lit(1)``.
    Adds ``out_col`` and optionally ``total_col`` (the group's sum).

    1. ``repartitionByRange`` on (group, sort) (range partition i
       holds strictly smaller keys than i+1, and each group spans
       contiguous partitions), then a running sum per (partition,
       group);
    2. one row PER (partition, group) of sums -> exclusive running
       offsets (a window over a few hundred rows at any scale while
       |groups| stays far below the data — the only intentionally-
       tiny single-partition window in the pattern); global value =
       local value + partition offset.

    The per-partition offsets are exact integer/decimal sums — use
    integer-typed values so the offset split cannot reorder a float
    summation.

    The locally-summed frame feeds TWO branches (offsets and the
    final join). Correctness — not just cost — requires both to see
    the SAME range partitioning: RangePartitioner samples its bounds
    with an RDD-id-derived seed, so two independent executions could
    draw different boundaries and the _pid->offset mapping would
    silently corrupt the global order (gotcha #9: concurrent sibling
    branches miss a lazy cache). Materialize exactly once via eager
    localCheckpoint.

    Exchange count: the pattern costs TWO full-frame exchanges, not
    one — the range exchange plus a hashpartitioning(_pid[, groups])
    exchange for the local window (RangePartitioning does not satisfy
    the window's ClusteredDistribution, so Spark re-shuffles on _pid).
    That is the known cost of expressing a per-partition scan
    declaratively; it still beats the single-partition global sort it
    replaces, whose ONE "exchange" serializes the whole fact table
    through one task.

    Raises ValueError when ``out_col``, ``total_col`` or a column of
    ``df`` is one of the scratch names the kernel adds and drops."""
    for name in (out_col, total_col, *df.columns):
        if name in _SCRATCH:
            raise ValueError(f"two_pass_cumsum: column {name!r} is a scratch name")
    groups = list(group_cols or [])
    parts = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *groups, *sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid", *groups)
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("_lcs", F.sum(value).over(w_local))
    local = local.localCheckpoint(eager=True)

    psums = local.groupBy("_pid", *groups).agg(F.sum(value).alias("_ps"))
    w_off = (
        Window.partitionBy(*groups)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = psums.select(
        "_pid",
        *groups,
        F.coalesce(F.sum("_ps").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_ps").over(Window.partitionBy(*groups)).alias("_total"),
    )
    out = local.join(F.broadcast(offsets), ["_pid", *groups]).withColumn(
        out_col, F.col("_lcs") + F.col("_off")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_total"))
    return out.drop(*_SCRATCH)


def ntile_from_rank(rank: Column, total: Column, k: int) -> Column:
    """SQL ``ntile(k)`` derived from a (two-pass) global rank: the
    first ``total % k`` buckets get ``floor(total/k)+1`` rows. Exact
    integer arithmetic — identical to the engine-native ntile over
    the same unique ordering. The bucket size is computed as
    (total - total % k) / k over DECIMAL so there is no double
    intermediate: the numerator is exactly divisible by k and a
    19-digit value at scale 6 fits decimal(38,6), so the quotient is
    exact even for totals past 2^53 (a double quotient could round
    across an integer there and truncate to the wrong size)."""
    sz = ((total - total % k).cast("decimal(38,0)") / F.lit(k)).cast("long")
    r = total % k
    big = r * (sz + 1)
    return (
        F.when(rank <= big, F.floor((rank - 1) / (sz + 1)) + 1)
        .otherwise(r + F.floor((rank - big - 1) / sz) + 1)
        .cast("int")
    )
