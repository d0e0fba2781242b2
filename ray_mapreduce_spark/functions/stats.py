"""Aggregate helpers shared across plans."""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def moment_sums() -> list[Column]:
    """The six-sum fold over double columns ``x`` and ``y``: ``n, sx,
    sy, sxx, syy, sxy``, each algebraic, so a ``groupBy(...).agg(*...)``
    partial-aggregates map-side. Slope, intercept, r² and Pearson r are
    closed forms over these six columns."""
    return [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ]


# The ordered fold (gotcha #15): a float sum is bit-exact across
# engines only when both add the same doubles in the same order. Each engine therefore folds a small frame as a running window
# sum in key order and keeps the last row of each partition. Keep the
# folded frame under a few hundred rows (fold hierarchically past
# that); the Spark form and its DuckDB twin are written once here.
def ordered_fold(
    df: DataFrame,
    order: Sequence[str],
    sums: Mapping[str, Column | str],
    by: Sequence[str] = (),
) -> DataFrame:
    """One row per ``by`` group (one row overall without ``by``):
    ``(*by, rk, k, *sums)``, where each ``sums`` column is the running
    sum of its term over the group's rows in ``order`` and ``k`` is the
    group's row count."""
    w = Window.partitionBy(*by).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        *by,
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("k"),
        *[F.sum(term).over(run).alias(name) for name, term in sums.items()],
    ).filter(F.col("rk") == F.col("k"))


def ordered_fold_sql(src: str, order: str, sums: Mapping[str, str], by: str = "") -> str:
    """The DuckDB twin of ``ordered_fold`` as a subquery over the FROM
    clause ``src``: ``order`` and ``by`` are comma-separated key lists,
    ``sums`` maps each output name to its term."""
    part = f"PARTITION BY {by} " if by else ""
    keep = f"{by}, " if by else ""
    terms = ", ".join(f"sum({term}) OVER w AS {name}" for name, term in sums.items())
    return f"""SELECT * FROM (
        SELECT {keep}row_number() OVER ({part}ORDER BY {order}) AS rk,
               count(*) OVER ({part.strip()}) AS k,
               {terms}
        FROM {src}
        WINDOW w AS ({part}ORDER BY {order}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ) WHERE rk = k"""
