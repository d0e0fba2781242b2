"""Aggregate helpers shared across plans."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
