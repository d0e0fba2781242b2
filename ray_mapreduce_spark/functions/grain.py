"""The events grains shared by every builder and its DuckDB oracle:
the UTC day, integer cents and the Knuth multiplicative hash split.

The correctness gate hashes values, so both engines must compute each
grain bit for bit. Each grain is defined once per engine here: a Spark
Column and its DuckDB twin (``*_SQL``), which oracles interpolate
(the ``functions/text.py`` pattern).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def utc_day() -> Column:
    """Whole UTC days since the epoch of the events ``ts`` (integer
    division of the epoch micros: no time zone, no float)."""
    return F.expr("unix_micros(ts) div 86400000000")


# The same day in DuckDB SQL.
DAY_SQL = "epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000"


def cents() -> Column:
    """The events ``value`` as integer cents (rounded half away from
    zero on both engines)."""
    return F.round(F.col("value") * 100).cast("bigint")


# The same cents in DuckDB SQL (and in Spark SQL, where a builder
# spells its projection as an expression string).
CENTS_SQL = "CAST(round(value * 100) AS BIGINT)"

# Knuth's multiplicative hash: ``id * KNUTH % 2^32`` spreads
# consecutive ids uniformly, so ``% m`` gives a deterministic split
# (train/val/test, A/B arms, sampling buckets) both engines agree on.
KNUTH = 2654435761
MOD_2_32 = 4294967296  # 2^32


def knuth_bucket(col: Column | str, m: Column | int) -> Column:
    """``(col * KNUTH) % 2^32 % m``: the Spark twin of the oracles'
    ``(col * {KNUTH}) % {MOD_2_32} % m``."""
    c = F.col(col) if isinstance(col, str) else col
    return (c * F.lit(KNUTH)) % F.lit(MOD_2_32) % m
