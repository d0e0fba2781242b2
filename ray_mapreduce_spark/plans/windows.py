"""Window-function queries (SURVEY.md §2c "Window functions" row —
ABSENT in the reference; supplied natively via ``pyspark.sql.Window``).

Scale notes: a window partitioned by a high-cardinality key (custkey)
shuffles once on that key and sorts within partitions — the same
shuffle an aggregate would need, so no extra cost class. Per-group
top-k via row_number keeps memory bounded per key (no whole-group
materialization like the reference's reduce-side value list,
reference mapreduce.py:132-133).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scale import ntile_from_rank, two_pass_cumsum
from ..sources import load_table
from .registry import register


# Per-group top-k: top 3 orders by price per customer, deterministic
# tie-break on orderkey.
@register(
    "window_topk_per_customer",
    bench=True,
    tags=("window", "topk", "rank"),
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


# Ranking family: rank / dense_rank over a global ordering within groups.
@register(
    "window_rank_dense",
    tags=("window", "rank"),
    oracle="""
    SELECT
      c_mktsegment,
      c_custkey,
      round(c_acctbal, 2) AS acctbal,
      rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
      dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk
    FROM customer
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


# Analytic family: lag/lead + running frame aggregate per customer
# ordered by order date (deterministic tie-break on orderkey).
@register(
    "window_running_and_lag",
    tags=("window", "analytic", "frame"),
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      round(sum(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ), 2) AS running_total,
      round(coalesce(lag(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ), 0.0), 2) AS prev_price,
      round(coalesce(lead(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ), 0.0), 2) AS next_price
    FROM orders
    """,
)
def window_running_and_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(frame_w), 2).alias("running_total"),
        F.round(F.coalesce(F.lag("o_totalprice").over(order_w), F.lit(0.0)), 2).alias("prev_price"),
        F.round(F.coalesce(F.lead("o_totalprice").over(order_w), F.lit(0.0)), 2).alias("next_price"),
    )


# Distribution family: percent_rank / cume_dist / ntile.
@register(
    "window_distribution",
    tags=("window", "distribution"),
    oracle="""
    SELECT c_custkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist()    OVER w, 6) AS cd,
           ntile(4)             OVER w      AS quartile
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile over a GLOBAL ordering, the
    scale-safe way: a ``Window.orderBy(...)`` with no partition clause
    funnels every row through one task, so the global rank and the
    total come from ``functions/scale.py::two_pass_cumsum`` over
    ``F.lit(1)`` (range partition, local running count, per-partition
    offsets) and the ntile from
    ``ntile_from_rank``. The sort key (c_acctbal, c_custkey) is
    unique, so rank == row_number and cume_dist == rank/n exactly."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = two_pass_cumsum(c, ["c_acctbal", "c_custkey"], F.lit(1), "rn", total_col="n")
    n = F.col("n")
    rn = F.col("rn")
    pr = F.when(n > 1, (rn - 1).cast("double") / (n - 1)).otherwise(F.lit(0.0))
    cd = rn.cast("double") / n
    return ranked.select(
        "c_custkey",
        F.round(pr, 6).alias("pr"),
        F.round(cd, 6).alias("cd"),
        ntile_from_rank(rn, n, 4).alias("quartile"),
    )


# Sliding 3-row moving average over each customer's order history.
@register(
    "window_moving_avg",
    tags=("window", "frame"),
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      round(avg(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
      ), 4) AS moving_avg3
    FROM orders
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("moving_avg3"),
    )


# RANGE frame (value-based window): per-customer running revenue over
# a sliding 30-day window keyed on the ORDER DATE VALUE, not row
# position — rows/range distinction is §2c "frames" coverage. Numeric
# range key (epoch days) keeps frame semantics identical across
# engines.
@register(
    "window_range_frame",
    tags=("window", "frame", "range"),
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ), 2) AS rev_30d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_30d"),
    )


# Value window functions: first/last/nth order per customer (frame
# pinned to the whole partition so last/nth are well-defined).
@register(
    "window_value_functions",
    tags=("window", "analytic"),
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey)  OVER w AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )
