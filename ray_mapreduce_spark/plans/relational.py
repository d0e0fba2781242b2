"""Core relational queries (SURVEY.md §2c matrix rows: scan, project,
filter, joins of every flavor, hash/holistic aggregation, distinct,
rollup/cube, set ops, sort/limit).

The reference can only *express* these through user map/reduce fns
(SURVEY.md §2c legend USER/ABSENT; enabling mechanism reference
mapreduce.py:75-78,132-133); here each is a first-class declarative
DataFrame plan so Catalyst gets pushdown/pruning/join-selection —
which is what makes the same query viable at 100 TB.

Scale notes per query are inline; the common ones:
- dims (region/nation/supplier) get explicit ``broadcast()`` — at any
  scale these stay tiny, so no shuffle on the fact side.
- fact-fact joins (orders x lineitem) hash-shuffle on the join key,
  which AQE re-plans / skew-splits at runtime.
- aggregates are algebraic -> Catalyst does partial (map-side)
  aggregation automatically; no groupByKey-style value materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.pairs import canonical_pairs, cap_blocks
from ..functions.stats import ordered_fold, ordered_fold_sql
from ..operators.skew import salted_join
from ..sources import load_table
from .registry import register


# --------------------------------------------------------------------------
# Q1-style pricing summary: full-scan aggregate with computed measures.
# Scale: single shuffle on a 4-value grouping key after map-side partial
# agg -> bytes shuffled ~ O(groups x partitions), independent of row count.
@register(
    "q1_pricing_summary",
    bench=True,
    tags=("aggregate", "scan", "tpch"),
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      round(sum(l_quantity), 2)                                   AS sum_qty,
      round(sum(l_extendedprice), 2)                              AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      round(avg(l_quantity), 4)                                   AS avg_qty,
      round(avg(l_extendedprice), 4)                              AS avg_price,
      round(avg(l_discount), 4)                                   AS avg_disc,
      count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Filter + projection: predicate pushdown + column pruning reach the
# parquet scan (PushedFilters in .explain); only 6 of 11 columns read.
@register(
    "filter_project_revenue",
    tags=("filter", "projection", "scan"),
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      round(l_extendedprice * (1 - l_discount), 4) AS revenue,
      round(l_quantity, 2)                         AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_project_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.round(F.col("l_quantity"), 2).alias("qty"),
        )
    )


# --------------------------------------------------------------------------
# Inner equi-join fact-to-dim + aggregate. customer is fact-proportional
# (1:10 with orders) — at 100 TB it's billions of rows, so NO explicit
# broadcast hint: let AQE's size stats pick broadcast at small sf and
# degrade to a shuffle join at scale. Explicit hints are reserved for
# true O(100)-row dims (region/nation/supplier).
@register(
    "join_customer_orders",
    bench=True,
    tags=("join", "aggregate"),
    oracle="""
    SELECT
      c.c_mktsegment,
      count(*)                        AS n_orders,
      round(sum(o.o_totalprice), 2)   AS total_price,
      round(avg(o.o_totalprice), 4)   AS avg_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q5-shaped multi-join: region -> nation -> customer -> orders ->
# lineitem -> supplier with the "local supplier" constraint
# (c_nationkey = s_nationkey). Scale shape: two broadcast joins
# (region, nation are O(100) rows at any sf) + one fact-fact shuffle
# join (orders x lineitem on orderkey); customer AND supplier are
# fact-proportional (1:10 / 1:150 with orders at every TPC-H sf) so
# neither carries a hint — AQE broadcasts them at small sf and
# degrades to SMJ past the ceiling; revenue agg is algebraic
# (partial agg).
@register(
    "q5_local_supplier_revenue",
    bench=True,
    tags=("join", "multi-join", "aggregate", "tpch"),
    oracle="""
    SELECT
      n.n_name,
      round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey   = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
    JOIN supplier s  ON s.s_suppkey   = l.l_suppkey
                    AND s.s_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)  # fact-fact shuffle join
        # customer is fact-proportional: no broadcast hint, AQE decides
        .join(c, o.o_custkey == c.c_custkey)
        # supplier is sf-proportional too (1:15 with customer): no
        # hint — AQE picks broadcast while it fits, SMJ past the
        # ceiling (pinned by the fallback test).
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Left outer join: every customer, with order stats (0-filled).
@register(
    "join_left_outer_customer",
    tags=("join", "outer-join", "aggregate"),
    oracle="""
    SELECT
      c.c_custkey,
      count(o.o_orderkey)                          AS n_orders,
      round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_price
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# Left semi join (EXISTS): customers with at least one open ('O') order.
@register(
    "join_semi_open_orders",
    tags=("join", "semi-join"),
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    """,
)
def join_semi_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi")


# --------------------------------------------------------------------------
# Left anti join (NOT EXISTS): customers with no big-ticket order.
# (Every customer has *some* order in this corpus, so the anti-join is
# against a selective order subset to keep the result non-empty.)
@register(
    "join_anti_no_big_order",
    tags=("join", "anti-join"),
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 480000.0
    )
    """,
)
def join_anti_no_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000.0).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti")


# --------------------------------------------------------------------------
# Theta/range join: non-equi predicate. Kept deliberately small-side
# (part price bands vs supplier acctbal) — at scale a range join wants
# the banded/bucketed rewrite; here the band table is broadcastable.
@register(
    "join_range_price_band",
    tags=("join", "range-join", "aggregate"),
    oracle="""
    WITH bands AS (
      SELECT * FROM (VALUES
        ('low',    0.0,  500.0),
        ('mid',  500.0, 1500.0),
        ('high',1500.0, 1e9)
      ) AS t(band, lo, hi)
    )
    SELECT b.band, count(*) AS n_parts, round(avg(p.p_retailprice), 4) AS avg_price
    FROM part p
    JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def join_range_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.createDataFrame(
        [("low", 0.0, 500.0), ("mid", 500.0, 1500.0), ("high", 1500.0, 1e9)],
        "band: string, lo: double, hi: double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# Distinct aggregation: exact count-distinct. At 100 TB exact
# count-distinct is a full shuffle of distinct keys; the approx variant
# (approx_count_distinct, HLL sketch, no extra shuffle) is registered
# separately without an oracle (sketch values differ by engine).
@register(
    "agg_count_distinct",
    tags=("aggregate", "distinct"),
    oracle="""
    SELECT
      l_returnflag,
      count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_supps,
      count(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_approx_count_distinct",
    oracle=None,  # HLL sketch values are engine-specific -> rows-only check
    tags=("aggregate", "distinct", "approx"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB-scale path for
    cardinality — no distinct-key shuffle, fixed-size sketch merge."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("n_parts_approx"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# DISTINCT rows.
@register(
    "distinct_flag_status",
    tags=("distinct",),
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# --------------------------------------------------------------------------
# ROLLUP: hierarchical subtotals. NULL grouping markers are coalesced to
# 'ALL' on both sides so the hash compare is null-representation-proof.
@register(
    "rollup_order_status",
    tags=("aggregate", "rollup"),
    oracle="""
    SELECT
      coalesce(o_orderstatus, 'ALL')   AS orderstatus,
      coalesce(o_orderpriority, 'ALL') AS orderpriority,
      count(*)                         AS n_orders,
      round(sum(o_totalprice), 2)      AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# CUBE: all grouping-set combinations.
@register(
    "cube_flag_status",
    tags=("aggregate", "cube"),
    oracle="""
    SELECT
      coalesce(l_returnflag, 'ALL') AS returnflag,
      coalesce(l_linestatus, 'ALL') AS linestatus,
      count(*)                      AS n_rows,
      round(sum(l_quantity), 2)     AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# Set operations over aligned projections.
@register(
    "set_union_all_keys",
    tags=("setop",),
    oracle="""
    SELECT k, count(*) AS n FROM (
      SELECT o_custkey AS k FROM orders
      UNION ALL
      SELECT c_custkey AS k FROM customer
    ) GROUP BY k
    """,
)
def set_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.unionAll(c).groupBy("k").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set_intersect_keys",
    tags=("setop",),
    oracle="""
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey AS k FROM orders
    """,
)
def set_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("k"))
    )
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.intersect(o)


@register(
    "set_except_keys",
    tags=("setop",),
    oracle="""
    SELECT o_custkey AS k FROM orders
    EXCEPT
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
    """,
)
def set_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering customers whose account balance is non-positive."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("k"))
    )
    return o.distinct().exceptAll(c)


# --------------------------------------------------------------------------
# TPC-H Q3 shape (shipping priority): selective dim filter -> two join
# hops -> per-order revenue -> global top-10. The limit rides
# TakeOrdered (per-partition top-N + merge), never a full sort.
@register(
    "q3_shipping_priority",
    bench=True,
    tags=("join", "aggregate", "topk", "tpch"),
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d'), o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # filtered customer keys: AQE broadcasts when stats allow
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# TPC-H Q6 shape (forecast revenue change): pure filter+agg, the
# pushdown poster child — every predicate reaches the parquet scan,
# output is ONE row.
@register(
    "q6_forecast_revenue",
    tags=("filter", "aggregate", "tpch"),
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q10 shape: revenue lost to returned items per customer,
# top 20 — join fact to two dims, selective flag filter, top-k.
@register(
    "q10_returned_item_revenue",
    tags=("join", "aggregate", "topk", "tpch"),
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer scales with the fact side: leave the join strategy to AQE
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue", F.round("c_acctbal", 2).alias("acctbal"))
    )


# --------------------------------------------------------------------------
# TPC-H Q18 shape (large orders): HAVING over a fact aggregate, then
# join back to enrich — the aggregate-then-join order keeps the
# having-filtered set small before any wide join.
@register(
    "q18_large_orders",
    tags=("join", "aggregate", "having", "tpch"),
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    SELECT b.l_orderkey,
           round(b.total_qty, 2) AS total_qty,
           c.c_custkey,
           round(o.o_totalprice, 2) AS price
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "l_orderkey",
            F.round("total_qty", 2).alias("total_qty"),
            "c_custkey",
            F.round("o_totalprice", 2).alias("price"),
        )
    )


# --------------------------------------------------------------------------
# Global sort + limit (top-N). Ties broken by a unique key so the result
# set is deterministic across engines. Spark executes this as TakeOrdered
# (per-partition top-N + merge), no full sort — the right plan at scale.
@register(
    "sort_limit_top100",
    tags=("sort", "limit", "topk"),
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_limit_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
    )


# --------------------------------------------------------------------------
# Full outer join: per-nation customer vs supplier counts — either
# side may be absent for a nation (suppliers are sparse at small sf),
# exercising both null-extension directions. Two partial aggs shrink
# the inputs BEFORE the join (agg-then-join, never join-then-agg for
# outer counts).
@register(
    "join_full_outer_nation_counts",
    tags=("join", "full-outer-join", "aggregate"),
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1
    ),
    s AS (
      SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1
    )
    SELECT coalesce(c.nk, s.nk)    AS nationkey,
           coalesce(c.n_cust, 0)   AS n_customers,
           coalesce(s.n_supp, 0)   AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.nk_c == s.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
            F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
        )
    )


# --------------------------------------------------------------------------
# Salted skew join, registered as an oracle-checked query: the salt is
# pure execution strategy, so the result must be row-identical to the
# plain equi-join — which is exactly what the oracle asserts.
@register(
    "join_salted_skew",
    tags=("join", "skew", "salting"),
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*)                                  AS n_orders,
           round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (fact) x customer (dim) via operators/skew.py::salted_join
    — each hot custkey's orders spread over 16 reducers, customer rows
    replicated 16x — then revenue per market segment. For when the dim
    is too big to broadcast and a power-law fact key (one customer
    placing a huge share of orders) would pin a single reducer; the
    aggregate proves result-identity with the plain join."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(o, c, "o_custkey", "c_custkey", n_salts=16)
    return j.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# --------------------------------------------------------------------------
# TPC-H Q14 shape: promotion revenue share per ship month — fact ⋈
# small dim with a conditional aggregate on a dim attribute. The dim
# broadcasts; the share is two partial-aggregable sums per month.
@register(
    "q14_promo_revenue",
    tags=("join", "aggregate", "tpch", "broadcast"),
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS year_month,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
             AS promo_share_pct,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY date_trunc('month', l_shipdate)
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(year_month, promo_share_pct, total_revenue): the Q14 shape.
    Scale: part broadcasts (dim ≪ fact); both sums partial-aggregate
    map-side so the shuffle carries one row per (month, partition);
    the share ratio is rational → +1e-9 pre-round bias (gotcha #13)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("m"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo) / F.sum(rev) + F.lit(1e-9), 4
            ).alias("promo_share_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .select(
            F.date_format("m", "yyyy-MM-dd").alias("year_month"),
            "promo_share_pct",
            "total_revenue",
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q19 shape: disjunction of conjunctive predicates spanning
# BOTH join sides — the optimizer stress case: the join key equality
# must still be extracted from under the OR (otherwise the plan
# degenerates to a cartesian product), and the per-branch dim
# predicates should still prune the broadcast build side.
@register(
    "q19_disjunctive_revenue",
    tags=("join", "filter", "tpch", "disjunction"),
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row revenue under an OR-of-ANDs predicate across fact
    and dim columns. Catalyst keeps the p_partkey = l_partkey
    equi-key out of the disjunction, so this stays a broadcast hash
    join with the residual OR as a post-join filter — and the
    IN-set of brands implied by the OR is pushable to the part scan
    (its entry in tests/plan_shapes.json: no cartesian)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#15")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Repeat-purchase profile per market segment: share of customers who
# reorder, and the mean days between consecutive orders — the
# retention headline next to RFM. Gap days are exact integer date
# differences (epoch-us div 86400e6 on both engines).
@register(
    "orders_repeat_purchase_rate",
    tags=("orders", "retention", "window"),
    oracle="""
    WITH o AS (
      SELECT c.c_mktsegment, o.o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS od,
             row_number() OVER (
               PARTITION BY o.o_custkey
               ORDER BY o.o_orderdate, o.o_orderkey
             ) AS rn,
             lag(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)))
               OVER (PARTITION BY o.o_custkey
                     ORDER BY o.o_orderdate, o.o_orderkey) AS prev_od
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per_cust AS (
      SELECT c_mktsegment, o_custkey,
             CAST(max(rn) AS BIGINT) AS n_orders,
             avg(od - prev_od) AS mean_gap
      FROM o GROUP BY c_mktsegment, o_custkey
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 4) AS repeat_rate,
           round(avg(mean_gap) + 1e-9, 4) AS avg_gap_days
    FROM per_cust GROUP BY c_mktsegment
    """,
)
def orders_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_mktsegment, n_customers, n_repeat, repeat_rate,
    avg_gap_days) per segment. Scale shape: one shuffle on o_custkey
    serves the order-rank AND the gap lag (shared window sort with a
    unique (date, orderkey) tiebreak); customer is fact-proportional
    so its join carries NO hint — AQE broadcasts it at small sf and
    sort-merges past the ceiling (pinned by the fallback test);
    per-customer then per-segment folds partial-aggregate. Gap days
    are INTEGER calendar datediffs (o_orderdate is NTZ — no epoch
    or timezone arithmetic); rates are rationals with the +1e-9
    bias."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    od = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_custkey", "o_orderdate", "o_orderkey", od.alias("od"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("prev_od", F.lag("od").over(w))
    )
    per_cust = j.groupBy("c_mktsegment", "o_custkey").agg(
        F.max("rn").cast("bigint").alias("n_orders"),
        F.avg(F.col("od") - F.col("prev_od")).alias("mean_gap"),
    )
    rep = (F.col("n_orders") >= 2).cast("int")
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(rep).cast("bigint").alias("n_repeat"),
        F.round(
            F.sum(rep).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("repeat_rate"),
        F.round(F.avg("mean_gap") + F.lit(1e-9), 4).alias("avg_gap_days"),
    )


# --------------------------------------------------------------------------
# TPC-H Q7 shape (volume shipping, undated): revenue per (customer
# nation, supplier nation) pair — the same dimension table joined in
# TWO ROLES through different fact paths, the shape that catches
# alias/dedup bugs in join planning. Both nation legs broadcast.
@register(
    "q7_nation_trade_matrix",
    tags=("join", "aggregate", "tpch", "broadcast", "multi-role"),
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def q7_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cust_nation, supp_nation, n_items, revenue): the full trade
    matrix. Scale shape: ONE fact-fact shuffle (lineitem⋈orders on
    orderkey — bucketing both on orderkey removes it); BOTH nation
    roles broadcast (nation joined twice under distinct aliases —
    Catalyst deduplicates attribute ids, a correctness trap for
    hand-built engines); customer and supplier are fact-proportional
    so they carry NO hint — AQE broadcasts them at small sf and
    degrades to SMJ past the ceiling (pinned by the fallback test);
    the matrix agg partial-aggregates to ≤ nations² rows."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            # +1e-6 pre-round bias: at ~1e6 magnitudes the engines'
            # summation-order divergence is ~1e-7 — far above the 1e-9
            # bias gotcha #13 uses at 4dp — and a half-cent boundary
            # hit at sf0.001 rounded opposite ways without it.
            F.round(F.sum(rev) + F.lit(1e-6), 2).alias("revenue"),
        )
    )

# --------------------------------------------------------------------------
# TPC-H Q4 shape (order priority checking): EXISTS semi-join from the
# order table into its lineitems with a NON-equi residual on top of
# the equi key. The testdata lineitem carries no commit/receipt dates
# (reference schema: l_shipdate only), so "late" is adapted to
# "shipped >90 days after the order date" — same plan shape as
# pristine Q4 (semi join + residual + priority rollup).
@register(
    "q4_order_priority",
    tags=("join", "semi", "aggregate", "tpch"),
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND date_diff('day', CAST(o_orderdate AS DATE),
                                  CAST(l_shipdate AS DATE)) > 90)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, order_count): orders in a one-year window
    with at least one line shipped >90 calendar days after the order
    date. Scale shape: LEFT SEMI join — lineitem never widens the
    output, duplicates collapse inside the join, and only
    (l_orderkey, l_shipdate) shuffles from the fact side; the date
    filter prunes orders at the scan; the lateness bound is an
    INTEGER calendar datediff (timezone/DST-immune — the
    orders_repeat_purchase_rate discipline); final agg is ≤5 groups,
    partial-aggregated map-side."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 90
    return (
        o.join(l, (o.o_orderkey == l.l_orderkey) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


# --------------------------------------------------------------------------
# TPC-H Q13 shape (customer distribution): LEFT OUTER join with a
# predicate INSIDE the join condition (not a post-filter — customers
# whose only orders fail the predicate must still appear with count
# 0), then a double aggregation: per-customer order count, then the
# histogram of those counts.
@register(
    "q13_customer_distribution",
    tags=("join", "outer", "aggregate", "tpch", "histogram"),
    oracle="""
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_count, custdist): how many customers placed exactly N
    non-urgent orders (N=0 kept by the outer join — the Q13 trap:
    moving the priority predicate to a WHERE silently drops them).
    Scale shape: customer is fact-proportional so carries NO broadcast
    hint (AQE picks broadcast at small sf, shuffle join at scale); the
    join leaves both sides hash-partitioned on custkey, so the
    per-customer count REUSES that partitioning (no second exchange —
    one shuffle total on the fact side); the histogram agg is ≤
    max-orders-per-customer rows, partial-aggregated."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


# --------------------------------------------------------------------------
# TPC-H Q17 shape (small-quantity-order revenue): a correlated scalar
# aggregate — each lineitem compares against the average quantity of
# ITS OWN part. l_quantity is integral (verified 1..50), so the
# per-part sum is EXACT in double under any summation order and
# 0.2*avg is the identical double on both engines — the compare
# needs no rounding guard.
@register(
    "q17_small_quantity_revenue",
    tags=("join", "correlated", "aggregate", "tpch", "window"),
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0 + 1e-6, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < 0.2 * (SELECT avg(l2.l_quantity) FROM lineitem l2
                              WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(avg_yearly, n_items): revenue locked in small orders of one
    brand's parts. Scale shape: the brand subset of part broadcasts
    and prunes lineitem FIRST (at 100 TB the 1/25 brand filter drops
    96% of the fact before any shuffle); the correlated per-part
    average is a WINDOW over l_partkey on the pruned rows — ONE
    shuffle, no agg-then-rejoin (the gotcha #14 rework applied from
    the start); +1e-6 pre-round bias on the money sum (magnitude-
    scaled, the q7 rule)."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pruned = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0) + F.lit(1e-6), 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q22 shape (global sales opportunity): a global scalar
# threshold (avg positive balance) + an ANTI join. Adapted to the
# testdata: every customer has SOME order (verified), so "never
# ordered" becomes "no order since 2000-07-01"; no phone column, so
# the rollup key is the customer nation. Money threshold compared in
# EXACT INTEGER CENTS: c_acctbal is 2-decimal (verified), cents sum
# exactly in double, and avg(bigint) is the identical correctly-
# rounded double on both engines — no summation-order boundary risk.
@register(
    "q22_idle_capital",
    tags=("join", "anti", "aggregate", "tpch", "scalar-subquery"),
    oracle="""
    WITH thresh AS (
      SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT)) AS t_cents
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c.c_acctbal) + 1e-6, 2) AS totacctbal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > (SELECT t_cents FROM thresh)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-07-01')
    GROUP BY n.n_name
    """,
)
def q22_idle_capital(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, numcust, totacctbal): above-average-balance customers
    with no recent order, by nation. Scale shape: the threshold is a
    1-row broadcast scalar (never a single-partition window); the
    recent-orders side is date-pruned at the scan THEN reduced to
    distinct custkeys before the LEFT ANTI join; nation broadcasts;
    final agg ≤ nations rows."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    thresh = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg(cents).alias("t_cents"))
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(thresh))
        .filter(cents > F.col("t_cents"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal") + F.lit(1e-6), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q2 shape (best supplier per part): groupwise argmax with a
# deterministic tiebreak. The testdata has no partsupp/supplycost
# table, so "best" is adapted to the best-capitalized supplier among
# those who have actually shipped the part (distinct (part, supp)
# pairs from lineitem stand in for partsupp) — the plan shape
# (correlated groupwise extreme + dim joins + ordered limit) is Q2's.
@register(
    "q2_best_supplier_per_part",
    tags=("join", "window", "argmax", "tpch", "topk"),
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    j AS (
      SELECT ps.l_partkey, s.s_suppkey, s.s_name, s.s_acctbal, s.s_nationkey
      FROM ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY l_partkey ORDER BY s_acctbal DESC, s_suppkey
      ) AS rn FROM j
    )
    SELECT r.l_partkey AS p_partkey, p.p_name, r.s_name,
           round(r.s_acctbal, 2) AS s_acctbal, n.n_name AS nation
    FROM r
    JOIN part p   ON p.p_partkey = r.l_partkey
    JOIN nation n ON n.n_nationkey = r.s_nationkey
    WHERE rn = 1
    ORDER BY p_partkey
    LIMIT 100
    """,
)
def q2_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_partkey, p_name, s_name, s_acctbal, nation): for the first
    100 parts, the richest supplier that ships them. Scale shape:
    distinct (part, supp) reduces the fact to its key pairs before
    anything else; supplier is fact-proportional so its join carries
    NO hint (AQE broadcasts at small sf, SMJ past the ceiling —
    pinned by the fallback test); the groupwise argmax is a
    row_number window over l_partkey with the (acctbal DESC, suppkey)
    composite ordering — the min_by tie discipline (gotcha #13: ties
    WILL occur at volume; the unique suppkey makes rank 1 unique);
    WindowGroupLimit pushes the rn=1 filter into the sort; part joins
    AFTER the argmax (100× fewer rows), nation broadcasts; the limit
    rides TakeOrdered on the unique p_partkey."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("s_acctbal").desc(), "s_suppkey"
    )
    best = (
        ps.join(s, ps.l_suppkey == s.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# TPC-H Q8 shape (national market share): the deepest dim chain in
# the schema — lineitem⋈part⋈orders⋈customer⋈nation⋈region on the
# demand side and supplier⋈nation on the supply side — folded to a
# conditional share per year. Exercises region pruning through two
# join hops plus the two-role nation join under a per-group ratio.
Q8_REGION = "EUROPE"
Q8_PART_TYPE = "STANDARD"
Q8_SHARE_NATION = "GERMANY"


@register(
    "q8_national_market_share",
    tags=("join", "tpch", "share", "multi-role", "broadcast"),
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           round(sum(CASE WHEN sn.n_name = '{Q8_SHARE_NATION}'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4)
             AS mkt_share,
           round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2)
             AS region_revenue
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE p.p_type = '{Q8_PART_TYPE}' AND r.r_name = '{Q8_REGION}'
    GROUP BY year(o.o_orderdate)
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_year, mkt_share, region_revenue): one supplier nation's
    share of a region's spend on one part type, by year. Scale shape:
    the part-type filter broadcasts and prunes lineitem FIRST (1/6 of
    the fact survives); the demand-side chain collapses via dims-
    join-dims-first (region prunes nations to a broadcast key set
    BEFORE touching customer), but the region-filtered customer-key
    frame is still ~1/5 of a fact-proportional table, so its join —
    like supplier's — carries NO hint: AQE broadcasts both at small
    sf and sort-merges past the ceiling (pinned by the fallback
    test); ONE fact-fact shuffle (lineitem⋈orders); both nation
    roles broadcast; the share is two partial-aggregable
    conditional sums per year (≤ years rows). Integer year buckets;
    the share ratio carries +1e-9, the money sum the magnitude-scaled
    +1e-6 (gotcha #3)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q8_PART_TYPE)
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation")
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == Q8_REGION)
        .select("r_regionkey")
    )
    # dims join dims first: region prunes the customer-side nations
    cn = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    c_in_region = c.join(F.broadcast(cn), c.c_nationkey == F.col("cn_key")).select(
        "c_custkey"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share_rev = F.when(F.col("supp_nation") == Q8_SHARE_NATION, rev).otherwise(
        F.lit(0.0)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c_in_region, o.o_custkey == F.col("c_custkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(F.sum(share_rev) / F.sum(rev) + F.lit(1e-9), 4).alias(
                "mkt_share"
            ),
            F.round(F.sum(rev) + F.lit(1e-6), 2).alias("region_revenue"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
# variety per part attribute bucket with a NOT-IN exclusion subquery.
# The testdata has no partsupp table or supplier comments (reference
# schema: mapreduce_unittest.py exercises only text records), so the
# supplier-part relation is the DISTINCT (l_partkey, l_suppkey) pairs
# actually shipped, and the "complaint" exclusion is adapted to
# deadbeat suppliers (s_acctbal < 0) — same plan shape as pristine
# Q16: anti join + distinct-count rollup.
Q16_EXCL_BRAND = "Brand#13"
Q16_EXCL_TYPE = "PROMO"
Q16_MAX_SIZE = 25


@register(
    "q16_part_supplier_variety",
    tags=("join", "anti-join", "distinct", "tpch"),
    oracle=f"""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
      AND p.p_type <> '{Q16_EXCL_TYPE}'
      AND p.p_size <= {Q16_MAX_SIZE}
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_brand, p_type, p_size, supplier_cnt): how many distinct
    eligible suppliers ship each surviving part bucket. Scale shape:
    distinct (partkey, suppkey) collapses the fact FIRST (the only
    fact-sized shuffle); the NOT-IN exclusion is a LEFT ANTI join
    against the filtered supplier keys — a frame bounded by the
    FILTER's selectivity, but still supplier-derived, so it carries
    no broadcast hint (AQE broadcasts it at any realistic sf — a
    negative-balance subset — and would degrade if it didn't fit);
    part's attribute filters push to the scan and the dim join prunes
    before the distinct-count rollup, which is two-phase (partial
    distinct map-side). Every group emits (no LIMIT), so no tiebreak
    discipline is needed."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != Q16_EXCL_BRAND)
            & (F.col("p_type") != Q16_EXCL_TYPE)
            & (F.col("p_size") <= Q16_MAX_SIZE)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# TPC-H Q21 shape (suppliers kept waiting): the double-correlated
# EXISTS / NOT-EXISTS query — for finished orders, suppliers whose
# line shipped late while EVERY other supplier on the same
# multi-supplier order shipped on time. lineitem has no
# commit/receipt dates (see q4), so "late" is adapted to shipping
# more than Q21_LATE_DAYS after the order date.
Q21_LATE_DAYS = 60
Q21_TOP_N = 20


@register(
    "q21_late_sole_suppliers",
    tags=("join", "window", "exists", "tpch", "topk"),
    oracle=f"""
    WITH j AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE))
                           > {Q21_LATE_DAYS}
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    w AS (
      SELECT l_orderkey, l_suppkey, late,
             count(*) OVER (PARTITION BY l_orderkey)  AS n_supp,
             sum(late) OVER (PARTITION BY l_orderkey) AS n_late
      FROM j
    ),
    q AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
      FROM w
      WHERE late = 1 AND n_supp >= 2 AND n_late = 1
      GROUP BY l_suppkey
    )
    SELECT s.s_name, n.n_name AS nation, q.numwait
    FROM q
    JOIN supplier s ON s.s_suppkey = q.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    ORDER BY q.numwait DESC, s.s_name
    LIMIT {Q21_TOP_N}
    """,
)
def q21_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_name, nation, numwait): suppliers most often the SOLE late
    shipper on a finished multi-supplier order. Scale shape: the
    EXISTS ('some other supplier') and NOT-EXISTS ('no other late
    supplier') correlations never run as subqueries — one fact-fact
    join (lineitem⋈orders, status filter pushed to the orders scan)
    folds to (orderkey, suppkey, late) granularity, then BOTH
    correlated conditions become two windows over ONE orderkey
    partition (count and sum share a single Sort). At the 100 TB
    regime this whole chain costs ONE exchange: the sort-merge join
    leaves the data hashpartitioned on orderkey, which satisfies the
    composite-key aggregate (subset-clustering rule) AND the windows,
    so neither adds a shuffle; only at broadcast-join sf does Spark
    insert the two small post-join exchanges instead. The
    per-supplier count rejoins supplier unhinted (fact-proportional,
    no hint — and the count side is tiny, so AQE broadcasts THAT
    side); nation broadcasts; the top-N rides TakeOrdered with the
    unique s_name tiebreak (gotcha #13)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > Q21_LATE_DAYS
    ).cast("int")
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    wo = Window.partitionBy("l_orderkey")
    q = (
        j.withColumn("n_supp", F.count(F.lit(1)).over(wo))
        .withColumn("n_late", F.sum("late").over(wo))
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        q.join(s, q.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"), "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(Q21_TOP_N)
    )


# --------------------------------------------------------------------------
# TPC-H Q9 shape (product type profit): profit per (nation, year) for
# parts matching a name token. The testdata has no partsupp, so
# supply cost is adapted to a deterministic fraction of the part's
# retail price (cost = 0.6 * p_retailprice per unit). All money math
# runs in EXACT INTEGER micro-dollar units so the cross-engine sum is
# order-free (gotcha #3 discipline: never race float summation order).
Q9_NAME_TOKEN = "red"


@register(
    "q9_product_profit",
    tags=("join", "aggregate", "tpch", "multi-dim"),
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
           round(sum(
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * CAST(round((1 - l.l_discount) * 100) AS BIGINT) * 100
             - CAST(round(p.p_retailprice * 100) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) * 6000
           ) / 1000000.0, 2) + 0.0 AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%{Q9_NAME_TOKEN}%'
    GROUP BY n.n_name, year(CAST(o.o_orderdate AS DATE))
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, o_year, profit): per-nation yearly profit on parts
    whose name carries the token — the last missing dim-chain of the
    22 TPC-H shapes (with q9 the suite is complete). Scale shape: the
    p_name LIKE filter pushes to the part scan, so the part join
    prunes the fact FIRST (part is sf-proportional -> NO broadcast
    hint; AQE broadcasts the filtered subset while it fits and
    degrades to SMJ past the ceiling); then ONE fact-fact shuffle
    (orders on orderkey) and the unhinted supplier join; nation
    broadcasts. Profit per row is an exact integer in 1e-6-dollar
    units (eprice_cents x disc_pct x 100 - retail_cents x qty x 6000,
    the 6000 = 0.6 cost factor in those units), so partial aggregation
    is order-free and both engines round the IDENTICAL double: no
    summation-order bias term needed, unlike q7's float path. The
    quotient /1e6 of an exact bigint is correctly rounded in both
    engines; + 0.0 clears the signed-zero hash trap for near-zero
    negative profit (gotcha #3). At extreme sf the bigint units cap
    out around 2^63 per group — the decimal(38,0) swap is the
    documented escalation. Reference parity: SURVEY §2c relational
    matrix (reference expresses joins only through user reduce fns,
    reference mapreduce.py:75-78)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{Q9_NAME_TOKEN}%"))
        .select("p_partkey", "p_retailprice")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    eprice_cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round((F.lit(1) - F.col("l_discount")) * 100).cast("bigint")
    retail_cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    profit_u6 = (
        eprice_cents * disc_pct * F.lit(100).cast("bigint")
        - retail_cents * F.col("l_quantity").cast("bigint") * F.lit(6000).cast("bigint")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("o_year"),
        )
        .agg(
            (F.round(F.sum(profit_u6) / F.lit(1000000.0), 2) + F.lit(0.0)).alias(
                "profit"
            )
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q11 shape (important stock): parts whose held value exceeds a
# scalar-subquery threshold. No partsupp -> "held value" is adapted to
# shipped extended-price cents per part over positive-balance
# suppliers, and the original fixed FRACTION of the corpus total
# (which is scale-SENSITIVE: at 10x the parts, every share dilutes
# 10x and a fixed fraction empties — measured 0 rows at two SFs) is
# adapted to a scale-INVARIANT multiple of the MEAN per-part value:
# keep parts with value > 1.5x mean, compared in exact integers.
Q11_MEAN_NUM = 3  # keep parts with  cents * 2 * n_parts > 3 * total
Q11_MEAN_DEN = 2
Q11_TOP_N = 100


@register(
    "q11_important_part_value",
    tags=("join", "aggregate", "tpch", "scalar-subquery", "topk"),
    oracle=f"""
    WITH v AS (
      SELECT l.l_partkey,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_acctbal >= 0
      GROUP BY l.l_partkey
    ),
    t AS (SELECT sum(cents) AS tot, count(*) AS np FROM v)
    SELECT CAST(v.l_partkey AS BIGINT) AS l_partkey,
           round(v.cents / 100.0, 2) AS value
    FROM v, t
    WHERE v.cents * {Q11_MEAN_DEN} * t.np > {Q11_MEAN_NUM} * t.tot
    ORDER BY v.cents DESC, v.l_partkey
    LIMIT {Q11_TOP_N}
    """,
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, value): parts whose shipped value (over
    positive-balance suppliers) exceeds 1.5x the per-part mean.
    Scale shape: the supplier filter reduces to a keys-only frame
    before the join (supplier is sf-proportional -> no hint, AQE
    decides); ONE fact shuffle groups by partkey; the (total, n)
    threshold is a 1-row broadcast scalar exactly like q22's — never
    a single-partition window; the compare runs in exact integer
    cents (x n_parts cross-multiplied, no division) so no float
    boundary exists; top-N rides TakeOrdered with the unique partkey
    tiebreak (gotcha #13). Geographic filters were rejected: at
    sf0.001 only 10 suppliers exist and single nations are routinely
    EMPTY — an acctbal filter is populated at every sf."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 0)
        .select("s_suppkey")
    )
    v = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    t = v.agg(F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("np"))
    return (
        v.join(F.broadcast(t))
        .filter(
            F.col("cents") * F.lit(Q11_MEAN_DEN) * F.col("np")
            > F.lit(Q11_MEAN_NUM) * F.col("tot")
        )
        .select(
            F.col("l_partkey").cast("bigint").alias("l_partkey"),
            F.round(F.col("cents") / F.lit(100.0), 2).alias("value"),
            F.col("cents").alias("_cents"),
        )
        .orderBy(F.col("_cents").desc(), "l_partkey")
        .limit(Q11_TOP_N)
        .drop("_cents")
    )


# --------------------------------------------------------------------------
# TPC-H Q12 shape (shipping modes x priority): categorical shipping
# class crossed with order-priority counts. The testdata has no
# l_shipmode or commit/receipt dates, and ship-vs-order deltas span
# +-2400 days (dates are generated near-independently), so the class
# is adapted to delay bands: backdated (<0), prompt (0-89),
# delayed (90-364), late (>=365) — same plan shape (one fact-fact
# join, CASE class, conditional counts).
@register(
    "q12_ship_class_priority",
    tags=("join", "aggregate", "tpch", "conditional"),
    oracle="""
    SELECT CASE
             WHEN dd < 0 THEN 'backdated'
             WHEN dd < 90 THEN 'prompt'
             WHEN dd < 365 THEN 'delayed'
             ELSE 'late'
           END AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS dd,
             o.o_orderpriority
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    GROUP BY 1
    """,
)
def q12_ship_class_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ship_class, high_line_count, low_line_count): how urgent
    orders distribute over shipping-delay classes. Scale shape: ONE
    fact-fact shuffle (lineitem x orders on orderkey — bucketing both
    on orderkey removes it), then a 4-group conditional aggregate
    that partial-aggregates map-side to <= 4 rows per task; the delay
    is an exact INTEGER calendar datediff (o_orderdate is NTZ —
    gotcha from orders_repeat_purchase_rate: integer day arithmetic,
    never float quotients near band boundaries)."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    dd = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.when(dd < 0, "backdated")
            .when(dd < 90, "prompt")
            .when(dd < 365, "delayed")
            .otherwise("late")
            .alias("ship_class"),
            high.cast("int").alias("is_high"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum("is_high").cast("bigint").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("is_high")).cast("bigint").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q15 shape (top supplier): revenue view over a 3-month ship
# window, then the supplier(s) achieving the MAXIMUM revenue. The
# max-equality compare is the trap: raced float sums can put the two
# engines on different argmaxes, so revenue accumulates in EXACT
# integer 1e-4-dollar units (eprice_cents x disc_pct) and the
# max/equality is integer — ties (all returned, as in pristine Q15)
# are exact on both engines.
Q15_START = "1996-01-01"
Q15_END = "1996-04-01"


@register(
    "q15_top_supplier",
    tags=("join", "aggregate", "tpch", "scalar-subquery", "argmax"),
    oracle=f"""
    WITH r AS (
      SELECT l_suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS u
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
        AND l_shipdate < TIMESTAMP '{Q15_END}'
      GROUP BY l_suppkey
    )
    SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
           round(r.u / 10000.0, 2) AS total_revenue
    FROM r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.u = (SELECT max(u) FROM r)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_suppkey, s_name, total_revenue): the supplier(s) with
    maximum revenue in the window. Scale shape: the date filter
    pushes to the lineitem scan (partition pruning on a
    date-partitioned lake layout); one shuffle groups by suppkey to
    <= |supplier| rows; the max is a 1-row broadcast scalar joined
    back (the revenue frame is referenced twice but the scalar side
    collapses to one row before the join — no checkpoint needed at
    this size, and AQE reuses the grouped exchange for the two
    consumers only when identical, so the scalar leg recomputes a
    supplier-sized agg, not the fact scan... the date-filtered scan
    is re-read once more; acceptable because both legs are
    post-filter small. See gotcha #14); the supplier rejoin is
    unhinted (fact-proportional) — AQE broadcasts the 1-row matched
    side. Integer-unit sums make the argmax tolerance-free."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q15_END).cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    u = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        (F.lit(1) - F.col("l_discount")) * 100
    ).cast("bigint")
    r = l.groupBy("l_suppkey").agg(F.sum(u).alias("u"))
    mx = r.agg(F.max("u").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        r.join(F.broadcast(mx))
        .filter(F.col("u") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            F.round(F.col("u") / F.lit(10000.0), 2).alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q20 shape (potential part promotion): suppliers who dominate
# a part's shipments. No partsupp/availqty -> adapted to "shipped
# more than HALF of a part's total quantity in the year" (the
# original's availqty > 0.5 * shipped-qty correlation, re-anchored to
# shares of shipment). l_quantity is integral (verified 0 fractional
# rows), so the share compare 2*qty > total is exact integers.
Q20_NAME_TOKEN = "bolt"
Q20_START = "1997-01-01"
Q20_END = "1998-01-01"


@register(
    "q20_dominant_suppliers",
    tags=("join", "window", "tpch", "semi-join"),
    oracle=f"""
    WITH j AS (
      SELECT l.l_partkey, l.l_suppkey,
             sum(CAST(l.l_quantity AS BIGINT)) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%{Q20_NAME_TOKEN}%'
        AND l.l_shipdate >= TIMESTAMP '{Q20_START}'
        AND l.l_shipdate < TIMESTAMP '{Q20_END}'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    w AS (
      SELECT l_suppkey, qty,
             sum(qty) OVER (PARTITION BY l_partkey) AS tot
      FROM j
    ),
    d AS (SELECT DISTINCT l_suppkey FROM w WHERE 2 * qty > tot)
    SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name
    FROM d
    JOIN supplier s ON s.s_suppkey = d.l_suppkey
    ORDER BY s.s_name
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_suppkey, s_name): suppliers who shipped the majority of
    some token-matched part's quantity in the year — the last of the
    22 TPC-H shapes (double-nested correlated IN/scalar subquery in
    pristine form; here the correlation is a window share over the
    part partition). Scale shape: name filter pushes to the part
    scan and prunes the fact before anything wide (part
    sf-proportional -> no hint); the (partkey, suppkey) aggregate is
    the one fact-sized shuffle; the per-part total window re-exchanges
    only the AGGREGATED pair frame (bounded by distinct shipped
    pairs); the majority test is exact integers; distinct suppkeys
    then rejoin supplier unhinted (AQE broadcasts the tiny winner
    set). Every output row is unique by s_suppkey; ORDER BY s_name
    is a stable presentation sort (s_name embeds the key)."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q20_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q20_END).cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{Q20_NAME_TOKEN}%"))
        .select("p_partkey")
    )
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
    )
    w = j.withColumn(
        "tot", F.sum("qty").over(Window.partitionBy("l_partkey"))
    )
    d = (
        w.filter(F.lit(2) * F.col("qty") > F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        d.join(s, d.l_suppkey == s.s_suppkey)
        .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"), "s_name")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Supplier lead-time profile — ship lag (l_shipdate - o_orderdate, in
# whole calendar days) per supplier: mean from integer sums, exact
# p50/p90 via the verified percentile parity (Spark `percentile` ==
# DuckDB `quantile_cont`, bit-exact on doubles — the r7
# events_winsorize finding), plus the late share against a fixed
# 100-day SLA by integer comparison. The operational readout behind
# q21's late-order blame query.
@register(
    "supplier_lead_time",
    tags=("supplier", "lead-time", "percentile", "aggregate"),
    oracle="""
    WITH g AS (
      SELECT l.l_suppkey AS suppkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT suppkey,
           CAST(count(*) AS BIGINT) AS n_ship,
           round(CAST(sum(lag_d) AS DOUBLE) / count(*) + 1e-9, 4)
             AS mean_lag_days,
           round(quantile_cont(CAST(lag_d AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(lag_d AS DOUBLE), 0.9), 4) AS p90,
           round(CAST(sum(CASE WHEN lag_d > 100 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 4) AS late_share
    FROM g GROUP BY 1
    """,
)
def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(suppkey, n_ship, mean_lag_days, p50, p90, late_share): order-
    to-ship latency distribution per supplier. Determinism: integer
    calendar-day lags (NTZ-safe datediff); mean/late_share from
    integer sums; p50/p90 by the bit-exact percentile parity on the
    identical double multiset. Scale shape: the orders join keys the
    TWO FACTS on orderkey (one fact-fact exchange — never broadcast,
    both sides sf-proportional); the supplier agg partial-aggregates
    map-side; exact percentiles hold per-group sorted state bounded
    by the supplier's lag multiset (swap to approx_percentile at
    crawl scale — the sketches row — without changing the shape)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    g = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag_d"),
    )
    return g.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ship"),
        F.round(
            F.sum("lag_d").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("mean_lag_days"),
        F.round(F.expr("percentile(CAST(lag_d AS DOUBLE), 0.5)"), 4).alias(
            "p50"
        ),
        F.round(F.expr("percentile(CAST(lag_d AS DOUBLE), 0.9)"), 4).alias(
            "p90"
        ),
        F.round(
            F.sum(F.when(F.col("lag_d") > 100, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            4,
        ).alias("late_share"),
    )


# --------------------------------------------------------------------------
# Assortment depth — catalog profiling of the part dimension: per
# part type, how many parts and brands compete and the retail-price
# band they span (exact integer cents). The merchandising readout
# next to q16's supplier-variety count.
@register(
    "part_assortment_depth",
    tags=("part", "profiling", "aggregate"),
    oracle="""
    SELECT p_type,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
           CAST(min(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS min_price_cents,
           CAST(max(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS max_price_cents,
           round(CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
                 AS DOUBLE) / (100.0 * count(*)) + 1e-9, 4) AS avg_price
    FROM part GROUP BY 1
    """,
)
def part_assortment_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_type, n_parts, n_brands, min/max_price_cents, avg_price):
    assortment breadth per part type. Determinism: exact integer
    cents throughout; avg is one division of integer-derived doubles.
    Scale shape: ONE partial-aggregated shuffle on p_type with a
    two-phase distinct on brand (bounded brand cardinality collapses
    map-side)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_type",
        "p_brand",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("cents"),
    )
    return p.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.countDistinct("p_brand").cast("bigint").alias("n_brands"),
        F.min("cents").cast("bigint").alias("min_price_cents"),
        F.max("cents").cast("bigint").alias("max_price_cents"),
        F.round(
            F.sum("cents").cast("double") / (F.lit(100.0) * F.count(F.lit(1)))
            + F.lit(1e-9),
            4,
        ).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# Discount elasticity: per return-flag OLS of quantity on the discount
# level — "does a deeper discount move more units?". Tolerance-FREE
# cross-engine parity: x = discount in integer PERCENT POINTS
# (l_discount is 2dp), y = quantity (integral double -> exact bigint),
# so all six OLS sums are EXACT integers; slope/r^2 are single
# divisions of integers < 2^53 (identical doubles), and the intercept
# re-uses the already-identical slope in the identical expression
# order. At crawl sf the bigint cross-products approach 2^63 around
# sf~100 — promote the moment sums to DECIMAL(38,0) there; the plan
# shape (one partial-agg pass) is unchanged.
@register(
    "lineitem_discount_elasticity",
    tags=("relational", "regression", "aggregate"),
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) + 1e-9, 6) + 0.0
             AS slope_qty_per_point,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / n + 1e-9, 6) + 0.0 AS intercept,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) + 1e-9, 6)
             AS r2
    FROM m
    """,
)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_returnflag, n, slope_qty_per_point, intercept, r2): closed-
    form OLS of quantity on discount points, exact-integer moments.
    Scale shape: ONE partial-aggregated scan of lineitem (6 algebraic
    sums per group); the regression algebra runs on |flags| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / vx
    return m.select(
        "l_returnflag",
        "n",
        (F.round(slope + F.lit(1e-9), 6) + F.lit(0.0)).alias(
            "slope_qty_per_point"
        ),
        (
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("intercept"),
        F.round(cov * cov / (vx * vy) + F.lit(1e-9), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA across return flags: does mean quantity differ by flag?
# The multi-group continuous hypothesis test (chi-square covers
# categorical composition, the A/B z-score covers two groups; this is
# the k-group F test). Tolerance-free parity via the CUSUM ordered-
# fold discipline: per-mode moments are EXACT integers; the one float
# reduction (sum over modes of s_g^2/n_g) runs as a RUNNING window
# sum in flag order on BOTH engines, adding identical
# correctly-rounded doubles in identical order; every later quantity
# derives from those identical doubles in identical expression order.
_ANOVA_SUMS_SQL = {
    "cn": "n", "cs": "s", "css": "ss", "cterm": "CAST(s * s AS DOUBLE) / n"
}


@register(
    "lineitem_returnflag_anova",
    tags=("relational", "anova", "statistics", "aggregate"),
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
      FROM lineitem GROUP BY 1
    ),
    last AS ({ordered_fold_sql("m", "l_returnflag", _ANOVA_SUMS_SQL)})
    SELECT CAST(k AS BIGINT) AS k,
           CAST(cn AS BIGINT) AS n,
           round(cterm - CAST(cs * cs AS DOUBLE) / cn + 1e-9, 6)
             AS ss_between,
           round(CAST(css AS DOUBLE) - cterm + 1e-9, 6) AS ss_within,
           round(((cterm - CAST(cs * cs AS DOUBLE) / cn) / (k - 1))
                 / ((CAST(css AS DOUBLE) - cterm) / (cn - k)) + 1e-9, 6)
             AS f_stat,
           round((cterm - CAST(cs * cs AS DOUBLE) / cn)
                 / (CAST(css AS DOUBLE) - CAST(cs * cs AS DOUBLE) / cn)
                 + 1e-9, 6) AS eta_sq
    FROM last
    """,
)
def lineitem_returnflag_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n, ss_between, ss_within, f_stat, eta_sq): one-way ANOVA
    of quantity across the return flags, closed-form from integer
    moments. Determinism: s_g^2 stays under 2^53 through sf~10
    (exact double), the quotient s_g^2/n_g is correctly rounded
    (identical cross-engine), and the mode-ordered running-window sum
    adds those identical doubles in identical order (the CUSUM
    precedent) — so SSB/SSW/F/eta^2 are bit-identical before the 6dp
    round. At crawl sf promote the integer moments to DECIMAL(38,0)
    (the discount-elasticity note); the plan shape is unchanged.
    Scale shape: ONE partial-aggregated fact scan to |flags| rows;
    the fold and algebra run on that |flags|-row frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.expr("CAST(l_quantity AS BIGINT)").alias("q")
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    )
    last = ordered_fold(
        m,
        ["l_returnflag"],
        {
            "cn": "n",
            "cs": "s",
            "css": "ss",
            "cterm": (F.col("s") * F.col("s")).cast("double") / F.col("n"),
        },
    )
    ssb = F.col("cterm") - (F.col("cs") * F.col("cs")).cast("double") / F.col(
        "cn"
    )
    ssw = F.col("css").cast("double") - F.col("cterm")
    sst = F.col("css").cast("double") - (
        F.col("cs") * F.col("cs")
    ).cast("double") / F.col("cn")
    return last.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("cn").cast("bigint").alias("n"),
        F.round(ssb + F.lit(1e-9), 6).alias("ss_between"),
        F.round(ssw + F.lit(1e-9), 6).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("cn") - F.col("k")))
            + F.lit(1e-9),
            6,
        ).alias("f_stat"),
        F.round(ssb / sst + F.lit(1e-9), 6).alias("eta_sq"),
    )


# --------------------------------------------------------------------------
# SCD type-2 history build: collapse each customer's order stream
# into validity intervals of the o_orderpriority attribute — the
# slowly-changing-dimension shape every warehouse maintains (version
# rows with valid_from/valid_to instead of overwritten attributes).
# Gaps-and-islands via lag + running sum so the run detection and the
# run numbering share ONE custkey-keyed window sort; the run
# aggregation and the lead() rejoin both reuse that partitioning
# (hash(custkey) satisfies the (custkey, run_id) clustering — the
# sessionize precedent).
@register(
    "orders_scd2_intervals",
    tags=("relational", "scd2", "window", "islands"),
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate AS ts, o_orderkey, o_orderpriority,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ),
    r AS (
      SELECT o_custkey, ts, o_orderpriority,
             sum(CASE WHEN prev IS NULL OR prev <> o_orderpriority
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY ts, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_id
      FROM o
    ),
    runs AS (
      SELECT o_custkey, run_id, max(o_orderpriority) AS priority,
             min(ts) AS vf, CAST(count(*) AS BIGINT) AS n_orders
      FROM r GROUP BY 1, 2
    )
    SELECT o_custkey AS custkey,
           CAST(run_id AS BIGINT) AS version,
           priority,
           CAST(CAST(vf AS DATE) AS VARCHAR) AS valid_from,
           coalesce(
             CAST(CAST(lead(vf) OVER (
               PARTITION BY o_custkey ORDER BY run_id) AS DATE) AS VARCHAR),
             'CURRENT') AS valid_to,
           n_orders
    FROM runs
    """,
)
def orders_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(custkey, version, priority, valid_from, valid_to, n_orders):
    type-2 validity intervals of each customer's order priority.
    Determinism: (o_orderdate, o_orderkey) is a unique total order
    per customer, so run boundaries, version numbers and interval
    endpoints are all exact; dates export as strings (pairing rule).
    Scale shape: ONE hash(custkey) exchange — lag and the running
    run_id share the sort, the run aggregation and the lead() window
    reuse the custkey partitioning; no fact re-scan anywhere."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        "o_orderpriority",
    )
    w = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = o.withColumn("prev", F.lag("o_orderpriority").over(w)).withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("prev") != F.col("o_orderpriority")),
                1,
            ).otherwise(0)
        ).over(wrun),
    )
    runs = r.groupBy("o_custkey", "run_id").agg(
        F.max("o_orderpriority").alias("priority"),
        F.min("ts").alias("vf"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    return runs.select(
        F.col("o_custkey").alias("custkey"),
        F.col("run_id").cast("bigint").alias("version"),
        "priority",
        F.col("vf").cast("date").cast("string").alias("valid_from"),
        F.coalesce(
            F.lead("vf").over(w2).cast("date").cast("string"),
            F.lit("CURRENT"),
        ).alias("valid_to"),
        "n_orders",
    )


# --------------------------------------------------------------------------
# Dormancy / reactivation readout: an order placed after a >180-day
# gap is a WIN-BACK — the lifecycle-marketing counterpart of
# retention (which measures staying; this measures coming back).
# Integer calendar-day gaps (the q4/repeat-purchase discipline — NTZ
# dates, never float quotients); month buckets as integer yyyymm.
REACTIVATION_GAP_DAYS = 180


@register(
    "orders_reactivation",
    tags=("relational", "lifecycle", "window", "aggregate"),
    oracle=f"""
    WITH o AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             o_orderkey,
             year(o_orderdate) * 100 + month(o_orderdate) AS yyyymm,
             lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_d
      FROM orders
    )
    SELECT yyyymm,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN prev_d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first,
           CAST(sum(CASE WHEN prev_d IS NOT NULL
                          AND date_diff('day', prev_d, d)
                              > {REACTIVATION_GAP_DAYS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reactivated,
           round(CAST(sum(CASE WHEN prev_d IS NOT NULL
                               AND date_diff('day', prev_d, d)
                                   > {REACTIVATION_GAP_DAYS}
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1e-9, 6)
             AS reactivation_share
    FROM o GROUP BY 1
    """,
)
def orders_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(yyyymm, n_orders, n_first, n_reactivated, reactivation_share):
    monthly win-back counts — orders following a >180-day silence.
    Determinism: integer day gaps on a unique (date, orderkey)
    ordering; share is one division of exact integers. Scale shape:
    one custkey-keyed window sort (the SCD2 exchange), then a
    calendar-sized month aggregation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
            "yyyymm"
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    r = o.withColumn("prev_d", F.lag("d").over(w))
    is_react = F.col("prev_d").isNotNull() & (
        F.datediff(F.col("d"), F.col("prev_d")) > REACTIVATION_GAP_DAYS
    )
    return r.groupBy("yyyymm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("prev_d").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_first"),
        F.sum(F.when(is_react, 1).otherwise(0))
        .cast("bigint")
        .alias("n_reactivated"),
        F.round(
            F.sum(F.when(is_react, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("reactivation_share"),
    )


# --------------------------------------------------------------------------
# Duplicate line-entry screen: the SAME part appearing on MULTIPLE
# lines of ONE order — the double-keying / split-line audit every AP
# and order-integrity pipeline runs (the classic duplicate-payment
# screen keyed where this corpus actually collides: within-order
# line duplication; cross-order same-amount collisions are absent in
# this data by construction — checked at all three SFs before this
# op replaced that variant).
@register(
    "lineitem_duplicate_lines_screen",
    tags=("relational", "audit", "aggregate"),
    oracle="""
    SELECT l_orderkey AS orderkey,
           l_partkey AS partkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
           CAST(count(*) > count(DISTINCT l_suppkey) AS BOOLEAN)
             AS same_supplier_dup
    FROM lineitem
    GROUP BY 1, 2
    HAVING count(*) > 1
    """,
)
def lineitem_duplicate_lines_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(orderkey, partkey, n_lines, n_suppliers, total_qty, max_qty,
    same_supplier_dup): orders where one part occupies multiple
    lines; same_supplier_dup marks the strongest double-entry signal
    (duplicate lines that do not even differ by supplier).
    Determinism: pure integer aggregation on exact keys. Scale
    shape: ONE partial-aggregated scan grouped on (orderkey,
    partkey) — the HAVING filter runs post-aggregation on the
    already-collapsed frame; no join anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.expr("CAST(l_quantity AS BIGINT)").alias("q"),
    )
    g = li.groupBy(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_partkey").alias("partkey"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
        F.sum("q").cast("bigint").alias("total_qty"),
        F.max("q").cast("bigint").alias("max_qty"),
    )
    return g.filter(F.col("n_lines") > 1).select(
        "orderkey",
        "partkey",
        "n_lines",
        "n_suppliers",
        "total_qty",
        "max_qty",
        (F.col("n_lines") > F.col("n_suppliers")).alias("same_supplier_dup"),
    )


# --------------------------------------------------------------------------
# User-user collaborative-filtering neighborhoods: top customer pairs
# by Jaccard over their purchased part sets, restricted to
# DISCRIMINATIVE parts (2 <= part df <= CF_DF_CAP — ubiquitous parts
# carry no signal and quadratic fan-out; the cap is the standard CF
# popularity prune AND the inverted index's scale lever, shared with
# the ngram-jaccard discipline). The recommender building block.
CF_DF_CAP = 50
CF_TOP_N = 100


@register(
    "orders_user_similarity_jaccard",
    tags=("relational", "cf", "similarity", "self-join", "topk"),
    oracle=f"""
    WITH bp AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    df AS (SELECT pk, count(*) AS c FROM bp GROUP BY 1),
    b AS (
      SELECT bp.ck, bp.pk FROM bp JOIN df USING (pk)
      WHERE df.c BETWEEN 2 AND {CF_DF_CAP}
    ),
    sz AS (SELECT ck, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
    common AS (
      SELECT a.ck AS cust_a, b2.ck AS cust_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM b a JOIN b b2 ON a.pk = b2.pk AND a.ck < b2.ck
      GROUP BY 1, 2
    )
    SELECT cust_a, cust_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           round(CAST(n_common AS DOUBLE)
                 / (sa.n + sb.n - n_common) + 1e-9, 6) AS jaccard
    FROM common
    JOIN sz sa ON sa.ck = cust_a
    JOIN sz sb ON sb.ck = cust_b
    WHERE n_common >= 2
    ORDER BY round(CAST(n_common AS DOUBLE)
                   / (sa.n + sb.n - n_common) + 1e-9, 6) DESC, cust_a, cust_b
    LIMIT {CF_TOP_N}
    """,
)
def orders_user_similarity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cust_a, cust_b, n_common, n_a, n_b, jaccard): the CF_TOP_N
    most-similar customer pairs over discriminative purchased parts.
    Determinism: jaccard is a single division of exact integers,
    ranked on the 6dp round (+1e-9 half-boundary bias both engines —
    exact rationals like 3/128 land ON a 6dp boundary) with the
    (cust_a, cust_b) unique LIMIT tiebreak. Scale shape: basket distinct + df window share one
    part-keyed exchange; the pair join consumes two IDENTICAL
    subtrees (runtime ReusedExchange, the ngram rule); fan-out is
    capped at CF_DF_CAP^2 per part; the top-N rides
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    b = cap_blocks(bp, ["pk"], CF_DF_CAP)
    bn = b.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("ck")))
    common = (
        canonical_pairs(bn, ["pk"], "ck")
        .groupBy(
            F.col("a.ck").alias("cust_a"),
            F.col("b.ck").alias("cust_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    # +1e-9 pre-round bias (gotcha #3; ADVICE r9): exact rationals
    # like 3/128 sit exactly on a 6dp round half-boundary and the
    # rounded value drives the top-N ranking on both engines.
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        + F.lit(1e-9),
        6,
    )
    return (
        common.withColumn("jaccard", jac)
        .orderBy(F.col("jaccard").desc(), "cust_a", "cust_b")
        .limit(CF_TOP_N)
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "jaccard",
        )
    )


# --------------------------------------------------------------------------
# Supplier-switching profile: within each (customer, part) purchase
# relationship, how often does the next purchase come from a
# DIFFERENT supplier? The procurement loyalty/competition readout
# (high switch rates mark commodity parts; zero switch rates mark
# locked-in supply). Transitions are lag() comparisons over the
# unique (orderdate, orderkey, linenumber) order; everything is
# integer counts until one final division.
@register(
    "lineitem_supplier_switching",
    tags=("relational", "procurement", "window", "aggregate"),
    oracle="""
    WITH b AS (
      SELECT o.o_custkey AS ck, l.l_partkey AS pk, l.l_suppkey AS sk,
             lag(l.l_suppkey) OVER (
               PARTITION BY o.o_custkey, l.l_partkey
               ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber
             ) AS prev_sk
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    rel AS (
      SELECT ck, pk,
             CAST(count(*) AS BIGINT) AS n_buys,
             CAST(sum(CASE WHEN prev_sk IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_transitions,
             CAST(sum(CASE WHEN prev_sk IS NOT NULL AND prev_sk <> sk
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
      FROM b GROUP BY 1, 2
    )
    SELECT pk AS partkey,
           CAST(count(*) AS BIGINT) AS n_relationships,
           CAST(sum(CASE WHEN n_transitions > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeat_relationships,
           CAST(sum(n_transitions) AS BIGINT) AS n_transitions,
           CAST(sum(n_switches) AS BIGINT) AS n_switches,
           round(CAST(sum(n_switches) AS DOUBLE)
                 / greatest(sum(n_transitions), 1) + 1e-9, 6)
             AS switch_rate
    FROM rel GROUP BY 1
    HAVING sum(n_transitions) > 0
    """,
)
def lineitem_supplier_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(partkey, n_relationships, n_repeat_relationships,
    n_transitions, n_switches, switch_rate): per-part supplier
    switching across repeat (customer, part) purchases; only parts
    with at least one repeat purchase appear. Determinism: the lag
    ordering (orderdate, orderkey, linenumber) is a unique total
    order per relationship; all counts exact integers. Scale shape:
    one orderkey equi join (fact-fact, AQE picks the strategy), one
    (custkey, partkey) window sort whose aggregation reuses the same
    partitioning (clustering-subset rule), then a part-keyed rollup
    of the relationship frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    b = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("ck"),
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        "o_orderdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("ck", "pk").orderBy(
        "o_orderdate", "l_orderkey", "l_linenumber"
    )
    t = b.withColumn("prev_sk", F.lag("sk").over(w))
    rel = t.groupBy("ck", "pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buys"),
        F.sum(F.when(F.col("prev_sk").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_transitions"),
        F.sum(
            F.when(
                F.col("prev_sk").isNotNull()
                & (F.col("prev_sk") != F.col("sk")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_switches"),
    )
    g = rel.groupBy(F.col("pk").alias("partkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relationships"),
        F.sum(F.when(F.col("n_transitions") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat_relationships"),
        F.sum("n_transitions").cast("bigint").alias("n_transitions"),
        F.sum("n_switches").cast("bigint").alias("n_switches"),
    )
    return g.filter(F.col("n_transitions") > 0).select(
        "partkey",
        "n_relationships",
        "n_repeat_relationships",
        "n_transitions",
        "n_switches",
        F.round(
            F.col("n_switches").cast("double")
            / F.greatest(F.col("n_transitions"), F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("switch_rate"),
    )


# --------------------------------------------------------------------------
# Two-way fixed-effects OLS: the daily drift of order value (cents
# per calendar day) after absorbing nation and calendar-month fixed
# effects — the panel-regression readout ("is spend trending up
# within nation and season, not just across them?"). Defined as the
# one-shot two-way within transformation x~ = x - x̄_i - x̄_t + x̄
# (exact FE under a balanced panel, the standard one-step
# approximation otherwise — documented choice), with the slope
# S_x~y~ / S_x~x~ expanded ALGEBRAICALLY into sums of per-group
# integer moments so no per-row demeaned float is ever materialized:
#
#   S_x~y~ = Sxy - Σ_i SxiSyi/ni - Σ_t SxtSyt/nt - SxSy/n
#            + Σ_it n_it (SxiSyt + SxtSyi) / (ni nt)
#
# (y~ = x~ specialization for S_x~x~). FE dims are chosen BOUNDED —
# nation (25) x order month (~80), never custkey — so every
# correction sum runs over a bounded frame: the three float
# reductions (nation / month / cell terms) fold as key-ordered
# running-window sums (the ANOVA/CUSUM discipline), and the group
# moments they consume are exact integers. The products Sx_g * Sy_g
# can pass 2^63 at crawl SFs, so each term casts to DOUBLE BEFORE
# multiplying (identical tree both sides); the raw cell moments
# sxx/sxy accumulate in decimal(38,0)/HUGEINT (the CUPED discipline)
# so the per-cell sum never hits the 2^63 ANSI overflow around
# sf10-20 (ADVICE r13).
#
# OUTPUT DESIGN (r14, the CORRECTNESS_r13 red): the raw within-sums
# S_x~y~ / S_x~x~ are catastrophically-cancelled residuals of
# ~1.5e15-scale fold terms (ulp 0.25 up there) — the engines' folds
# genuinely land a few ulp apart (measured: spark 22130666317 vs
# duckdb 22130666318 vs exact ...318.15 at sf0.01), so a residual of
# 2.2e10 magnitude can NEVER survive a 4dp hash (the observed
# divergence is ~131,000 ulp of the rounded value; gotcha #3's
# scaled-bias rule has no workable bias between the error and the
# tick). The hashed output therefore carries only hash-stable
# values: the exact-integer df accounting (n_orders, n_nations,
# n_months, n_cells, df_within = n - I - T + 1 — NOTE df_within
# counts the DEMEANING df only; the FE regression's residual df
# subtracts one more for the slope, n - I - T) and the SCALE-FREE
# slope = S_x~y~/S_x~x~, whose cross-engine error is relative
# (~1e-10; absolute ~3e-7 at slope ~2e3 cents/day), rounded at 4dp
# (half-tick 5e-5, ~150x the error) with a +1e-6 bias (>> error,
# << tick) and the +0.0 signed-zero guard.
#
# Scale shape: ONE fact scan partial-aggregates the (nation, month)
# cell moments (customer's nation joined broadcast); nation and
# month marginals REUSE the cell aggregate (no second fact scan); the
# folds and the final algebra run on bounded frames (25 + 80 + 2000
# rows) cross-joined as 1-row broadcasts.
_FE_MARGIN_SUMS_SQL = {
    "cxy": "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n",
    "cxx": "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n",
}
_FE_CELL_SUMS_SQL = {
    "cxy": "CAST(c.n AS DOUBLE) * (CAST(i.sx AS DOUBLE) * CAST(t.sy AS DOUBLE)"
    " + CAST(t.sx AS DOUBLE) * CAST(i.sy AS DOUBLE))"
    " / (CAST(i.n AS DOUBLE) * CAST(t.n AS DOUBLE))",
    "cxx": "CAST(c.n AS DOUBLE) * (2.0 * CAST(i.sx AS DOUBLE) * CAST(t.sx AS DOUBLE))"
    " / (CAST(i.n AS DOUBLE) * CAST(t.n AS DOUBLE))",
}


@register(
    "orders_twoway_fixed_effects",
    tags=("relational", "regression", "fixed-effects", "window"),
    oracle=f"""
    WITH r AS (
      SELECT n.n_name AS nat,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                  AS BIGINT) AS mth,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cell AS (
      SELECT nat, mth,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(x * x) AS sxx,
             sum(x * y) AS sxy
      FROM r GROUP BY 1, 2
    ),
    ni AS (
      SELECT nat, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy
      FROM cell GROUP BY 1
    ),
    nt AS (
      SELECT mth, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy
      FROM cell GROUP BY 1
    ),
    g AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS ncell,
             CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
             sum(sxx) AS sxx,
             sum(sxy) AS sxy
      FROM cell
    ),
    fi AS ({ordered_fold_sql("ni", "nat", _FE_MARGIN_SUMS_SQL)}),
    ft AS ({ordered_fold_sql("nt", "mth", _FE_MARGIN_SUMS_SQL)}),
    -- HIERARCHICAL fold (two levels, each over a SMALL frame): a
    -- single running sum over all ~|nations|x|months| cell terms
    -- diverges from the sequential order past ~1-2k rows — DuckDB
    -- parallelizes/chunks window aggregation, so its windowed
    -- running sum stops being a left-to-right sequential fold on
    -- large frames (found bitwise at sf0.1: 2000-row fold off by
    -- 2 ulp while the 25- and 80-row folds matched exactly). Fold
    -- per nation over months (<= |months| rows), then fold the
    -- |nations| partials.
    fcp AS ({ordered_fold_sql(
        "cell c JOIN ni i ON i.nat = c.nat JOIN nt t ON t.mth = c.mth",
        "c.mth",
        _FE_CELL_SUMS_SQL,
        by="c.nat",
    )}),
    fc AS ({ordered_fold_sql("fcp", "nat", {"cxy": "cxy", "cxx": "cxx"})})
    SELECT g.n AS n_orders,
           CAST(fi.k AS BIGINT) AS n_nations,
           CAST(ft.k AS BIGINT) AS n_months,
           g.ncell AS n_cells,
           CAST(g.n - fi.k - ft.k + 1 AS BIGINT) AS df_within,
           round((CAST(g.sxy AS DOUBLE) - fi.cxy - ft.cxy
                  - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE) / g.n
                  + fc.cxy)
                 / (CAST(g.sxx AS DOUBLE) - fi.cxx - ft.cxx
                    - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE) / g.n
                    + fc.cxx) + 1e-6, 4) + 0.0 AS slope_cents_per_day
    FROM g, fi, ft, fc
    """,
)
def orders_twoway_fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_orders, n_nations, n_months, n_cells, df_within,
    slope_cents_per_day): two-way (nation, month) within-transform
    OLS slope of order cents on calendar day, with exact-integer df
    accounting (see header; df_within = n - I - T + 1 counts the
    demeaning df only — subtract 1 more for the regression's residual
    df; the raw within-sums are deliberately NOT emitted — they
    cannot survive the driver hash)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("mth"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = o.join(
        F.broadcast(cust.join(F.broadcast(nat),
                              cust.c_nationkey == nat.n_nationkey)),
        o.o_custkey == F.col("c_custkey"),
    ).select(F.col("n_name").alias("nat"), "mth", "x", "y")
    cell = r.groupBy("nat", "mth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        # Raw second moments accumulate in decimal(38,0) (HUGEINT on
        # the oracle side): per-row x*y ~ 5e11 approaches the 2^63
        # ANSI sum overflow around sf10-20 under bigint (ADVICE r13).
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    # The cell aggregate feeds four sibling consumers (marginals, the
    # cell fold, the global rollup) — differently-pruned branches that
    # AQE never exchange-reuses (gotcha #14): checkpoint once.
    cell = cell.localCheckpoint(eager=True)
    ni = cell.groupBy("nat").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
    )
    ntf = cell.groupBy("mth").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
    )
    g = cell.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("ncell"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
    )

    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    margin = {
        "cxy": dbl("sx") * dbl("sy") / F.col("n"),
        "cxx": dbl("sx") * dbl("sx") / F.col("n"),
    }
    fi = ordered_fold(ni, ["nat"], margin).select(
        F.col("k").alias("ki"), F.col("cxy").alias("fi_xy"), F.col("cxx").alias("fi_xx")
    )
    ft = ordered_fold(ntf, ["mth"], margin).select(
        F.col("k").alias("kt"), F.col("cxy").alias("ft_xy"), F.col("cxx").alias("ft_xx")
    )
    cj = (
        cell.select("nat", "mth", F.col("n").alias("cn"))
        .join(
            F.broadcast(
                ni.select(F.col("nat").alias("nat_i"),
                          F.col("n").alias("i_n"),
                          F.col("sx").alias("i_sx"),
                          F.col("sy").alias("i_sy"))
            ),
            F.col("nat") == F.col("nat_i"),
        )
        .join(
            F.broadcast(
                ntf.select(F.col("mth").alias("mth_t"),
                           F.col("n").alias("t_n"),
                           F.col("sx").alias("t_sx"),
                           F.col("sy").alias("t_sy"))
            ),
            F.col("mth") == F.col("mth_t"),
        )
    )
    # Hierarchical cell fold (see the oracle's fcp note): per-nation
    # running sums over months, then a fold of the |nations| partials
    # — every frame stays small enough that both engines' windowed
    # running sums are true sequential folds.
    term_xy = (
        dbl("cn")
        * (dbl("i_sx") * dbl("t_sy") + dbl("t_sx") * dbl("i_sy"))
        / (dbl("i_n") * dbl("t_n"))
    )
    term_xx = (
        dbl("cn")
        * (F.lit(2.0) * dbl("i_sx") * dbl("t_sx"))
        / (dbl("i_n") * dbl("t_n"))
    )
    fcp = ordered_fold(cj, ["mth"], {"cxy": term_xy, "cxx": term_xx}, by=["nat"]).select(
        "nat", "cxy", "cxx"
    )
    fc = ordered_fold(fcp, ["nat"], {"cxy": "cxy", "cxx": "cxx"}).select(
        F.col("cxy").alias("fc_xy"), F.col("cxx").alias("fc_xx")
    )
    out = (
        g.crossJoin(F.broadcast(fi))
        .crossJoin(F.broadcast(ft))
        .crossJoin(F.broadcast(fc))
    )
    sxy_w = (
        dbl("sxy") - F.col("fi_xy") - F.col("ft_xy")
        - dbl("sx") * dbl("sy") / F.col("n")
        + F.col("fc_xy")
    )
    sxx_w = (
        dbl("sxx") - F.col("fi_xx") - F.col("ft_xx")
        - dbl("sx") * dbl("sx") / F.col("n")
        + F.col("fc_xx")
    )
    return out.select(
        F.col("n").alias("n_orders"),
        F.col("ki").cast("bigint").alias("n_nations"),
        F.col("kt").cast("bigint").alias("n_months"),
        F.col("ncell").alias("n_cells"),
        (F.col("n") - F.col("ki") - F.col("kt") + F.lit(1))
        .cast("bigint")
        .alias("df_within"),
        (F.round(sxy_w / sxx_w + F.lit(1e-6), 4) + F.lit(0.0)).alias(
            "slope_cents_per_day"
        ),
    )


# --------------------------------------------------------------------------
# Theil T inequality decomposition of supplier revenue: how unequal
# is lineitem revenue across suppliers, and how much of that
# inequality lives WITHIN nations vs BETWEEN them — the additive
# inequality readout (unlike Gini, Theil decomposes exactly:
# T_total = T_between + sum_g share_g * T_g). Companion to
# events_user_gini on the procurement axis.
#
# Determinism: per-supplier revenue is an exact integer cent sum;
# every ln input is a quotient of exact integers built as
# CAST(a AS DOUBLE) * b / c in one identical tree, so both engines
# feed ln identical doubles (the bigram_pmi discipline; the summed
# ulp drift of ln across |suppliers| terms is ~1e-14, far under the
# 6dp round + 1e-9 bias). The float reductions honor gotcha #15:
# per-supplier terms fold per NATION over suppkey, then the
# |nations| partials fold — every window frame stays small (at crawl
# SF the per-nation supplier count grows ~|S|/25; escalate to a
# three-level fold before it passes ~1k rows/nation).
#
# Scale shape: ONE fact scan partial-aggregates per-supplier cents
# (supplier/nation dims broadcast); nation totals REUSE the
# checkpointed supplier aggregate (sibling consumers, gotcha #14);
# folds and algebra run on supplier/nation-bounded frames.
@register(
    "lineitem_theil_index",
    tags=("relational", "inequality", "theil", "window"),
    oracle=f"""
    WITH sup AS (
      SELECT s.s_nationkey AS nat, l.l_suppkey AS sk,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    g AS (
      SELECT nat, CAST(sum(x) AS BIGINT) AS totg,
             CAST(count(*) AS BIGINT) AS ng
      FROM sup GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(x) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS n
      FROM sup
    ),
    terms AS (
      SELECT sup.nat, sup.sk,
             CAST(sup.x AS DOUBLE) / tot.tot
               * ln(CAST(sup.x AS DOUBLE) * tot.n / tot.tot) AS t_tot,
             CAST(sup.x AS DOUBLE) / tot.tot
               * ln(CAST(sup.x AS DOUBLE) * g.ng / g.totg) AS t_win
      FROM sup JOIN g ON g.nat = sup.nat CROSS JOIN tot
    ),
    fp AS ({ordered_fold_sql(
        "terms", "sk", {"ct": "t_tot", "cw": "t_win"}, by="nat"
    )}),
    fn AS ({ordered_fold_sql(
        "fp JOIN g ON g.nat = fp.nat CROSS JOIN tot",
        "fp.nat",
        {
            "ct": "fp.ct",
            "cw": "fp.cw",
            "cb": "CAST(g.totg AS DOUBLE) / tot.tot * ln(CAST(g.totg AS DOUBLE) * tot.n"
            " / (CAST(tot.tot AS DOUBLE) * g.ng))",
        },
    )})
    SELECT tot.n AS n_suppliers,
           CAST((SELECT count(*) FROM g) AS BIGINT) AS n_nations,
           round(fn.ct + 1e-9, 6) AS theil_total,
           round(fn.cb + 1e-9, 6) AS theil_between,
           round(fn.cw + 1e-9, 6) AS theil_within
    FROM fn CROSS JOIN tot
    """,
)
def lineitem_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_suppliers, n_nations, theil_total, theil_between,
    theil_within): Theil T revenue inequality across suppliers with
    the exact within/between-nation decomposition (see header; the
    replay gate pins total = between + weighted-within)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sup = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nat"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum("c").cast("bigint").alias("x"))
        .localCheckpoint(eager=True)
    )
    g = sup.groupBy("nat").agg(
        F.sum("x").cast("bigint").alias("totg"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    tot = sup.agg(
        F.sum("x").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    terms = (
        sup.join(F.broadcast(g), "nat")
        .crossJoin(F.broadcast(tot))
        .select(
            "nat",
            "sk",
            (
                F.col("x").cast("double")
                / F.col("tot")
                * F.log(F.col("x").cast("double") * F.col("n") / F.col("tot"))
            ).alias("t_tot"),
            (
                F.col("x").cast("double")
                / F.col("tot")
                * F.log(F.col("x").cast("double") * F.col("ng") / F.col("totg"))
            ).alias("t_win"),
        )
    )
    fp = ordered_fold(terms, ["sk"], {"ct": "t_tot", "cw": "t_win"}, by=["nat"]).select(
        "nat", "ct", "cw"
    )
    b_term = (
        F.col("totg").cast("double")
        / F.col("tot")
        * F.log(
            F.col("totg").cast("double")
            * F.col("n")
            / (F.col("tot").cast("double") * F.col("ng"))
        )
    )
    fn = ordered_fold(
        fp.join(F.broadcast(g), "nat").crossJoin(F.broadcast(tot)),
        ["nat"],
        {"ct": "ct", "cw": "cw", "cb": b_term},
    )
    ng_count = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_nations"))
    return (
        fn.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ng_count))
        .select(
            F.col("n").alias("n_suppliers"),
            "n_nations",
            F.round(F.col("ct") + F.lit(1e-9), 6).alias("theil_total"),
            F.round(F.col("cb") + F.lit(1e-9), 6).alias("theil_between"),
            F.round(F.col("cw") + F.lit(1e-9), 6).alias("theil_within"),
        )
    )


# --------------------------------------------------------------------------
# Newsvendor stocking quantile per brand: the critical-fractile
# answer to "how much should each brand line stock per day" —
# with underage cost 4x overage the optimal stock is the 0.8-quantile
# of the daily demand distribution (the newsvendor model; q =
# Cu/(Cu+Co) = 0.8 here), read EXACTLY off the integer demand
# order statistics rather than an engine percentile.
#
# Determinism: daily demand is an exact integer quantity sum; the
# 0.8-quantile is the k-th order statistic with k = ceil(0.8*n) =
# (8n + 9) div 10 — a pure-integer rank with a (demand, day)
# tiebreak, so no float quantile semantics are ever in play (the
# threshold-crossing idiom); mean_daily is ONE division of exact
# integers (+1e-9, 6dp).
#
# Scale shape: ONE fact scan partial-aggregates the (brand, day)
# demand frame (part dim broadcast); the rank runs per brand
# over the calendar-bounded daily frame; the readout is a
# |brands|-row aggregate.
NEWSVENDOR_FRACTILE_NUM = 8  # q = 0.8 as the exact rational 8/10


@register(
    "lineitem_newsvendor_quantile",
    tags=("relational", "lineitem", "newsvendor", "quantile", "window"),
    oracle=f"""
    WITH dd AS (
      SELECT p.p_brand AS brand, l.l_shipdate AS day,
             CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS d
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT brand, d,
             row_number() OVER (
               PARTITION BY brand ORDER BY d, day) AS rn,
             count(*) OVER (PARTITION BY brand) AS n
      FROM dd
    )
    SELECT brand,
           CAST(max(n) AS BIGINT) AS n_days,
           CAST(min(CASE WHEN rn = ({NEWSVENDOR_FRACTILE_NUM} * n + 9) // 10
                         THEN d END) AS BIGINT) AS demand_q80,
           CAST(max(d) AS BIGINT) AS max_daily,
           round(CAST(sum(d) AS DOUBLE) / max(n) + 1e-9, 6) AS mean_daily
    FROM r GROUP BY brand
    """,
)
def lineitem_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, n_days, demand_q80, max_daily, mean_daily): exact
    0.8-quantile newsvendor stocking level of daily demand per part
    brand (see header; integer order statistics, never an engine
    percentile)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        F.round("l_quantity").cast("bigint").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dd = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"),
                 F.col("l_shipdate").alias("day"))
        .agg(F.sum("qty").cast("bigint").alias("d"))
    )
    w = Window.partitionBy("brand").orderBy("d", "day")
    r = dd.select(
        "brand",
        "d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("brand")).alias("n"),
    )
    k = F.expr(f"({NEWSVENDOR_FRACTILE_NUM} * n + 9) div 10")
    return r.groupBy("brand").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.min(F.when(F.col("rn") == k, F.col("d")))
        .cast("bigint")
        .alias("demand_q80"),
        F.max("d").cast("bigint").alias("max_daily"),
        F.round(
            F.sum("d").cast("double") / F.max("n") + F.lit(1e-9), 6
        ).alias("mean_daily"),
    )
