"""Advanced relational queries: as-of join, pivot, statistical and
holistic aggregates, fuzzy string matching, grouping sets via the SQL
entry path (SURVEY.md §2c rows "Joins — theta/range/as-of",
"Grouping sets", "Aggregation — holistic"; all ABSENT in the
reference, expressible there only as hand-written reduce fns).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grain import CENTS_SQL, DAY_SQL, KNUTH, MOD_2_32, cents, knuth_bucket, utc_day
from ..functions.scale import ntile_from_rank, two_pass_cumsum
from ..functions.stats import moment_sums
from ..sources import load_table
from .registry import register
from .relational import join_full_outer_nation_counts


# --------------------------------------------------------------------------
# AS-OF join: for every purchase event, the latest click of the same
# user at-or-before the purchase. Implemented the scalable way: union
# both sides tagged, ONE shuffle by user + in-partition sort, running
# last_value(click_ts) — no per-row range probe, no skew-prone
# inequality join. Timestamps exported as unix micros (engine-neutral).
@register(
    "asof_join_last_click",
    bench=True,
    tags=("join", "asof-join", "window"),
    oracle="""
    WITH u AS (
      SELECT user_id, ts, 1 AS kind, event_id
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 0 AS kind, NULL AS event_id
      FROM events WHERE event_type = 'click'
    ),
    m AS (
      SELECT user_id, ts, kind, event_id,
             last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS lc
      FROM u
    )
    SELECT event_id, user_id,
           epoch_us(ts) AS purchase_us,
           epoch_us(lc) AS last_click_us
    FROM m WHERE kind = 1
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("kind"), F.lit(None).cast("long").alias("event_id")
    )
    u = purchases.unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")  # click sorts before same-ts purchase
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w)
    return (
        u.withColumn("lc", last_click)
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("purchase_us"),
            F.unix_micros("lc").alias("last_click_us"),
        )
    )


# --------------------------------------------------------------------------
# PIVOT: wide per-month event-type counts. Spark pivot with an explicit
# value list (no extra distinct-scan pass; required shape at scale).
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "pivot_event_counts",
    tags=("pivot", "aggregate"),
    oracle=f"""
    SELECT
      strftime(ts, '%Y-%m') AS month,
      {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
    FROM events
    GROUP BY 1
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pivoted = (
        e.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for absent (month, type) combos; FILTER-count
    # yields 0 — normalize to 0 on the Spark side.
    return pivoted.select(
        "month", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


# --------------------------------------------------------------------------
# Statistical aggregates (stddev/var/corr/covar).
@register(
    "stats_aggregates",
    tags=("aggregate", "stats"),
    oracle="""
    SELECT
      event_type,
      round(stddev_samp(value), 4)  AS sd_value,
      round(var_samp(value), 4)     AS var_value,
      round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS corr_vk,
      round(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS covar_vk,
      round(min(value), 4)          AS min_value,
      round(max(value), 4)          AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return e.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.corr(F.col("value"), k), 4).alias("corr_vk"),
        F.round(F.covar_samp(F.col("value"), k), 4).alias("covar_vk"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


# --------------------------------------------------------------------------
# Holistic aggregate: exact median (the MEDIAN-class computation the
# reference's whole-value-list reduce exists for, mapreduce.py:132-133).
@register(
    "median_by_group",
    tags=("aggregate", "holistic"),
    oracle="""
    SELECT event_type,
           round(median(CAST(value AS DOUBLE)), 4) AS med_value,
           round(quantile_cont(CAST(value AS DOUBLE), 0.9), 4) AS p90_value
    FROM events
    GROUP BY event_type
    """,
)
def median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.median("value"), 4).alias("med_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
    )


# --------------------------------------------------------------------------
# Fuzzy string matching: levenshtein pairs over the (small) distinct
# p_type vocabulary — the match stage runs on the deduplicated domain,
# never the raw table (at 100 TB you block first, match second).
@register(
    "levenshtein_type_pairs",
    tags=("string", "fuzzy"),
    oracle="""
    WITH t AS (SELECT DISTINCT p_type FROM part)
    SELECT a.p_type AS type_a, b.p_type AS type_b,
           levenshtein(a.p_type, b.p_type) AS dist
    FROM t a JOIN t b ON a.p_type < b.p_type
    WHERE levenshtein(a.p_type, b.p_type) <= 10
    """,
)
def levenshtein_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "part").select("p_type").distinct()
    a = t.select(F.col("p_type").alias("type_a"))
    b = t.select(F.col("p_type").alias("type_b"))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .withColumn("dist", F.levenshtein("type_a", "type_b"))
        .filter(F.col("dist") <= 10)
    )


# --------------------------------------------------------------------------
# Correlated/scalar-subquery shape: orders above their segment's
# average. The decorrelated plan (window avg over one shuffle) is what
# both optimizers should produce — expressed as the subquery in SQL,
# the window rewrite in the DataFrame path; identical results.
@register(
    "above_segment_avg_orders",
    tags=("subquery", "window", "join"),
    oracle="""
    WITH seg AS (
      SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice,
             avg(o.o_totalprice) OVER (PARTITION BY c.c_mktsegment) AS seg_avg
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT o_orderkey, c_mktsegment,
           round(o_totalprice, 2) AS price,
           round(seg_avg, 4)      AS seg_avg
    FROM seg
    WHERE o_totalprice > seg_avg * 1.5
    """,
)
def above_segment_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # customer is fact-proportional (1:10 with orders) — no broadcast
    # hint; AQE broadcasts at small sf, shuffle-joins at 100 TB.
    seg = o.join(c, o.o_custkey == c.c_custkey).withColumn(
        "seg_avg", F.avg("o_totalprice").over(Window.partitionBy("c_mktsegment"))
    )
    return (
        seg.filter(F.col("o_totalprice") > F.col("seg_avg") * 1.5)
        .select(
            "o_orderkey",
            "c_mktsegment",
            F.round("o_totalprice", 2).alias("price"),
            F.round("seg_avg", 4).alias("seg_avg"),
        )
    )


# --------------------------------------------------------------------------
# Sketch aggregates: approx percentiles (KLL/GK-style, fixed-size
# state, no per-key value materialization — the 100 TB path for
# quantiles; exact counterpart is median_by_group).
@register(
    "approx_percentiles",
    oracle=None,  # sketch internals are engine-specific -> rows-only
    tags=("aggregate", "approx", "sketch"),
)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three scalar output columns (p50/p90/p99), not one array<double>:
    # flat columns keep the result hashable by any downstream row
    # comparator and stay portable across sinks. Spark evaluates the
    # three percentile_approx aggs over one shared shuffle.
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", F.lit(0.5), F.lit(10_000)), 4).alias("p50"),
        F.round(F.percentile_approx("value", F.lit(0.9), F.lit(10_000)), 4).alias("p90"),
        F.round(F.percentile_approx("value", F.lit(0.99), F.lit(10_000)), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# GROUPING SETS through the SQL entry path (also exercises view
# registration + spark.sql parity with the DataFrame API).
@register(
    "grouping_sets_sql",
    tags=("aggregate", "grouping-sets", "sql"),
    oracle="""
    SELECT
      coalesce(l_returnflag, 'ALL') AS returnflag,
      coalesce(l_linestatus, 'ALL') AS linestatus,
      count(*)                      AS n,
      round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT
          coalesce(l_returnflag, 'ALL') AS returnflag,
          coalesce(l_linestatus, 'ALL') AS linestatus,
          count(*)                      AS n,
          round(sum(l_extendedprice), 2) AS total_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# --------------------------------------------------------------------------
# UNPIVOT (melt): wide metric columns -> long (key, metric, value)
# rows — the inverse of pivot_event_counts, exercised on per-nation
# customer/supplier counts. Spark's unpivot is a narrow generator (no
# shuffle beyond the input aggs); oracle via the portable UNION-ALL
# rewrite.
@register(
    "unpivot_nation_counts",
    tags=("unpivot", "reshape"),
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey, count(*) AS n FROM customer GROUP BY 1
    ),
    s AS (
      SELECT s_nationkey AS nationkey, count(*) AS n FROM supplier GROUP BY 1
    ),
    wide AS (
      SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
             coalesce(c.n, 0) AS n_customers,
             coalesce(s.n, 0) AS n_suppliers
      FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    )
    SELECT nationkey, 'n_customers' AS metric, n_customers AS n FROM wide
    UNION ALL
    SELECT nationkey, 'n_suppliers' AS metric, n_suppliers AS n FROM wide
    """,
)
def unpivot_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = join_full_outer_nation_counts(spark, sf_dir)
    return wide.unpivot(
        ids=["nationkey"],
        values=["n_customers", "n_suppliers"],
        variableColumnName="metric",
        valueColumnName="n",
    )


# --------------------------------------------------------------------------
# explode_outer: null-preserving fan-out — rows whose array is empty
# survive as a single NULL row (plain explode drops them). The array
# here (tokens longer than 9 chars in p_name) is empty for many parts,
# so both branches are exercised.
@register(
    "explode_outer_long_words",
    tags=("array", "explode", "null-semantics"),
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             list_filter(string_split(p_name, ' '), w -> length(w) > 9) AS lw
      FROM part
    )
    SELECT p_partkey, unnest(lw) AS long_word FROM t WHERE len(lw) > 0
    UNION ALL
    SELECT p_partkey, NULL AS long_word FROM t WHERE len(lw) = 0
    """,
)
def explode_outer_long_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    lw = F.filter(F.split("p_name", " "), lambda w: F.length(w) > 9)
    return p.select("p_partkey", F.explode_outer(lw).alias("long_word"))


# --------------------------------------------------------------------------
# Ordered funnel: how many users progress view -> click -> purchase,
# each stage strictly after the previous one. The product-analytics
# staple (and the reference's per-key multi-stage reduce pattern
# expressed declaratively).
@register(
    "funnel_view_click_purchase",
    tags=("events", "funnel", "join", "aggregate"),
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v AS (
      SELECT user_id, min(ts) AS t_view
      FROM e WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT count(v.user_id)       AS n_view,
           count(c.user_id)       AS n_view_click,
           count(p.user_id)       AS n_view_click_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained conditional-min funnel: first view per user, first click
    AFTER that view, first purchase AFTER that click, then one global
    stage-count row.

    Scale shape: every stage is a groupBy/join keyed on user_id; stage
    frames only shrink (each is a subset of the previous stage's
    users). No window over the full event stream, no driver-side
    state. The final count row is a broadcast-free global agg of three
    tiny-by-then frames.

    v and c are each referenced by TWO downstream consumers (the next
    stage's join + the final funnel join), and exchange reuse does NOT
    rescue the duplicated lineage: Catalyst pushes the join's
    IsNotNull(user_id) into one branch's scan but not the other's, so
    the subtrees canonicalize differently and ReuseExchange never
    matches (measured: 6 events scans, 0 ReusedExchange). The fix is
    gotcha #9's: localCheckpoint(eager=True) the per-user stage
    aggregates — they are at most one row per surviving user, orders
    of magnitude smaller than events, so materializing them is cheap
    at any scale and collapses the plan to exactly ONE scan per event
    type (3 total, each with its event_type filter pushed)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=True)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=True)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p.select("user_id", "t_purchase"), "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_view_click"),
            F.count("t_purchase").alias("n_view_click_purchase"),
        )
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, counted at
# each later week offset — the other product-analytics staple next to
# the funnel. Week offsets computed as day-diff/7 over week-truncated
# timestamps (exact integer in both engines; DuckDB's
# date_diff('week') counts boundary crossings and would diverge).
@register(
    "events_retention_cohorts",
    tags=("events", "cohort", "aggregate"),
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(date_trunc('week', CAST(ts AS TIMESTAMP))) AS cohort
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id,
             f.cohort,
             CAST(date_diff('day', f.cohort,
                  date_trunc('week', CAST(e.ts AS TIMESTAMP))) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
           week_offset,
           count(*) AS n_users
    FROM a
    GROUP BY cohort, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort week, week offset) -> distinct active users.

    Scale shape: first-activity via one groupBy(user_id) min; the
    activity join is keyed on user_id; the DISTINCT collapses (user,
    cohort, offset) before the final partial-aggregated count — so the
    wide shuffle carries at most one row per user-week, never raw
    events. The shared base ``e`` IS scanned twice (once under f's
    groupBy, once as the join probe) — deliberately NOT checkpointed:
    ``e`` is the full 2-column projection of events, so materializing
    it would write the whole corpus to executor storage, strictly
    worse at 100 TB than two pruned columnar scans (ReadSchema is
    2 of 6 columns; the scans are the cheap part of this plan)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    )
    f = e.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    a = (
        e.join(f, "user_id")
        .select(
            "user_id",
            "cohort",
            (F.datediff("wk", "cohort") / 7).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_users",
    )


# --------------------------------------------------------------------------
# Z-score outlier detection: values beyond 2.5 sample standard
# deviations of their event_type's mean — the data-quality screen a
# pipeline runs before trusting a numeric column.
@register(
    "events_zscore_outliers",
    tags=("events", "stats", "outliers"),
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 4) AS value,
           round((e.value - s.m) / s.sd, 4) AS zscore
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE abs((e.value - s.m) / s.sd) >= 2.5
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-scores via ONE partial-aggregated groupBy producing
    a |event_types|-row stats frame, broadcast back onto the scan —
    the screening filter evaluates map-side with no shuffle of event
    rows (the window-function formulation would shuffle the whole
    table by event_type instead)."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("m")) / F.col("sd")
    return (
        e.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) >= 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): gap-free month spine between
# the first and last order, with per-month counts. The recursion is
# LINEAR (one row per month — depth = month span, no fan-out), which
# is the shape recursive SQL is safe for at scale; cyclic/graph
# recursion stays in the iterative DataFrame operator
# (operators/clustering.py) because Spark recursion supports UNION ALL
# only and a cycle would never terminate.
@register(
    "sql_recursive_month_spine",
    tags=("sql", "recursive-cte", "timeseries"),
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT date_trunc('month', min(o_orderdate)) AS lo,
             date_trunc('month', max(o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT lo AS m, hi FROM bounds
      UNION ALL
      SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
    ),
    cnt AS (
      SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT strftime(s.m, '%Y-%m') AS month,
           coalesce(c.n, 0) AS n_orders
    FROM spine s LEFT JOIN cnt c ON s.m = c.m
    """,
)
def sql_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same recursive SQL on both engines (modulo date formatting
    dialect) — pins Spark 4's WITH RECURSIVE surface against DuckDB.
    The spine frame is |months| rows however large orders gets; the
    real work is the one partial-aggregated month count."""
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "100000")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_rs_orders")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT date_trunc('month', min(o_orderdate)) AS lo,
                 date_trunc('month', max(o_orderdate)) AS hi
          FROM _rs_orders
        ),
        spine AS (
          SELECT lo AS m, hi FROM bounds
          UNION ALL
          SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
        ),
        cnt AS (
          SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
          FROM _rs_orders GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS month,
               coalesce(c.n, 0) AS n_orders
        FROM spine s LEFT JOIN cnt c ON s.m = c.m
        """
    )


# --------------------------------------------------------------------------
# Gap-based sessionization: the batch form of the classic clickstream
# operator (streaming twin: stream_session_counts' session_window).
# A session breaks when a user is idle longer than SESSION_GAP_US.
SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4h, ~30% of adjacent pairs merge


# The session CTE is SHARED between events_sessionize_gap and
# events_session_length_stats (the dedup-family discipline: one
# ground-truth definition, consumers cannot drift).
_SESSION_AGG_CTE = f"""
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, value, us,
             CASE WHEN prev_us IS NULL
                       OR us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_sess
      FROM e
    ),
    sess AS (
      SELECT user_id, event_id, value, us,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_no
      FROM flagged
    ),
    sess_agg AS (
      SELECT user_id,
             CAST(session_no AS BIGINT) AS session_no,
             CAST(count(*) AS BIGINT)   AS n_events,
             CAST(min(us) AS BIGINT)    AS start_us,
             CAST(max(us) AS BIGINT)    AS end_us,
             round(sum(value), 2)       AS sum_value
      FROM sess
      GROUP BY user_id, session_no
    )
    """


def _session_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(user, session) aggregate frame both session consumers
    build on — Spark twin of the shared ``_SESSION_AGG_CTE``."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_sess",
        (
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US)
        ).cast("int"),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("us").cast("bigint").alias("start_us"),
        F.max("us").cast("bigint").alias("end_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "events_sessionize_gap",
    tags=("events", "sessionization", "window"),
    oracle=_SESSION_AGG_CTE
    + """
    SELECT user_id, session_no, n_events, start_us, end_us, sum_value
    FROM sess_agg
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (user, session): event count, span, value sum.

    Scale shape: ONE shuffle on user_id serves everything — the lag
    window and the running-sum session counter share the same
    (user_id, ts, event_id) sort, so Spark plans a single exchange +
    single sort with both window functions in it, and the final
    groupBy(user_id, session_no) needs no further exchange because
    hash-partitioning on user_id already clusters the composite key
    (partial agg still runs map-side). No global window, no driver
    state; (ts, event_id) ordering makes session numbering
    deterministic under any partitioning. At 100 TB the same plan
    holds — sessionization cost is one sort per user partition, and
    skewed mega-users degrade one partition, not the stage (AQE skew
    handling applies to the exchange; the monster-user escalation is
    the hierarchical (user, day) split documented in SCALING.md §Skew).
    Session definition + plan live in `_session_aggs`, shared with
    events_session_length_stats."""
    return _session_aggs(spark, sf_dir)


@register(
    "events_session_length_stats",
    tags=("events", "sessionization", "stats", "percentile"),
    oracle=_SESSION_AGG_CTE
    + """
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_single,
           round(CAST(sum(n_events) AS DOUBLE) / count(*) + 1e-9, 4)
             AS mean_events,
           round(quantile_cont(end_us - start_us, 0.5) + 1e-9, 2)
             AS p50_duration_us,
           round(quantile_cont(end_us - start_us, 0.9) + 1e-9, 2)
             AS p90_duration_us
    FROM sess_agg
    """,
)
def events_session_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_sessions, n_single, mean_events, p50/p90_duration_us): the
    corpus-level session-shape profile (bounce rate = n_single /
    n_sessions; duration percentiles size streaming session state).
    Composes on the SHARED `_session_aggs` frame — one definition for
    both consumers. Spark `percentile` == DuckDB `quantile_cont`
    BIT-EXACT on integer inputs (verified by events_winsorize_stats);
    the exact percentile runs over the per-session aggregate (≤ one
    row per user-session — already 10³× smaller than events), the
    approx_percentile swap is the crawl-scale variant."""
    dur = (F.col("end_us") - F.col("start_us")).alias("dur")
    sa = _session_aggs(spark, sf_dir).select("n_events", dur)
    return sa.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("int"))
        .cast("bigint")
        .alias("n_single"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("mean_events"),
        F.round(F.expr("percentile(dur, 0.5)") + F.lit(1e-9), 2).alias(
            "p50_duration_us"
        ),
        F.round(F.expr("percentile(dur, 0.9)") + F.lit(1e-9), 2).alias(
            "p90_duration_us"
        ),
    )


# --------------------------------------------------------------------------
# Exponentially time-decayed engagement: the recency-weighted feature
# a ranking/curation pipeline computes per user ("activity as of
# now") — sum(value * exp(-days_since / TAU)). Decay anchored to the
# corpus max ts so both engines see one deterministic "now".
DECAY_TAU_DAYS = 7.0


@register(
    "events_decayed_score",
    tags=("events", "feature", "decay"),
    oracle=f"""
    WITH anchor AS (
      SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS t_end FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * exp(-((anchor.t_end - epoch_us(CAST(ts AS TIMESTAMP)))
                                   / 86400000000.0) / {DECAY_TAU_DAYS})), 4)
             AS decayed_value,
           CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_seen_us
    FROM events CROSS JOIN anchor
    GROUP BY user_id
    """,
)
def events_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, decayed_value, last_seen_us) with a
    TAU-day exponential decay anchored at the corpus max timestamp.

    Scale shape: the anchor is a narrow scan agg broadcast onto every
    row (never a global window); the decayed sum partial-aggregates
    map-side, so the one shuffle carries a row per (user, partition).
    Cross-engine float note: exp() differs by <=1 ulp between the JVM
    and libm, and summed terms are transcendental (never sitting on a
    4dp rounding boundary), so 4dp rounding is stable — unlike
    rational arithmetic, which CAN land exactly on boundaries and
    needs the gotcha-#13 bias."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_micros("ts").alias("us")
    )
    anchor = e.agg(F.max("us").alias("t_end"))
    days = (F.col("t_end") - F.col("us")) / F.lit(86400000000.0)
    return (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value") * F.exp(-days / DECAY_TAU_DAYS)), 4).alias(
                "decayed_value"
            ),
            F.max("us").cast("bigint").alias("last_seen_us"),
        )
    )


# --------------------------------------------------------------------------
# Join-key skew diagnostics: the heavy-hitter profile an engineer (or
# an auto-tuner) reads BEFORE choosing a join strategy — the top keys
# by row count with their share of total traffic and their multiple of
# the average key load. join_salted_skew is the cure; this is the
# diagnosis.
SKEW_TOP_N = 20


@register(
    "events_key_skew_profile",
    tags=("events", "skew", "diagnostics", "heavy-hitters"),
    oracle=f"""
    WITH c AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM c
    ),
    r AS (
      SELECT user_id, cnt, total, n_keys,
             row_number() OVER (ORDER BY cnt DESC, user_id) AS rk
      FROM c, t
    )
    SELECT rk, user_id,
           CAST(cnt AS BIGINT) AS n_events,
           round((cnt / CAST(total AS DOUBLE)) + 1e-9, 6) AS share,
           round(((cnt * CAST(n_keys AS DOUBLE)) / total) + 1e-9, 4) AS skew_vs_avg
    FROM r WHERE rk <= {SKEW_TOP_N}
    """,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rk, user_id, n_events, share, skew_vs_avg) for the SKEW_TOP_N
    heaviest join keys — skew_vs_avg is the key's multiple of the
    mean per-key load (the number that decides between plain shuffle,
    AQE skew split, and salting; see join_salted_skew).

    Scale shape: per-key counts partial-aggregate map-side (one
    shuffle on user_id); the (total, n_keys) scalar broadcast-joins
    back; the global ranking is orderBy+limit — TakeOrderedAndProject
    (per-partition top-N heaps + driver merge of N rows), NEVER a
    single-task global window. The rank column is then a row_number
    over the N surviving rows only. Ratios are single divisions of
    identical (long, double) operands with the +1e-9 half-boundary
    guard (counts/totals are rationals)."""
    e = load_table(spark, sf_dir, "events")
    # per-key counts feed two differently-aggregated siblings (the
    # scalar and the ranking) — the no-reuse shape; the frame is tiny
    # (one row per key), so eager-checkpoint it (gotcha #9)
    c = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    t = c.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = (
        c.crossJoin(F.broadcast(t))
        .orderBy(F.desc("cnt"), "user_id")
        .limit(SKEW_TOP_N)
    )
    rk = F.row_number().over(Window.orderBy(F.desc("cnt"), "user_id"))
    return top.select(
        rk.alias("rk"),
        "user_id",
        F.col("cnt").cast("bigint").alias("n_events"),
        F.round((F.col("cnt") / F.col("total").cast("double")) + F.lit(1e-9), 6).alias(
            "share"
        ),
        F.round(
            ((F.col("cnt") * F.col("n_keys").cast("double")) / F.col("total"))
            + F.lit(1e-9),
            4,
        ).alias("skew_vs_avg"),
    )


# --------------------------------------------------------------------------
# Winsorization profile: exact p01/p99 clip bounds per event_type and
# how many rows each bound would clip — the numeric-column hygiene
# pass before a value column feeds features. Spark `percentile` and
# DuckDB `quantile_cont` both use linear interpolation and agree
# BIT-EXACTLY (verified on this data), so the clip counts compare
# against identical unrounded bounds.
@register(
    "events_winsorize_stats",
    tags=("events", "stats", "percentile", "winsorize"),
    oracle="""
    WITH s AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN e.value < s.p01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN e.value > s.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           round(min(s.p01) + 1e-9, 4) AS p01,
           round(min(s.p99) + 1e-9, 4) AS p99
    FROM events e JOIN s USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, n_below, n_above, p01, p99): exact
    two-pass winsorize profile. Counts compare raw values against the
    UNROUNDED bounds (engine-identical doubles), so they cannot drift;
    displayed bounds carry the +1e-9 half-boundary guard.

    Scale shape: pass 1 is a per-type exact percentile — a holistic
    agg that buffers each group's values (fine per event_type here;
    the crawl-scale swap is approx_percentile, a partial-aggregable
    sketch, same output shape). Pass 2 broadcasts the tiny bounds
    table back onto the scan and partial-aggregates the clip counts
    map-side. Two scans total, no row ever shuffles with its value."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    j = e.join(F.broadcast(s), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("value") < F.col("p01")).cast("int")).cast("bigint").alias("n_below"),
        F.sum((F.col("value") > F.col("p99")).cast("int")).cast("bigint").alias("n_above"),
        F.round(F.min("p01") + F.lit(1e-9), 4).alias("p01"),
        F.round(F.min("p99") + F.lit(1e-9), 4).alias("p99"),
    )


# --------------------------------------------------------------------------
# Robust outlier profile via median absolute deviation. The z-score
# outlier pass (events_zscore_outliers) is itself skewed by the
# outliers it hunts; the MAD modified z-score (Iglewicz & Hoaglin,
# |0.6745·(x − med)| > 3.5·MAD) is the robust variant production
# metric pipelines actually deploy. Builds on the r7-verified fact
# that Spark `percentile` and DuckDB `quantile_cont` agree BIT-EXACTLY
# on this data (events_winsorize_stats), so both medians feed
# identical unrounded doubles into the outlier compare.
MAD_Z_CUT = 3.5
MAD_CONSISTENCY = 0.6745  # Φ⁻¹(0.75): scales MAD to σ under normality


@register(
    "events_anomaly_mad",
    tags=("events", "stats", "robust", "outliers", "percentile"),
    oracle=f"""
    WITH m1 AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    r AS (
      SELECT e.event_type, e.value, m1.med,
             abs(e.value - m1.med) AS adev
      FROM events e JOIN m1 USING (event_type)
    ),
    m2 AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM r GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(min(r.med) + 1e-9, 4) AS med,
           round(min(m2.mad) + 1e-9, 4) AS mad,
           CAST(sum(CASE WHEN {MAD_CONSISTENCY} * r.adev
                              > {MAD_Z_CUT} * m2.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN {MAD_CONSISTENCY} * r.adev
                                    > {MAD_Z_CUT} * m2.mad THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 4) AS outlier_rate
    FROM r JOIN m2 USING (event_type)
    GROUP BY r.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, med, mad, n_outliers, outlier_rate):
    robust MAD outlier profile per event_type. Outlier compares run
    on UNROUNDED engine-identical doubles (|0.6745·dev| > 3.5·MAD —
    the multiply form avoids div-by-zero; note a MAD=0 group flags
    EVERY off-median row, the standard modified-z degenerate case,
    identically on both engines);
    displayed med/mad/rate carry the +1e-9 half-boundary guard
    (outlier_rate is a rational — gotcha #13).

    Scale shape (the winsorize two-pass pattern): pass 1 exact median
    per type (holistic per-group; crawl-scale swap is
    approx_percentile, same output shape), broadcast the tiny bounds
    back; pass 2 exact median of deviations; final broadcast join +
    partial-aggregated counts. No row ever shuffles with its value —
    only the per-type medians move."""
    e = load_table(spark, sf_dir, "events")
    m1 = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    r = e.join(F.broadcast(m1), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    m2 = r.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    out_flag = (
        F.lit(MAD_CONSISTENCY) * F.col("adev") > F.lit(MAD_Z_CUT) * F.col("mad")
    ).cast("int")
    return (
        r.join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.min("med") + F.lit(1e-9), 4).alias("med"),
            F.round(F.min("mad") + F.lit(1e-9), 4).alias("mad"),
            F.sum(out_flag).cast("bigint").alias("n_outliers"),
            F.round(
                F.sum(out_flag).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
            ).alias("outlier_rate"),
        )
    )


# --------------------------------------------------------------------------
# Per-group OLS trend: closed-form simple linear regression of value
# on time (days since the corpus min timestamp), entirely from
# algebraic sums — the metric-drift detector that runs as ONE
# partial-aggregated pass at any scale (six sums per group), where a
# two-pass centered regression would scan twice. Both engines build
# the IDENTICAL expression tree over (n, Σx, Σy, Σx², Σy², Σxy), so
# the only divergence is summation-order ulp, absorbed by the
# display rounds. x is days (≤ double 2^53 exactness by construction:
# integer micros / 8.64e10), keeping n·Σx² − (Σx)² far from
# catastrophic cancellation.
@register(
    "events_linreg_trend",
    tags=("events", "stats", "regression", "trend"),
    oracle="""
    WITH a AS (
      SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    p AS (
      SELECT event_type,
             (epoch_us(CAST(ts AS TIMESTAMP)) - a.t0) / 86400000000.0 AS x,
             value AS y
      FROM events CROSS JOIN a
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM p GROUP BY event_type
    )
    SELECT event_type, n AS n_events,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6) + 0.0
             AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 + 1e-9, 4) + 0.0 AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 6) AS r2
    FROM s
    """,
)
def events_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, slope, intercept, r2): value-vs-time
    OLS per event_type. Scale shape: the t0 anchor is a narrow scan
    agg broadcast onto the rows (events_decayed_score pattern); the
    six regression sums partial-aggregate map-side, so the one
    shuffle moves a row per (event_type, partition). No window, no
    second pass."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("us")
    )
    a = e.agg(F.min("us").alias("t0"))
    x = (F.col("us") - F.col("t0")) / F.lit(86400000000.0)
    s = (
        e.crossJoin(F.broadcast(a))
        .select("event_type", x.alias("x"), F.col("value").alias("y"))
        .groupBy("event_type")
        .agg(*moment_sums())
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return s.select(
        "event_type",
        F.col("n").alias("n_events"),
        (F.round(slope + F.lit(1e-9), 6) + F.lit(0.0)).alias("slope"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n") + F.lit(1e-9), 4)
            + F.lit(0.0)  # -0.0 -> 0.0 (signed-zero rule, see embedding_covariance)
        ).alias("intercept"),
        F.round((cov * cov) / (varx * vary) + F.lit(1e-9), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# First-order Markov transition matrix over per-user event sequences
# — the behavioral-model input (and the sequence-sanity check before
# events feed a sequential model). Ordering inside each user uses the
# unique (ts, event_id) composite, so lead() is tie-deterministic and
# partition-invariant on both engines.
_TRANSITIONS_SQL = """seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )"""


def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(from_type, to_type, n_trans)``: the Spark twin of
    ``_TRANSITIONS_SQL``. One shuffle on user_id for the lead()
    window (the sessionize exchange — at crawl scale, pre-bucketing
    events by user makes it free), then the transition groupBy
    collapses the stream to |types|² rows."""
    e = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(wseq).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))


@register(
    "events_markov_transitions",
    tags=("events", "markov", "sequence", "window"),
    oracle=f"""
    WITH {_TRANSITIONS_SQL}
    SELECT from_type, to_type, n_trans,
           round(CAST(n_trans AS DOUBLE)
                 / sum(n_trans) OVER (PARTITION BY from_type) + 1e-9, 4) AS prob
    FROM t
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n_trans, prob): within-user transition
    counts and row-normalized probabilities.

    Scale shape: _transitions, then the row-normalizing window runs
    on that tiny matrix. The probability is rational → +1e-9
    pre-round bias (gotcha #13)."""
    t = _transitions(spark, sf_dir)
    wrow = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(wrow)
            + F.lit(1e-9),
            4,
        ).alias("prob"),
    )


# --------------------------------------------------------------------------
# RFM segmentation: customers scored into quintiles on recency /
# frequency / monetary — the classic batch-marketing segmentation,
# and a three-metric exercise of deterministic ntile discipline
# (every ORDER BY carries the unique c_custkey tiebreak; segment
# summary output keeps per-customer rows out of the comparator).
@register(
    "orders_rfm_segments",
    tags=("orders", "rfm", "ntile", "segmentation"),
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS freq,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    s AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score,
             monetary
      FROM m
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary) + 1e-9, 2) AS total_monetary
    FROM s GROUP BY r_score, f_score, m_score
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(r_score, f_score, m_score, n_customers, total_monetary) per
    RFM cell. Scale note: each quintile score is a two-pass global
    rank (range partition + broadcast offsets,
    functions/scale.py::two_pass_cumsum) over the CUSTOMER aggregate
    with the exact ntile formula derived from (rank, total) — three
    range exchanges of the dim-sized frame, never a single-partition
    sort (VERDICT r9 #2; each ORDER BY carries the unique c_custkey
    tiebreak, so rank == row_number and the derived ntile is
    identical to the engine-native one)."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("o_totalprice").alias("monetary"),
    )
    s = m
    for score, keys in (
        ("r_score", [F.col("last_order").desc(), F.col("o_custkey")]),
        ("f_score", [F.col("freq").desc(), F.col("o_custkey")]),
        ("m_score", [F.col("monetary").desc(), F.col("o_custkey")]),
    ):
        s = two_pass_cumsum(s, keys, F.lit(1), "_rn", total_col="_tot")
        s = s.withColumn(
            score, ntile_from_rank(F.col("_rn"), F.col("_tot"), 5)
        ).drop("_rn", "_tot")
    return s.groupBy(
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("monetary") + F.lit(1e-9), 2).alias("total_monetary"),
    )


# --------------------------------------------------------------------------
# Hour-of-day seasonality profile — the traffic-shape diagnostic that
# sizes streaming capacity and catches clock-skewed sources. Hour
# extraction must agree across engines on the same micros (both read
# the parquet NTZ micros; Spark's session-TZ cast round-trips through
# unix_micros so the hour is computed on identical integers).
@register(
    "events_hourly_seasonality",
    tags=("events", "seasonality", "time"),
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
                  AS BIGINT) AS hour_utc,
             value
      FROM events
    )
    SELECT event_type, hour_utc,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value) + 1e-9, 4) AS avg_value
    FROM h GROUP BY event_type, hour_utc
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour_utc, n_events, avg_value): 24-hour traffic
    and value profile per event type. The hour is derived from the
    raw epoch-micros integer (INTEGER div on both engines — a float
    quotient's ulp could flip events microseconds from an hour
    boundary; no timezone/calendar functions in the hash path).
    Scale: one partial-aggregated groupBy on a 5×24-key space."""
    e = load_table(spark, sf_dir, "events")
    hour = F.expr("(unix_micros(ts) div 3600000000) % 24")
    return (
        e.select("event_type", hour.alias("hour_utc"), "value")
        .groupBy("event_type", "hour_utc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.avg("value") + F.lit(1e-9), 4).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# Funnel latency: time from a user's FIRST view to their first
# purchase at-or-after it — the conversion-latency profile product
# analytics reads next to the funnel counts. Latencies are continuous
# (micros → hours division), and the percentile legs ride the
# verified Spark percentile ≡ DuckDB quantile_cont bit-parity.
@register(
    "events_funnel_time_to_convert",
    tags=("events", "funnel", "latency", "percentile"),
    oracle="""
    WITH v AS (
      SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS tv
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT v.user_id,
             min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS tp
      FROM v JOIN events e
        ON e.user_id = v.user_id
       AND e.event_type = 'purchase'
       AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= v.tv
      GROUP BY v.user_id
    ),
    l AS (
      SELECT v.user_id, (p.tp - v.tv) / 3600000000.0 AS hours
      FROM v LEFT JOIN p ON p.user_id = v.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_viewed,
           CAST(count(hours) AS BIGINT) AS n_converted,
           round(CAST(count(hours) AS DOUBLE) / count(*) + 1e-9, 4)
             AS conv_rate,
           round(quantile_cont(hours, 0.5) + 1e-9, 4) AS p50_hours,
           round(quantile_cont(hours, 0.9) + 1e-9, 4) AS p90_hours
    FROM l
    """,
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_viewed, n_converted, conv_rate, p50_hours, p90_hours):
    first-view → first-subsequent-purchase latency profile.

    Scale shape: the view anchor is one partial-aggregated groupBy on
    the pushed-filter view scan; the purchase leg joins the (small)
    per-user anchor back to the pushed-filter purchase scan on
    user_id with the time predicate as a residual — never an
    inequality-only join — and partial-aggregates the min. The
    latency percentiles are a holistic agg over ≤|users| rows (the
    winsorize trade: exact here, approx_percentile at crawl scale)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("tv"))
    )
    p = (
        v.join(
            e.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("us").alias("pu")
            ),
            "user_id",
        )
        .filter(F.col("pu") >= F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("pu").alias("tp"))
    )
    latency = (F.col("tp") - F.col("tv")) / F.lit(3600000000.0)
    return (
        v.join(p, "user_id", "left")
        .select(latency.alias("hours"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_viewed"),
            F.count("hours").cast("bigint").alias("n_converted"),
            F.round(
                F.count("hours").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
            ).alias("conv_rate"),
            F.round(F.expr("percentile(hours, 0.5)") + F.lit(1e-9), 4).alias(
                "p50_hours"
            ),
            F.round(F.expr("percentile(hours, 0.9)") + F.lit(1e-9), 4).alias(
                "p90_hours"
            ),
        )
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation of the value stream per event type — the
# time-series sanity check (is the metric i.i.d. or drifting?) built
# from the same six-sum closed form as events_linreg_trend, but over
# (v_t, v_{t+1}) pairs from one sequence window.
@register(
    "events_value_autocorr",
    tags=("events", "stats", "timeseries", "autocorrelation"),
    oracle="""
    WITH seq AS (
      SELECT event_type, value AS x,
             lead(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM seq WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 + 1e-9, 6) + 0.0 AS autocorr_lag1
    FROM s
    """,
)
def events_value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_pairs, autocorr_lag1): Pearson correlation of
    consecutive values in the per-type time order (unique (ts,
    event_id) tiebreak). Near-zero correlations can be tiny negative
    → the signed-zero normalization applies (gotcha #3). Scale: one
    sequence window per type, then one partial-aggregated six-sum
    fold — the linreg shape."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.col("value").alias("x"), F.lead("value").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = seq.groupBy("event_type").agg(*moment_sums())
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        (F.round(num / den + F.lit(1e-9), 6) + F.lit(0.0)).alias("autocorr_lag1"),
    )


# --------------------------------------------------------------------------
# Pareto concentration: how much revenue the top decile of customers
# carries — the 80/20 diagnostic behind customer-tiering decisions.
# Decile membership uses ntile(10) with the unique custkey tiebreak
# (deterministic both engines); shares are rationals with the bias.
@register(
    "orders_pareto_share",
    tags=("orders", "pareto", "ntile", "concentration"),
    oracle="""
    WITH m AS (
      SELECT o_custkey, sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    t AS (
      SELECT o_custkey, monetary,
             ntile(10) OVER (ORDER BY monetary DESC, o_custkey) AS tile
      FROM m
    )
    SELECT CAST(tile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary) + 1e-6, 2) AS revenue,
           round(sum(monetary) / (SELECT sum(monetary) FROM m) + 1e-9, 4)
             AS revenue_share
    FROM t GROUP BY tile
    """,
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, n_customers, revenue, revenue_share) by customer
    revenue decile. Scale: customer aggregate first; decile
    membership is a two-pass global rank (range partition +
    broadcast offsets, functions/scale.py::two_pass_cumsum) + the
    exact ntile formula — never a single-partition sort (VERDICT r9
    #2). Total revenue is a window over the 10-ROW decile frame (the
    customer aggregate is scanned exactly once, post-checkpoint);
    money sums carry the magnitude-scaled +1e-6 bias (gotcha #3)."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("monetary"))
    t = two_pass_cumsum(
        m, [F.col("monetary").desc(), F.col("o_custkey")], F.lit(1), "_rn", total_col="_tot"
    ).withColumn("decile", ntile_from_rank(F.col("_rn"), F.col("_tot"), 10))
    g = t.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary").alias("_rev"),
    )
    tot = F.sum("_rev").over(Window.partitionBy())
    return g.select(
        "decile",
        "n_customers",
        F.round(F.col("_rev") + F.lit(1e-6), 2).alias("revenue"),
        F.round(F.col("_rev") / tot + F.lit(1e-9), 4).alias("revenue_share"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day active users per day — the WAU curve. Exact distinct
# over a sliding window is not frame-expressible (count distinct
# can't stream a frame), and a day-range join is an inequality join;
# the scale shape is the OFFSET EXPLODE: each (day, user) fact emits
# its 7 covering window-days, turning the rolling distinct into a
# plain equi-keyed distinct+count. Fan-out is exactly the window
# width — shuffle 7·|user-days|, never |events|.
WAU_WINDOW_DAYS = 7


@register(
    "events_wau_rolling",
    tags=("events", "rolling", "distinct", "wau"),
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT
             {DAY_SQL} AS day,
             user_id
      FROM events
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM du),
    expanded AS (
      SELECT du.day + i AS wday, du.user_id
      FROM du, range(0, {WAU_WINDOW_DAYS}) t(i)
    )
    SELECT CAST(wday AS BIGINT) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM expanded CROSS JOIN bounds
    WHERE wday BETWEEN bounds.d0 AND bounds.d1
    GROUP BY wday
    """,
)
def events_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, wau): distinct users active in the trailing
    {WAU_WINDOW_DAYS} days, for every observed epoch-day. Days are
    INTEGER epoch divisions (gotcha: float quotients flip boundary
    events). Scale shape: distinct user-days first (the only
    corpus-sized stage, partial-aggregated), then the 7-way offset
    explode + distinct count per window day — equi-shuffles only."""
    e = load_table(spark, sf_dir, "events")
    du = (
        e.select(
            utc_day().alias("day"), "user_id"
        )
        .distinct()
    )
    b = du.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    expanded = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (WAU_WINDOW_DAYS - 1))
        ).alias("wday"),
        "user_id",
    )
    return (
        expanded.crossJoin(F.broadcast(b))
        .filter(F.col("wday").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("wday").cast("bigint").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


# --------------------------------------------------------------------------
# Top behavioral 3-step paths: the most common consecutive
# event-type trigrams within a user's stream — the path-analysis
# counterpart of the Markov matrix (which only sees pairs).
PATHS_TOP_N = 20


@register(
    "events_top_paths",
    tags=("events", "paths", "sequence", "window"),
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT {PATHS_TOP_N}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(e1, e2, e3, n_paths): the {PATHS_TOP_N} most frequent
    within-user event-type trigrams. Both leads share ONE window sort
    (unique (ts, event_id) tiebreak); the LIMIT carries the full
    (count, path) composite tiebreak (oracle rule #3); top-N is
    TakeOrdered over the tiny |types|³ aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(PATHS_TOP_N)
    )


# --------------------------------------------------------------------------
# Order-part co-occurrence, shared by the basket and the association
# rules: the distinct (order, part) frame `op`, per-part order counts
# `cnt` (n_with), the order total `tot` (n_orders) and the unordered
# part pairs `pairs` (pa < pb, n_both) from the orderkey self-join.
_PART_PAIRS_SQL = """op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cnt AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_with
      FROM op GROUP BY l_partkey
    ),
    tot AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op
    ),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS n_both
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )"""


def _order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct ``(l_orderkey, l_partkey)`` frame ``op``."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def _part_pairs(op: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The Spark twin of ``_PART_PAIRS_SQL`` over ``op``: ``pairs``
    (pa, pb, n_both), the per-part counts twice as ``ca`` (ka, na)
    and ``cb`` (kb, nb) for the two pair ends, and ``tot``
    (n_orders)."""
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, (a.ok == b.ok2) & (a.pa < b.pb))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    cnt = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_with")
    )
    tot = op.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    ca = cnt.select(F.col("l_partkey").alias("ka"), F.col("n_with").alias("na"))
    cb = cnt.select(F.col("l_partkey").alias("kb"), F.col("n_with").alias("nb"))
    return pairs, ca, cb, tot


# --------------------------------------------------------------------------
# Market-basket co-occurrence: which part pairs ship together in one
# order, with lift against independence — the classic association
# mining primitive, and the repo's bounded pair-explosion exercise:
# pairs per order are C(items,2) with items ≤ 11 (verified), so the
# self-join output is O(n·items), never O(n²).
BASKET_TOP_N = 50


@register(
    "orders_market_basket_pairs",
    tags=("orders", "lineitem", "self-join", "association", "topk"),
    oracle=f"""
    WITH {_PART_PAIRS_SQL}
    SELECT pa AS part_a, pb AS part_b, n_both,
           round(CAST(n_both AS DOUBLE) * t.n_orders
                 / (ca.n_with * cb.n_with) + 1e-9, 4) AS lift
    FROM pairs
    JOIN cnt ca ON ca.l_partkey = pa
    JOIN cnt cb ON cb.l_partkey = pb
    CROSS JOIN tot t
    ORDER BY n_both DESC, part_a, part_b
    LIMIT {BASKET_TOP_N}
    """,
)
def orders_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, n_both, lift): top co-purchased part pairs.
    Scale shape: the distinct (order, part) frame self-joins on
    orderkey — identical scan-rooted subtrees, so AQE runtime-reuses
    ONE exchange for both sides (gotcha #14); per-order fan-out is
    bounded by order width, the pair agg shuffles on the pair key,
    the per-part counts join is equi (AQE broadcasts it at small sf),
    n_orders is a 1-row broadcast scalar, and the top-N rides
    TakeOrdered. Lift is a ratio of exact integers (+1e-9 bias)."""
    pairs, ca, cb, tot = _part_pairs(_order_parts(spark, sf_dir))
    return (
        pairs.join(ca, pairs.pa == ca.ka)
        .join(cb, pairs.pb == cb.kb)
        .join(F.broadcast(tot))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb"))
                + F.lit(1e-9),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("n_both").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_N)
    )


# --------------------------------------------------------------------------
# Audience overlap: pairwise Jaccard of the user sets behind each
# event type — "do purchasers also click?" — the set-similarity
# primitive expressed as a distinct-pair self-join (the same shape a
# segment-overlap matrix uses at crawl scale).
@register(
    "events_user_overlap",
    tags=("events", "self-join", "jaccard", "audience"),
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nu
      FROM du GROUP BY event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_shared,
           na.nu AS n_a, nb.nu AS n_b,
           round(CAST(count(*) AS DOUBLE)
                 / (na.nu + nb.nu - count(*)) + 1e-9, 4) AS jaccard
    FROM du a
    JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN n na ON na.event_type = a.event_type
    JOIN n nb ON nb.event_type = b.event_type
    GROUP BY a.event_type, b.event_type, na.nu, nb.nu
    """,
)
def events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(type_a, type_b, n_shared, n_a, n_b, jaccard): user-set overlap
    for every event-type pair. Scale shape: the distinct (type, user)
    frame is O(users·types) with types small; the self-join on
    user_id fans out ≤ C(types,2) rows per user and runtime-reuses
    one exchange (identical subtrees, gotcha #14); per-type sizes are
    a ≤types-row broadcast; the pair agg is partial-aggregated.
    Jaccard is a ratio of exact integers (+1e-9 bias)."""
    du = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    a = du.select(F.col("event_type").alias("type_a"), F.col("user_id").alias("ua"))
    b = du.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("ub"))
    n = du.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    na = n.select(F.col("event_type").alias("ta"), F.col("nu").alias("n_a"))
    nb = n.select(F.col("event_type").alias("tb"), F.col("nu").alias("n_b"))
    shared = (
        a.join(b, (a.ua == b.ub) & (a.type_a < b.type_b))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(na), shared.type_a == na.ta)
        .join(F.broadcast(nb), shared.type_b == nb.tb)
        .select(
            "type_a",
            "type_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
                + F.lit(1e-9),
                4,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection: per event type, the day where the
# cumulative deviation of (6dp-rounded) daily means from their
# overall mean peaks — the classic level-shift detector a metrics
# pipeline runs on every KPI. Rounding choreography: daily means are
# re-rounded on BOTH engines before any cross-day arithmetic (the
# k-means lockstep discipline), the running sum then adds IDENTICAL
# doubles in the IDENTICAL day order, so the argmax needs no
# tolerance at all.
@register(
    "events_cusum_changepoint",
    tags=("events", "changepoint", "cusum", "window"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST({DAY_SQL} AS BIGINT) AS day,
             round(avg(value) + 1e-9, 6) AS m
      FROM events GROUP BY 1, 2
    ),
    target AS (
      SELECT event_type, round(sum(m) / count(*) + 1e-9, 6) AS t,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ),
    cusum AS (
      SELECT d.event_type, d.day, g.n_days,
             sum(d.m - g.t) OVER (
               PARTITION BY d.event_type ORDER BY d.day
             ) AS c
      FROM daily d JOIN target g ON g.event_type = d.event_type
    ),
    ranked AS (
      SELECT event_type, day, n_days, c,
             row_number() OVER (
               PARTITION BY event_type ORDER BY abs(c) DESC, day
             ) AS rn
      FROM cusum
    )
    SELECT event_type, day AS change_day, n_days,
           round(abs(c) + 1e-9, 6) AS cusum_peak
    FROM ranked WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, change_day, n_days, cusum_peak): the most likely
    level-shift day per event type. Scale shape: ONE partial-
    aggregated shuffle builds the (type, day) daily means — from
    there everything runs on the ≤ types×days aggregate: the target
    join broadcasts (≤ types rows), the CUSUM is a per-type running
    window, the argmax a row_number with the day tiebreak
    (WindowGroupLimit pushes rn=1 into the sort). Integer epoch-div
    day buckets (the hourly_seasonality discipline — float day
    quotients flip boundary events)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            utc_day().alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("m"))
    )
    target = daily.groupBy("event_type").agg(
        F.round(F.sum("m") / F.count(F.lit(1)) + F.lit(1e-9), 6).alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    wc = Window.partitionBy("event_type").orderBy("day")
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), "day"
    )
    return (
        daily.join(F.broadcast(target), "event_type")
        .withColumn("c", F.sum(F.col("m") - F.col("t")).over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            "n_days",
            F.round(F.abs("c") + F.lit(1e-9), 6).alias("cusum_peak"),
        )
    )


# --------------------------------------------------------------------------
# Monthly revenue momentum: MoM growth + trailing-3-month average —
# the KPI decomposition every revenue dashboard runs. All derived
# numbers compute from the ALREADY-ROUNDED monthly revenues, so both
# engines do identical arithmetic on identical inputs.
@register(
    "orders_revenue_momentum",
    tags=("orders", "timeseries", "window", "momentum"),
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             round(sum(o_totalprice) + 1e-6, 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT strftime(m, '%Y-%m') AS month, revenue,
           round((revenue - lag(revenue) OVER (ORDER BY m))
                 / lag(revenue) OVER (ORDER BY m) + 1e-9, 4) + 0.0
             AS mom_growth,
           round(avg(revenue) OVER (
                   ORDER BY m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 ) + 1e-9, 2) AS trailing3_avg
    FROM monthly
    """,
)
def orders_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, revenue, mom_growth, trailing3_avg); first month's
    growth is NULL on both engines. Scale shape: one partial-
    aggregated shuffle to ≤ months rows; the lag/trailing windows run
    on that tiny frame (a single ordered partition of ~dozens of
    rows — the grouped-frame-global-window justification from
    corpus_composition_report). Money sums carry the magnitude-scaled
    +1e-6 bias (gotcha #3); growth can round to -0.0 → `+ 0.0`."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.round(F.sum("o_totalprice") + F.lit(1e-6), 2).alias("revenue"))
    )
    w = Window.orderBy("m")
    w3 = w.rowsBetween(-2, 0)
    return monthly.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "revenue",
        (
            F.round(
                (F.col("revenue") - F.lag("revenue").over(w))
                / F.lag("revenue").over(w)
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("mom_growth"),
        F.round(F.avg("revenue").over(w3) + F.lit(1e-9), 2).alias(
            "trailing3_avg"
        ),
    )


# --------------------------------------------------------------------------
# Gini coefficient of per-user activity: the single-number inequality
# summary behind "do 1% of users generate 90% of traffic?". Computed
# from the exact rank-weighted integer sum — ties contribute the same
# Σi·x regardless of rank order among equals, so no tiebreak ambiguity
# can reach the result.
@register(
    "events_user_gini",
    tags=("events", "gini", "inequality", "rank"),
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT n, CAST(row_number() OVER (ORDER BY n, user_id) AS BIGINT) AS i
      FROM u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(2.0 * sum(i * n) / (count(*) * sum(n))
                 - (count(*) + 1.0) / count(*) + 1e-9, 6) + 0.0 AS gini
    FROM r
    """,
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_users, n_events, gini): activity concentration in [0, 1).
    Scale shape: the corpus collapses to one row per user first
    (partial-aggregated); the global rank over THAT fact-proportional
    aggregate uses the two-pass range-partition + broadcast-offsets
    pattern (functions/scale.py::two_pass_cumsum — never a
    single-partition sort; VERDICT r9 #2). The rank-weighted sum is
    exact integer arithmetic (~1e12 ≪ 2^53); only the final ratio is
    floating (+1e-9 bias, `+ 0.0` for the perfectly-uniform gini=0
    corpus)."""
    u = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    r = two_pass_cumsum(u, ["n", "user_id"], F.lit(1), "i").select("n", "i")
    cnt = F.count(F.lit(1))
    tot = F.sum("n")
    return r.agg(
        cnt.cast("bigint").alias("n_users"),
        tot.cast("bigint").alias("n_events"),
        (
            F.round(
                F.lit(2.0) * F.sum(F.col("i") * F.col("n")) / (cnt * tot)
                - (cnt + F.lit(1.0)) / cnt
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Priority-mix drift: per-month chi-square distance of the order-
# priority composition against the all-time mix — the composition
# drift monitor a data pipeline points at any categorical column.
# Expected cells derive from EXACT INTEGER counts (n_p/N is the
# identical double on both engines), so only the 5-term chi-square
# sum is subject to summation order (+1e-9 pre-round bias).
@register(
    "orders_priority_drift",
    tags=("orders", "drift", "chi-square", "composition"),
    oracle="""
    WITH mp AS (
      SELECT date_trunc('month', o_orderdate) AS m, o_orderpriority AS p,
             CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT p, CAST(sum(obs) AS BIGINT) AS n_p FROM mp GROUP BY p
    ),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM mp),
    mm AS (
      SELECT m, CAST(sum(obs) AS BIGINT) AS m_total FROM mp GROUP BY m
    )
    SELECT strftime(mp.m, '%Y-%m') AS month,
           min(mm.m_total) AS n_orders,
           round(sum(
             (mp.obs - mm.m_total * (CAST(tot.n_p AS DOUBLE) / n.total))
             * (mp.obs - mm.m_total * (CAST(tot.n_p AS DOUBLE) / n.total))
             / (mm.m_total * (CAST(tot.n_p AS DOUBLE) / n.total))
           )
           + (min(mm.m_total)
              - sum(mm.m_total * (CAST(tot.n_p AS DOUBLE) / n.total)))
           + 1e-9, 4) AS chi2
    FROM mp
    JOIN tot ON tot.p = mp.p
    JOIN mm  ON mm.m = mp.m
    CROSS JOIN n
    GROUP BY mp.m
    """,
)
def orders_priority_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, n_orders, chi2): how far each month's priority mix
    drifts from the all-time composition. Scale shape: one partial-
    aggregated shuffle to the ≤ months×priorities contingency table;
    the three marginals are windows/aggregates OVER THAT TINY FRAME
    (per-priority and per-month sums broadcast back); the chi-square
    fold partial-aggregates per month. Missing (month, priority)
    cells (obs=0 — sparse months DO occur at small sf) contribute
    their full expected mass: for obs=0 the χ² term IS exp, and
    Σ_missing exp = m_total − Σ_observed exp, so the COMPLETE
    statistic computes from observed cells only — no zero-fill join
    (pinned by the behavior test's python replay over all cells)."""
    o = load_table(spark, sf_dir, "orders")
    mp = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    tot = mp.groupBy("p").agg(F.sum("obs").cast("bigint").alias("n_p"))
    n = mp.agg(F.sum("obs").cast("bigint").alias("total"))
    mm = mp.groupBy("m").agg(F.sum("obs").cast("bigint").alias("m_total"))
    exp = F.col("m_total") * (F.col("n_p").cast("double") / F.col("total"))
    return (
        mp.join(F.broadcast(tot), "p")
        .join(F.broadcast(mm), "m")
        .join(F.broadcast(n))
        .groupBy("m")
        .agg(
            F.min("m_total").alias("n_orders"),
            F.round(
                F.sum((F.col("obs") - exp) * (F.col("obs") - exp) / exp)
                + (F.min("m_total") - F.sum(exp))
                + F.lit(1e-9),
                4,
            ).alias("chi2"),
        )
        .select(F.date_format("m", "yyyy-MM").alias("month"), "n_orders", "chi2")
    )


# --------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue per first-order-month cohort
# by months since acquisition — THE subscription/retention economics
# table. Month offsets are exact integer (year*12 + month) diffs;
# cumulative sums add already-rounded monthly revenues in cohort-month
# order (identical doubles, identical order on both engines).
@register(
    "orders_cohort_ltv",
    tags=("orders", "cohort", "ltv", "window"),
    oracle="""
    WITH cu AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    base AS (
      SELECT o.o_custkey, cu.cohort, o.o_totalprice,
             (CAST(year(o.o_orderdate) AS BIGINT) * 12
              + month(o.o_orderdate))
             - (CAST(year(cu.cohort) AS BIGINT) * 12 + month(cu.cohort))
               AS since
      FROM orders o JOIN cu ON cu.o_custkey = o.o_custkey
    ),
    sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM cu GROUP BY cohort
    ),
    agg AS (
      SELECT cohort, CAST(since AS BIGINT) AS since,
             round(sum(o_totalprice) + 1e-6, 2) AS revenue,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS active_customers
      FROM base GROUP BY cohort, since
    )
    SELECT strftime(a.cohort, '%Y-%m') AS cohort_month, a.since,
           s.cohort_size, a.active_customers, a.revenue,
           round(sum(a.revenue) OVER (
                   PARTITION BY a.cohort ORDER BY a.since
                 ) / s.cohort_size + 1e-9, 4) AS cum_ltv_per_customer
    FROM agg a JOIN sizes s ON s.cohort = a.cohort
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_month, since, cohort_size, active_customers, revenue,
    cum_ltv_per_customer): the acquisition-cohort LTV matrix.

    Scale shape: the per-customer cohort map is ONE partial-aggregated
    shuffle, then eager-localCheckpointed (~1 row per customer — the
    funnel-stage justification; it feeds both the cohort sizes and
    the fact join, differently-pruned siblings otherwise, gotcha
    #14); the fact join is equi on custkey (AQE chooses broadcast vs
    shuffle by size); the LTV matrix is ≤ cohorts×offsets rows, the
    running sum a per-cohort window on that tiny frame, adding
    already-rounded revenues in deterministic order."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cu = (
        o.groupBy("o_custkey")
        .agg(F.date_trunc("month", F.min("o_orderdate")).alias("cohort"))
        .localCheckpoint(eager=True)
    )
    sizes = cu.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    months = lambda c: F.year(c).cast("bigint") * 12 + F.month(c)  # noqa: E731
    base = o.join(cu.withColumnRenamed("o_custkey", "ck"), o.o_custkey == F.col("ck"))
    agg = (
        base.withColumn(
            "since",
            (months(F.col("o_orderdate")) - months(F.col("cohort"))).cast(
                "bigint"
            ),
        )
        .groupBy("cohort", "since")
        .agg(
            F.round(F.sum("o_totalprice") + F.lit(1e-6), 2).alias("revenue"),
            F.countDistinct("o_custkey").cast("bigint").alias(
                "active_customers"
            ),
        )
    )
    wc = Window.partitionBy("cohort").orderBy("since")
    return (
        agg.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            "since",
            "cohort_size",
            "active_customers",
            "revenue",
            F.round(
                F.sum("revenue").over(wc) / F.col("cohort_size") + F.lit(1e-9),
                4,
            ).alias("cum_ltv_per_customer"),
        )
    )


# --------------------------------------------------------------------------
# Bot-likeness heuristic: per-user activity features + a regularity
# flag. Machine traffic is REGULAR — the coefficient of variation of
# inter-event gaps collapses toward 0 — and voluminous. Gaps are
# integer MINUTES so every moment sum stays exact (micros²·n
# overflows 2^53; minute sums don't), making the CV the identical
# double on both engines.
BOT_CV_MAX = 0.5
BOT_MIN_EVENTS = 50


@register(
    "events_bot_score",
    tags=("events", "bot", "features", "window"),
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_type,
             {DAY_SQL} AS day,
             (epoch_us(CAST(ts AS TIMESTAMP))
              - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                )) // 60000000 AS gap_min
      FROM events
    ),
    f AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT day) AS BIGINT) AS days_active,
             CAST(count(DISTINCT event_type) AS BIGINT) AS type_diversity,
             CAST(count(gap_min) AS BIGINT) AS n_gaps,
             CAST(sum(gap_min) AS BIGINT) AS s1,
             CAST(sum(gap_min * gap_min) AS BIGINT) AS s2
      FROM g GROUP BY user_id
    )
    SELECT user_id, n_events, days_active, type_diversity,
           round(CAST(n_events AS DOUBLE) / days_active + 1e-9, 4)
             AS events_per_day,
           round(sqrt(CAST(s2 AS DOUBLE) / n_gaps
                      - (CAST(s1 AS DOUBLE) / n_gaps)
                        * (CAST(s1 AS DOUBLE) / n_gaps))
                 / (CAST(s1 AS DOUBLE) / n_gaps) + 1e-9, 4) AS gap_cv,
           CAST(CASE WHEN sqrt(CAST(s2 AS DOUBLE) / n_gaps
                               - (CAST(s1 AS DOUBLE) / n_gaps)
                                 * (CAST(s1 AS DOUBLE) / n_gaps))
                          / (CAST(s1 AS DOUBLE) / n_gaps) < {BOT_CV_MAX}
                      AND n_events >= {BOT_MIN_EVENTS}
                     THEN 1 ELSE 0 END AS BIGINT) AS bot_flag
    FROM f
    """,
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, days_active, type_diversity,
    events_per_day, gap_cv, bot_flag): per-user behavioral features
    with a regularity flag (CV of inter-event gaps < 0.5 at volume).

    Scale shape: ONE user-keyed window sort computes the gaps (shared
    with every other per-user sequence op); the feature fold is a
    partial-aggregated groupBy(user_id) on the SAME partitioning —
    no second exchange; the flag compare is sqrt-irrational vs a
    rational constant (no boundary risk). Integer-minute gaps keep
    every moment sum ≪ 2^53 (micros² would overflow double
    precision — the same class of bug as the nanos float division,
    gotcha #1)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = e.withColumn("lag_us", F.lag("us").over(w)).select(
        "user_id",
        "event_type",
        F.expr("us div 86400000000").alias("day"),
        F.expr("(us - lag_us) div 60000000").alias("gap_min"),
    )
    f = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("day").cast("bigint").alias("days_active"),
        F.countDistinct("event_type").cast("bigint").alias("type_diversity"),
        F.count("gap_min").cast("bigint").alias("n_gaps"),
        F.sum("gap_min").cast("bigint").alias("s1"),
        F.sum(F.col("gap_min") * F.col("gap_min")).cast("bigint").alias("s2"),
    )
    mean_gap = F.col("s1").cast("double") / F.col("n_gaps")
    cv = (
        F.sqrt(F.col("s2").cast("double") / F.col("n_gaps") - mean_gap * mean_gap)
        / mean_gap
    )
    return f.select(
        "user_id",
        "n_events",
        "days_active",
        "type_diversity",
        F.round(
            F.col("n_events").cast("double") / F.col("days_active") + F.lit(1e-9),
            4,
        ).alias("events_per_day"),
        F.round(cv + F.lit(1e-9), 4).alias("gap_cv"),
        ((cv < BOT_CV_MAX) & (F.col("n_events") >= BOT_MIN_EVENTS))
        .cast("bigint")
        .alias("bot_flag"),
    )


# --------------------------------------------------------------------------
# Supplier reliability ranked by the WILSON LOWER BOUND of the
# on-time-ship rate — the small-sample-safe ranking statistic (a
# supplier with 2/2 on-time must NOT outrank one with 580/600; raw
# rates do exactly that). On-time = ship within 90 days of the order
# date (integer calendar datediff — the q4/q12 adaptation; the
# testdata has no commitdate). Cross-engine float discipline: k and n
# are exact integers, and the Wilson formula is written with the
# IDENTICAL operation tree on both engines — every +,*,/,sqrt is a
# single correctly-rounded IEEE op on identical operands, so the raw
# wlb double is bit-identical and the ORDER BY on it needs no
# tolerance; output rounding gets the +1e-9 bias (values ~0.03, far
# from zero, magnitude-scaled bias not needed).
WILSON_Z = 1.96
WILSON_ONTIME_DAYS = 90
WILSON_TOP_N = 25


@register(
    "supplier_reliability_wilson",
    tags=("join", "aggregate", "stats", "topk"),
    oracle=f"""
    WITH s AS (
      SELECT l.l_suppkey AS s_suppkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                                         CAST(l.l_shipdate AS DATE))
                           BETWEEN 0 AND {WILSON_ONTIME_DAYS - 1}
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_suppkey
    ),
    w AS (
      SELECT s_suppkey, n, k,
             (CAST(k AS DOUBLE) / n
               + ({WILSON_Z} * {WILSON_Z}) / (2 * n)
               - {WILSON_Z} * sqrt(
                   ((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                     + ({WILSON_Z} * {WILSON_Z}) / (4 * n) / n) / n)
             ) / (1 + ({WILSON_Z} * {WILSON_Z}) / n) AS wlb
      FROM s
    )
    SELECT CAST(w.s_suppkey AS BIGINT) AS s_suppkey, sp.s_name, n, k,
           round(CAST(k AS DOUBLE) / n + 1e-9, 6) AS ontime_rate,
           round(wlb + 1e-9, 6) AS wilson_lb
    FROM w JOIN supplier sp ON sp.s_suppkey = w.s_suppkey
    ORDER BY wlb DESC, w.s_suppkey
    LIMIT {WILSON_TOP_N}
    """,
)
def supplier_reliability_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_suppkey, s_name, n, k, ontime_rate, wilson_lb): suppliers
    ranked by the Wilson-score lower bound of their on-time rate.
    Scale shape: ONE fact-fact shuffle (lineitem joins orders on
    orderkey) feeds a suppkey agg whose partial combine reduces the
    map side to |suppliers| rows; the Wilson arithmetic runs on the
    AGGREGATED frame (bounded); supplier rejoins unhinted (AQE
    broadcasts while it fits — supplier is sf-proportional, gotcha
    from VERDICT r8); TakeOrdered caps the result. The sort key is
    the RAW wlb double (bit-identical cross-engine because both
    engines evaluate the identical IEEE op tree on exact-integer
    inputs) with the unique suppkey tiebreak (gotcha #13).
    Reference parity: reliability scoring generalizes the reference's
    per-key reduce (reference mapreduce.py:75-78) to a ranked
    statistic."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dd = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    s = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    dd.between(0, WILSON_ONTIME_DAYS - 1), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("k"),
        )
    )
    z = F.lit(WILSON_Z)
    n = F.col("n")
    p = F.col("k").cast("double") / n
    wlb = (
        p
        + (z * z) / (2 * n)
        - z * F.sqrt((p * (F.lit(1) - p) + (z * z) / (4 * n) / n) / n)
    ) / (F.lit(1) + (z * z) / n)
    sp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.withColumn("wlb", wlb)
        .join(sp, "s_suppkey")
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("k"),
            F.round(p + F.lit(1e-9), 6).alias("ontime_rate"),
            F.round(F.col("wlb") + F.lit(1e-9), 6).alias("wilson_lb"),
            F.col("wlb").alias("_wlb"),
        )
        .orderBy(F.col("_wlb").desc(), "s_suppkey")
        .limit(WILSON_TOP_N)
        .drop("_wlb")
    )


# --------------------------------------------------------------------------
# Each order's open/close interval and its +1/-1 change days. Close =
# the order's LAST lineitem shipdate (backdated ships clamp to the
# order date — the q12 delay-band finding). Orders with no lineitems
# (they exist at sf0.1 — the q13 finding) never close and are
# excluded by the inner join.
_ORDER_DELTAS_SQL = """close AS (
      SELECT l.l_orderkey,
             greatest(max(CAST(l.l_shipdate AS DATE)),
                      min(CAST(o.o_orderdate AS DATE))) AS close_d,
             min(CAST(o.o_orderdate AS DATE)) AS open_d
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey
    ),
    delta AS (
      SELECT open_d AS day, 1 AS d FROM close
      UNION ALL
      SELECT close_d + INTERVAL 1 DAY AS day, -1 AS d FROM close
    )"""


def _order_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_orderkey, close_d, open_d)``: the Spark twin of the
    ``close`` CTE of ``_ORDER_DELTAS_SQL``. One fact shuffle (the
    per-order agg; orders joins on the same key so AQE
    co-partitions)."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.greatest(
                F.max(F.col("l_shipdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("close_d"),
            F.min(F.col("o_orderdate").cast("date")).alias("open_d"),
        )
    )


def _order_deltas(close: DataFrame) -> DataFrame:
    """``(day, d)``: +1 on each order's open day and -1 the day after
    its close — the Spark twin of the ``delta`` CTE of
    ``_ORDER_DELTAS_SQL``. Doubles only the aggregated order frame."""
    return close.select(
        F.explode(
            F.array(
                F.struct(F.col("open_d").alias("day"), F.lit(1).alias("d")),
                F.struct(
                    F.date_add(F.col("close_d"), 1).alias("day"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("x")
    ).select("x.day", "x.d")


# --------------------------------------------------------------------------
# Open-order backlog over time (interval stabbing): how many orders
# were simultaneously "open" (placed but not yet fully shipped) on
# each day the count changes. The classic delta-encoding plan: +1 at
# the open date, -1 the day after the close date, then a running sum
# over the per-day deltas — counting overlapping intervals without
# ever joining intervals to a calendar spine (_ORDER_DELTAS_SQL).
@register(
    "orders_open_backlog_daily",
    tags=("orders", "lineitem", "interval", "window", "running-sum"),
    oracle=f"""
    WITH {_ORDER_DELTAS_SQL},
    daily AS (
      SELECT CAST(day AS DATE) AS day,
             CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened,
             CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
             CAST(sum(d) AS BIGINT) AS delta
      FROM delta GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_opened, n_closed,
           CAST(sum(delta) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_count
    FROM daily
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_opened, n_closed, open_count): concurrent-open-order
    count at every change day. Scale shape: ONE fact shuffle (the
    per-order close agg on orderkey; orders joins on the same key so
    AQE co-partitions); the delta explode doubles the AGGREGATED
    order frame, the per-day agg bounds the data to distinct calendar
    days, and only then does the global running-sum window run — its
    single-partition sort touches |days| rows (calendar-bounded,
    ~2400 here), never the fact. All counts are exact integers.
    Reference parity: interval counting is the canonical
    reduce-by-key + scan composition (reference mapreduce.py:75-78
    expresses only the reduce half)."""
    delta = _order_deltas(_order_spans(spark, sf_dir))
    daily = delta.groupBy("day").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("bigint").alias("n_opened"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).cast("bigint").alias("n_closed"),
        F.sum("d").cast("bigint").alias("delta"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_opened",
        "n_closed",
        F.sum("delta").over(w).cast("bigint").alias("open_count"),
    )


# --------------------------------------------------------------------------
# A/B experiment readout: deterministic 50/50 user assignment
# (Knuth-multiply hash — the sample_split_assign recipe) and a
# two-proportion z-test on purchase conversion. Float discipline as
# supplier_reliability_wilson: the counts are exact integers and the
# z formula is the IDENTICAL IEEE op tree on both engines, so z is
# bit-identical pre-round.
# "converted" = a heavy purchaser (>= this many purchase events):
# every user makes SOME purchase at this event density, so the naive
# any-purchase conversion saturates at rate 1.0 and the pooled-z
# denominator hits exactly zero — found at sf0.001 on first run.
AB_CONV_MIN_PURCHASES = 14


@register(
    "events_ab_test_zscore",
    tags=("events", "stats", "experiment", "aggregate"),
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST((user_id * {KNUTH}) % {MOD_2_32} % 2 AS BIGINT) AS variant,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       >= {AB_CONV_MIN_PURCHASES} THEN 1 ELSE 0 END
               AS converted
      FROM events
      GROUP BY user_id
    ),
    g AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS k
      FROM u GROUP BY variant
    ),
    w AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
             max(CASE WHEN variant = 0 THEN k END) AS k0,
             max(CASE WHEN variant = 1 THEN n END) AS n1,
             max(CASE WHEN variant = 1 THEN k END) AS k1
      FROM g
    )
    SELECT n0, k0, n1, k1,
           round(CAST(k0 AS DOUBLE) / n0 + 1e-9, 6) AS rate0,
           round(CAST(k1 AS DOUBLE) / n1 + 1e-9, 6) AS rate1,
           round((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0)
                 / sqrt(nullif((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1)), 0)
                        * (1.0 / n0 + 1.0 / n1)) + 1e-9, 4) + 0.0 AS z
    FROM w
    """,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n0, k0, n1, k1, rate0, rate1, z): two-proportion z-test of
    heavy-purchaser conversion between deterministically
    hash-assigned user halves. On hash-split halves of the SAME population z should sit
    within ±3 — the A/A sanity readout every experimentation pipeline
    ships. Scale shape: ONE shuffle (per-user conversion agg on
    user_id); the variant totals ride a 2-row partial-aggregated
    rollup; the z arithmetic runs on a 1-row frame. The pooled-rate
    z formula is a single identical IEEE op tree on exact integer
    inputs — bit-identical cross-engine pre-round (the Wilson
    discipline); + 0.0 clears the signed-zero trap since z is
    near-zero by design."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = (
        e.groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= AB_CONV_MIN_PURCHASES,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            knuth_bucket("user_id", 2)
            .cast("bigint")
            .alias("variant"),
            "converted",
        )
    )
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("k"))).alias("k0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("k"))).alias("k1"),
    )
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    p0 = F.col("k0").cast("double") / F.col("n0")
    p1 = F.col("k1").cast("double") / F.col("n1")
    pp = (F.col("k0") + F.col("k1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        F.nullif(pp * (F.lit(1) - pp), F.lit(0.0))
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return w.select(
        "n0",
        "k0",
        "n1",
        "k1",
        F.round(p0 + F.lit(1e-9), 6).alias("rate0"),
        F.round(p1 + F.lit(1e-9), 6).alias("rate1"),
        (F.round(z + F.lit(1e-9), 4) + F.lit(0.0)).alias("z"),
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest: predict each day's event count
# with the count 7 days earlier (the weekly-seasonality baseline any
# real forecaster must beat) and report SMAPE per event type. The
# cheapest possible drift/forecastability readout over a metrics
# stream: SMAPE near 0 = strongly weekly-periodic volume, near 2 =
# unforecastable (or regime-changed) volume.
FORECAST_LAG_DAYS = 7


@register(
    "events_seasonal_forecast_smape",
    tags=("events", "timeseries", "forecast", "aggregate"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST({DAY_SQL} AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT a.event_type, a.n AS actual, b.n AS fcst,
             CAST(round((2000000.0 * abs(a.n - b.n)) / (a.n + b.n) + 1e-3)
                  AS BIGINT) AS term_u
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day - {FORECAST_LAG_DAYS}
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(actual) AS BIGINT) / count(*) + 1e-9, 4)
             AS mean_daily,
           round(CAST(sum(term_u) AS BIGINT) / count(*) / 1e6 + 1e-9, 6)
             AS smape
    FROM j GROUP BY event_type
    """,
)
def events_seasonal_forecast_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, mean_daily, smape): backtest of the
    lag-7 seasonal-naive forecaster over observed epoch-days (a day
    scores only when day-7 was also observed — zero-count days are
    absent rows, not zeros, so the join is the backtest mask on both
    engines). Determinism: day buckets are INTEGER epoch divisions
    (gotcha: float quotients flip boundary events); each day's SMAPE
    term 2|a-f|/(a+f) is one division of exact integers locked to
    1e-6 units BEFORE the mean (+1e-3 micro-unit bias kills rational
    half-boundaries), so the cross-day sum is order-free. Scale
    shape: ONE corpus-sized stage (partial-aggregated daily counts on
    (type, day)); lag alignment is a role-explode + groupBy on the
    tiny daily frame (see inline comment — a self-join's shifted key
    would defeat exchange reuse and re-run the counts lineage). At
    crawl scale daily counts come straight off a date-partitioned
    table's metadata-sized rollup."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            utc_day().alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # Single-lineage lag alignment: a daily⋈daily self-join would hash
    # side a on (type, day-7) and side b on (type, day) — DIFFERENT
    # projected keys, so the exchanges never canonicalize equal and
    # the counts lineage executes twice (gotcha #14). Instead each
    # daily row plays two roles — actual at `day`, forecast at
    # `day+7` — and one groupBy aligns them: one scan, one extra
    # tiny shuffle, no join.
    r = daily.select(
        "event_type",
        "n",
        F.explode(
            F.array(
                F.struct(F.col("day").alias("d"), F.lit(0).alias("role")),
                F.struct(
                    (F.col("day") + FORECAST_LAG_DAYS).alias("d"),
                    F.lit(1).alias("role"),
                ),
            )
        ).alias("x"),
    ).select("event_type", F.col("x.d").alias("day"), F.col("x.role").alias("role"), "n")
    g = r.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("role") == 0, F.col("n"))).alias("actual"),
        F.max(F.when(F.col("role") == 1, F.col("n"))).alias("fcst"),
    )
    j = g.filter(
        F.col("actual").isNotNull() & F.col("fcst").isNotNull()
    ).select(
        "event_type",
        "actual",
        F.round(
            (F.lit(2000000.0) * F.abs(F.col("actual") - F.col("fcst")))
            / (F.col("actual") + F.col("fcst"))
            + F.lit(1e-3)
        )
        .cast("bigint")
        .alias("term_u"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.sum("actual").cast("bigint") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("mean_daily"),
        F.round(
            F.sum("term_u").cast("bigint") / F.count(F.lit(1)) / F.lit(1e6)
            + F.lit(1e-9),
            6,
        ).alias("smape"),
    )


# --------------------------------------------------------------------------
# The touch groups of the attribution queries: view/click/purchase
# events with purchase value in integer MICRO-units (cents * 10000),
# and grp = the reverse running purchase count over the unique
# (us DESC, event_id DESC) order, so a touch belongs to the NEXT
# purchase after it. Trailing touches with no later purchase
# (grp = 0) are dropped by the Spark form; the SQL twin keeps them
# for the consumer's `grp >= 1` filter.
_TOUCH_GROUPS_SQL = f"""e AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             {CENTS_SQL} * 10000 AS vu_u
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    g AS (
      SELECT *, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
      FROM e
    )"""


def _touch_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(user_id, event_type, event_id, us, vu_u, grp)`` for grp >= 1:
    the Spark twin of ``_TOUCH_GROUPS_SQL``."""
    e = load_table(spark, sf_dir, "events")
    e2 = e.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
        (cents() * 10000).alias("vu_u"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e2.withColumn(
        "grp",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w)
        .cast("bigint"),
    ).filter(F.col("grp") >= 1)


# --------------------------------------------------------------------------
# Linear multi-touch attribution: each purchase's value is split
# equally across the view/click touches since the user's previous
# purchase — the classic marketing-credit model, and the inverse of
# last-click (asof_join_last_click gives 100% to the final touch;
# this spreads it). Touches are grouped by _touch_groups.
@register(
    "events_attribution_linear",
    tags=("events", "attribution", "window", "aggregate"),
    oracle=f"""
    WITH {_TOUCH_GROUPS_SQL},
    ga AS (
      SELECT user_id, grp,
             max(CASE WHEN event_type = 'purchase' THEN vu_u END) AS vu,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_view,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_click
      FROM g WHERE grp >= 1 GROUP BY 1, 2
    ),
    cr AS (
      SELECT n_view, n_click, vu // (n_view + n_click) AS credit
      FROM ga WHERE n_view + n_click > 0
    )
    SELECT 'view' AS event_type, CAST(sum(n_view) AS BIGINT) AS n_touches,
           round(CAST(sum(n_view * credit) AS BIGINT) / 1e6 + 1e-9, 6)
             AS attributed_value
    FROM cr
    UNION ALL
    SELECT 'click', CAST(sum(n_click) AS BIGINT),
           round(CAST(sum(n_click * credit) AS BIGINT) / 1e6 + 1e-9, 6)
    FROM cr
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_touches, attributed_value): purchase value
    credited equally to the view/click touches since the previous
    purchase. Determinism: value is exact 2-decimal, so purchase
    value lives in integer MICRO-units (cents * 10000); per-touch
    credit is an integer floor-divide (Spark `div` == DuckDB `//` on
    positives) and every aggregate is an order-free integer sum —
    the one float division happens at output (+1e-9, positive).
    Group id = reverse running purchase count over the unique
    (us DESC, event_id DESC) order (_touch_groups). Scale shape: one
    user-keyed window sort, one (user, grp) partial agg on the SAME
    partitioning (no second exchange), then a 2-row unpivot of one
    global agg — per-type sums come off the grouped frame, so touch
    rows are never joined back. Trailing touches with no subsequent
    purchase (grp = 0) and touchless purchases earn/get nothing, on
    both engines by the same predicates."""
    g = _touch_groups(spark, sf_dir)
    ga = g.groupBy("user_id", "grp").agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("vu_u"))).alias("vu"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("n_view"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n_click"),
    )
    cr = ga.filter(F.col("n_view") + F.col("n_click") > 0).select(
        "n_view",
        "n_click",
        F.expr("vu div (n_view + n_click)").alias("credit"),
    )
    a = cr.agg(
        F.sum("n_view").cast("bigint").alias("tv"),
        F.sum(F.col("n_view") * F.col("credit")).cast("bigint").alias("uv"),
        F.sum("n_click").cast("bigint").alias("tc"),
        F.sum(F.col("n_click") * F.col("credit")).cast("bigint").alias("uc"),
    )
    return a.selectExpr(
        "stack(2, 'view', tv, uv, 'click', tc, uc)"
        " AS (event_type, n_touches, u)"
    ).select(
        "event_type",
        "n_touches",
        F.round(F.col("u") / F.lit(1e6) + F.lit(1e-9), 6).alias(
            "attributed_value"
        ),
    )


# --------------------------------------------------------------------------
# EWMA level + volatility band over daily mean purchase-stream value:
# the monitoring smoother (alerting compares today's level to
# ewma +/- z * ewm_std). Weighted moments are computed over the
# trailing EWMA_WINDOW_DAYS observed days with integer weights
# round(1e6 * EWMA_ALPHA^k) PRECOMPUTED IN PYTHON and embedded as
# identical literals in both engines — so every weighted sum is an
# exact integer sum and the whole statistic is order-free.
EWMA_ALPHA = 0.8
EWMA_WINDOW_DAYS = 14
_EWMA_W = tuple(round(1e6 * EWMA_ALPHA**k) for k in range(EWMA_WINDOW_DAYS))


def _ewma_oracle() -> str:
    vals = ", ".join(f"({k}, {w})" for k, w in enumerate(_EWMA_W))
    return f"""
    WITH daily AS (
      SELECT event_type,
             CAST({DAY_SQL} AS BIGINT)
               AS day,
             CAST(round((1000.0 * sum({CENTS_SQL}))
                        / (100 * count(*)) + 1e-3) AS BIGINT) AS mu_m
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT d.event_type, d.day + w.k AS day,
             CASE WHEN w.k = 0 THEN d.mu_m END AS self_mu,
             d.mu_m * w.wu AS s1,
             d.mu_m * d.mu_m * w.wu AS s2,
             w.wu AS wu
      FROM daily d, (VALUES {vals}) AS w(k, wu)
    ),
    g AS (
      SELECT event_type, day,
             max(self_mu) AS mu_m,
             CAST(sum(s1) AS BIGINT) AS s1,
             CAST(sum(s2) AS BIGINT) AS s2,
             CAST(sum(wu) AS BIGINT) AS sw
      FROM c GROUP BY 1, 2
    )
    SELECT event_type, day,
           round(mu_m / 1e3, 3) AS mean_daily,
           round(s1 / sw / 1e3 + 1e-9, 4) AS ewma,
           round(sqrt(greatest(s2 / sw - (s1 / sw) * (s1 / sw), 0.0)) / 1e3
                 + 1e-9, 4) AS ewm_std
    FROM g WHERE mu_m IS NOT NULL
    """


@register(
    "events_ewma_volatility",
    tags=("events", "timeseries", "ewma", "monitoring"),
    oracle=_ewma_oracle(),
)
def events_ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, mean_daily, ewma, ewm_std): exponentially
    weighted level and standard deviation of the daily mean event
    value over the trailing {14} observed days. Determinism: daily
    means live on a 1e-3 integer grid (value is exact 2-decimal so
    the day sum is exact cents; one division + 1e-3-unit bias);
    weights are Python-precomputed INTEGERS, so s1/s2/sw are exact
    integer sums — order-free — and the output divisions, the
    guarded variance (greatest 0 — weighted variance is >= 0 in
    exact arithmetic but the two divisions can undershoot by an ulp
    when every day is equal), and IEEE-exact sqrt are identical
    cross-engine. Overflow bound: mu_m^2*wu <= (5e5)^2*1e6 ~ 2.5e17
    per term, *14 < 2^63 — ANSI raises loudly if value scale ever
    grows past ~$20k daily means. Scale shape: ONE corpus-sized
    partial agg to daily cents; the 14-way offset explode runs on
    the tiny types x days frame (same shape as events_wau_rolling's
    sliding rewrite — an equi-shuffle, never a range self-join); the
    k=0 role doubles as the observed-day marker so no rejoin to the
    daily frame is needed (single lineage, gotcha #14)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            utc_day().alias("day"),
            cents().alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.round(
                (F.lit(1000.0) * F.sum("cents"))
                / (F.lit(100) * F.count(F.lit(1)))
                + F.lit(1e-3)
            )
            .cast("bigint")
            .alias("mu_m")
        )
    )
    offs = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.lit(w).alias("wu"))
            for k, w in enumerate(_EWMA_W)
        ]
    )
    c = daily.select(
        "event_type",
        "day",
        "mu_m",
        F.explode(offs).alias("o"),
    ).select(
        "event_type",
        (F.col("day") + F.col("o.k")).alias("tday"),
        F.when(F.col("o.k") == 0, F.col("mu_m")).alias("self_mu"),
        (F.col("mu_m") * F.col("o.wu")).alias("s1"),
        (F.col("mu_m") * F.col("mu_m") * F.col("o.wu")).alias("s2"),
        F.col("o.wu").alias("wu"),
    )
    g = (
        c.groupBy("event_type", F.col("tday").alias("day"))
        .agg(
            F.max("self_mu").alias("mu_m"),
            F.sum("s1").cast("bigint").alias("s1"),
            F.sum("s2").cast("bigint").alias("s2"),
            F.sum("wu").cast("bigint").alias("sw"),
        )
        .filter(F.col("mu_m").isNotNull())
    )
    m1 = F.col("s1") / F.col("sw")
    return g.select(
        "event_type",
        "day",
        F.round(F.col("mu_m") / F.lit(1e3), 3).alias("mean_daily"),
        F.round(m1 / F.lit(1e3) + F.lit(1e-9), 4).alias("ewma"),
        F.round(
            F.sqrt(F.greatest(F.col("s2") / F.col("sw") - m1 * m1, F.lit(0.0)))
            / F.lit(1e3)
            + F.lit(1e-9),
            4,
        ).alias("ewm_std"),
    )


# --------------------------------------------------------------------------
# K-anonymity risk profile — the re-identification governance readout
# a training-data pipeline runs before releasing/ingesting tabular
# records (Sweeney's k-anonymity): how many quasi-identifier (QI)
# groups are unique or small, and how fast the risk decays as the QI
# is generalized. Levels: 0 = (nation, segment, $500-acctbal
# bucket), 1 = drop the balance bucket, 2 = nation only. A single
# ROLLUP computes all three levels in ONE shuffle; group sizes are
# then bucketed into k-risk classes. All integer — bucket is exact
# cents floor-div (the q22 cents discipline), sizes/counts are
# bigints; no float anywhere.
KANON_BUCKET_CENTS = 50_000  # $500 acctbal buckets
# The QI balance bucket of the three privacy queries, in Spark SQL
# (``div``) and in DuckDB (``//``).
_QI_BUCKET = f"CAST(round(c_acctbal * 100) AS BIGINT) div {KANON_BUCKET_CENTS}"
_QI_BUCKET_SQL = f"CAST(round(c_acctbal * 100) AS BIGINT) // {KANON_BUCKET_CENTS}"


@register(
    "privacy_k_anonymity",
    tags=("privacy", "governance", "rollup", "aggregate"),
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey AS nation,
             c_mktsegment AS segment,
             {_QI_BUCKET_SQL} AS bal_bucket
      FROM customer
    ),
    grp AS (
      SELECT CAST(GROUPING(segment) + GROUPING(bal_bucket) AS BIGINT) AS level,
             count(*) AS sz
      FROM qi
      GROUP BY ROLLUP (nation, segment, bal_bucket)
      HAVING GROUPING(nation) = 0
    )
    SELECT level,
           CASE WHEN sz = 1 THEN '1'
                WHEN sz < 5 THEN '2-4'
                WHEN sz < 10 THEN '5-9'
                ELSE '10+' END AS k_class,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(sz) AS BIGINT) AS n_rows
    FROM grp GROUP BY 1, 2
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(level, k_class, n_groups, n_rows): count of QI groups and of
    covered customers per k-anonymity risk class ('1' unique, '2-4',
    '5-9', '10+') at three generalization levels (0 = full QI, each
    +1 drops the finest column). Determinism: bucket = exact integer
    cents floor-div, every output an integer count — the gotcha #13
    class is absent by construction. Scale shape: ONE rollup shuffle
    on the QI key computes all levels (partial-aggregated map-side;
    level-1/2 rows are re-aggregations of the level-0 partials, not
    rescans); the class aggregation runs on the bounded group frame.
    At crawl scale the QI cardinality — not the fact — bounds
    everything past the first exchange."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(_QI_BUCKET).alias("bal_bucket"),
    )
    grp = (
        qi.rollup("nation", "segment", "bal_bucket")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            # grouping() is only resolvable inside the rollup's own
            # aggregate list, not a downstream select.
            (F.grouping("segment") + F.grouping("bal_bucket"))
            .cast("bigint")
            .alias("level"),
            F.grouping("nation").alias("g_nation"),
        )
        .filter(F.col("g_nation") == 0)
        .select("level", "sz")
    )
    k_class = (
        F.when(F.col("sz") == 1, "1")
        .when(F.col("sz") < 5, "2-4")
        .when(F.col("sz") < 10, "5-9")
        .otherwise("10+")
        .alias("k_class")
    )
    return (
        grp.select("level", k_class, "sz")
        .groupBy("level", "k_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("sz").cast("bigint").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit conformance — the classic financial-anomaly /
# data-fabrication screen: leading digits of genuine multiplicative
# amounts follow P(d) = log10(1 + 1/d); synthetic or truncated data
# deviates. Run over order totals as a data-validation signal next
# to lineitem_consistency_rules. The expected shares are PYTHON
# literals embedded in BOTH engines (log10 is transcendental — not
# guaranteed identically rounded across engines; the literal removes
# the risk entirely), so obs counts are integers, expected = n *
# literal and the chi-square term are identical double products
# cross-engine.
@register(
    "orders_benford_digits",
    tags=("validation", "benford", "aggregate"),
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    obs AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*) AS n_obs
      FROM cents GROUP BY 1
    ),
    n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
    digits AS (SELECT unnest(range(1, 10)) AS digit),
    exp AS (
      SELECT digit,
             CAST(CASE digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129 WHEN 9 THEN 0.04575749056067514 END AS DOUBLE) AS share
      FROM digits
    )
    SELECT e.digit,
           CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
           round(n.n * e.share, 4) AS exp_count,
           round(
             (coalesce(o.n_obs, 0) - n.n * e.share)
             * (coalesce(o.n_obs, 0) - n.n * e.share)
             / (n.n * e.share) + 1e-9, 6
           ) AS chi_term
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN n
    """,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(digit, n_obs, exp_count, chi_term): observed vs Benford-
    expected leading-digit counts of o_totalprice with per-digit
    chi-square contributions. Determinism: leading digit extracted
    from the EXACT integer-cents string (cents >= 100 so the first
    cent digit IS the first significant digit of the price — no
    float log10 bucketing); expected shares are shared Python
    literals; chi terms are identical double products rounded at 6dp
    with the small-value bias (gotcha #3). All 9 digit rows always
    present via a literal digit spine (outer join), so a digit with
    zero observations shows its full chi contribution instead of
    vanishing. Scale shape: one map-side-combined 9-group aggregate
    over the fact; everything after runs on 9 rows (scalar total
    broadcast)."""
    o = load_table(spark, sf_dir, "orders")
    obs = (
        o.select(
            F.expr(
                "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
                " AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    n = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    digits = spark.range(1, 10).select(F.col("id").cast("bigint").alias("digit"))
    share = (
        F.when(F.col("digit") == 0, F.lit(0.0)).when(F.col('digit') == 1, F.lit(0.3010299956639812)).when(F.col('digit') == 2, F.lit(0.17609125905568124)).when(F.col('digit') == 3, F.lit(0.12493873660829992)).when(F.col('digit') == 4, F.lit(0.09691001300805642)).when(F.col('digit') == 5, F.lit(0.07918124604762482)).when(F.col('digit') == 6, F.lit(0.06694678963061322)).when(F.col('digit') == 7, F.lit(0.05799194697768673)).when(F.col('digit') == 8, F.lit(0.05115252244738129)).when(F.col('digit') == 9, F.lit(0.04575749056067514))
    ).alias("share")
    exp_counts = (
        digits.join(obs, "digit", "left_outer")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            (F.col("n") * share).alias("exp"),
        )
    )
    return exp_counts.select(
        "digit",
        "n_obs",
        F.round(F.col("exp"), 4).alias("exp_count"),
        F.round(
            (F.col("n_obs") - F.col("exp"))
            * (F.col("n_obs") - F.col("exp"))
            / F.col("exp")
            + F.lit(1e-9),
            6,
        ).alias("chi_term"),
    )


# --------------------------------------------------------------------------
# PSI distribution drift — the standard ML-monitoring metric
# (Population Stability Index) between the first and second half of
# the event stream, per event type: psi = sum_buckets
# (p_a - p_b) * ln(p_a / p_b) over fixed-width value buckets with
# add-one smoothing (so empty-side buckets contribute finitely
# instead of exploding). PSI > 0.2 is the conventional "investigate"
# threshold for a serving feature. Determinism: the split day and
# every bucket/count is integer; shares are single integer-ratio
# divisions, so the ln args are identical doubles cross-engine (the
# corpus_source_kl discipline: libm divergence lives under the +1e-9
# pre-round bias).
PSI_BUCKET_CENTS = 1_000  # value buckets 10.00 wide, in exact cents

# The split day of the events two-period queries: the midpoint of the
# UTC day range, rounded up, over a frame with a ``day`` column.
_MID_DAY_SQL = "(min(day) + max(day) + 1) // 2 AS mid"


def _mid_day(e: DataFrame) -> DataFrame:
    """The one-row ``mid`` frame of ``e``: the Spark twin of
    ``_MID_DAY_SQL``."""
    return e.agg(F.expr("(min(day) + max(day) + 1) div 2").alias("mid"))


@register(
    "events_psi_drift",
    tags=("events", "drift", "psi", "monitoring"),
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             {DAY_SQL} AS day,
             {CENTS_SQL} // {PSI_BUCKET_CENTS} AS bucket
      FROM events
    ),
    mid AS (SELECT {_MID_DAY_SQL} FROM e),
    g AS (
      SELECT event_type, bucket,
             sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS nb
      FROM e CROSS JOIN mid
      GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, na, nb,
             count(*) OVER (PARTITION BY event_type) AS n_buckets,
             sum(na) OVER (PARTITION BY event_type) AS tot_a,
             sum(nb) OVER (PARTITION BY event_type) AS tot_b
      FROM g
    )
    SELECT event_type,
           CAST(min(tot_a) AS BIGINT) AS n_a,
           CAST(min(tot_b) AS BIGINT) AS n_b,
           round(sum(
             (CAST(na + 1 AS DOUBLE) / (tot_a + n_buckets)
              - CAST(nb + 1 AS DOUBLE) / (tot_b + n_buckets))
             * ln((CAST(na + 1 AS DOUBLE) / (tot_a + n_buckets))
                  / (CAST(nb + 1 AS DOUBLE) / (tot_b + n_buckets)))
           ) + 1e-9, 6) AS psi
    FROM w GROUP BY event_type
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_a, n_b, psi): Population Stability Index of the
    per-type value distribution between the first and second half of
    the stream's day span, over exact-cents fixed-width buckets with
    add-one smoothing. Determinism: split day = integer midpoint of
    the observed day range (broadcast scalar); buckets and counts are
    integers; each share is ONE integer-ratio division and the ln
    runs on identical doubles (the corpus_source_kl log discipline,
    +1e-9 bias before the 6dp round). Scale shape: one narrow
    projection feeds a (type, bucket)-keyed partial-aggregated count;
    per-type totals/bucket counts are WINDOWS over that grouped frame
    (no agg-then-rejoin); the final fold partial-aggregates to
    |types| rows. The raw stream is touched exactly twice (min/max
    day scalar + the grouped count) — at crawl scale both are
    scan-speed with map-side combine."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        utc_day().alias("day"),
        F.expr(
            f"{CENTS_SQL} div {PSI_BUCKET_CENTS}"
        ).alias("bucket"),
    )
    mid = _mid_day(e)
    g = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), 1).otherwise(0)).alias(
                "na"
            ),
            F.sum(F.when(F.col("day") >= F.col("mid"), 1).otherwise(0)).alias(
                "nb"
            ),
        )
    )
    w = Window.partitionBy("event_type")
    g = (
        g.withColumn("n_buckets", F.count(F.lit(1)).over(w))
        .withColumn("tot_a", F.sum("na").over(w))
        .withColumn("tot_b", F.sum("nb").over(w))
    )
    pa = (F.col("na") + 1).cast("double") / (F.col("tot_a") + F.col("n_buckets"))
    pb = (F.col("nb") + 1).cast("double") / (F.col("tot_b") + F.col("n_buckets"))
    return g.groupBy("event_type").agg(
        F.min("tot_a").cast("bigint").alias("n_a"),
        F.min("tot_b").cast("bigint").alias("n_b"),
        F.round(F.sum((pa - pb) * F.log(pa / pb)) + F.lit(1e-9), 6).alias(
            "psi"
        ),
    )


# --------------------------------------------------------------------------
# Seasonal index via ratio-to-centered-moving-average — the classical
# decomposition step (X-11 ancestor) a demand-forecasting pipeline
# runs before de-seasonalizing: monthly revenue / 2x12 centered MA,
# averaged per calendar month. Months without the full +-6 window are
# excluded (no partial-window bias at the series edges).
# Determinism: month revenues are exact integer cents; the 2x12 CMA
# denominator is an INTEGER (sum of two 12-month integer window sums
# — endpoint months weigh 1, middle months 2, total weight 24); each
# ratio is one integer-ratio double division; the per-calendar-month
# mean of those ratios gets the +1e-9 bias before the 4dp round
# (cross-engine summation order, gotcha #3).
@register(
    "orders_seasonal_index",
    tags=("orders", "timeseries", "seasonality", "window"),
    oracle="""
    WITH m AS (
      SELECT (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) * 12
              + CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) - 1) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT mo, cents,
             sum(cents) OVER (ORDER BY mo ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS s_a,
             sum(cents) OVER (ORDER BY mo ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS s_b,
             count(*) OVER (ORDER BY mo ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS n_win,
             max(mo) OVER (ORDER BY mo ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS mo_hi,
             min(mo) OVER (ORDER BY mo ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS mo_lo
      FROM m
    ),
    r AS (
      SELECT mo % 12 AS month_of_year,
             CAST(cents AS DOUBLE) * 24 / (s_a + s_b) AS ratio
      FROM w
      WHERE n_win = 13 AND mo_hi - mo_lo = 12
    )
    SELECT month_of_year,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(avg(ratio) + 1e-9, 4) AS seasonal_index
    FROM r GROUP BY 1
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month_of_year, n_obs, seasonal_index): mean
    ratio-to-2x12-centered-moving-average of monthly order revenue
    per calendar month (0 = January). Guard WHERE n_win = 13 AND the
    window SPANS exactly 12 month-indexes: both edge truncation AND
    any gap month inside the window disqualify a ratio (a gap would
    silently shift the weighting). Scale shape: ONE partial-aggregated
    month rollup is the only fact-sized stage; every window runs on
    the ~|months| aggregated frame (single-partition by design — a
    calendar axis never outgrows a partition); the final fold is 12
    rows. The same plan at crawl scale just has a bigger first
    exchange."""
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.select(
            (
                F.year("o_orderdate").cast("bigint") * 12
                + F.month("o_orderdate").cast("bigint")
                - 1
            ).alias("mo"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("mo")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w_a = Window.orderBy("mo").rowsBetween(-6, 5)
    w_b = Window.orderBy("mo").rowsBetween(-5, 6)
    w_n = Window.orderBy("mo").rowsBetween(-6, 6)
    w = (
        m.withColumn("s_a", F.sum("cents").over(w_a))
        .withColumn("s_b", F.sum("cents").over(w_b))
        .withColumn("n_win", F.count(F.lit(1)).over(w_n))
        .withColumn("mo_hi", F.max("mo").over(w_n))
        .withColumn("mo_lo", F.min("mo").over(w_n))
        .filter((F.col("n_win") == 13) & (F.col("mo_hi") - F.col("mo_lo") == 12))
    )
    r = w.select(
        (F.col("mo") % 12).alias("month_of_year"),
        (F.col("cents").cast("double") * 24 / (F.col("s_a") + F.col("s_b"))).alias(
            "ratio"
        ),
    )
    return r.groupBy("month_of_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.round(F.avg("ratio") + F.lit(1e-9), 4).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# Next-event prediction backtest — the eval loop behind
# events_markov_transitions: train the argmax next-event table on the
# FIRST half of the day span, score it on transitions in the second
# half (the temporal train/serve split every sequence model gets
# judged by; the marginal-argmax baseline this beats or matches is
# what tells you whether sequence signal exists at all).
# Determinism: the split day is the integer midpoint (events_psi_drift
# discipline); transitions come off ONE user-keyed window sort with
# the (ts, event_id) composite order (duplicate timestamps exist);
# the train argmax tiebreaks (count DESC, to_type); accuracy is one
# integer-ratio division.
@register(
    "events_next_event_accuracy",
    tags=("events", "markov", "eval", "backtest"),
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ),
    mid AS (
      SELECT (min(us // 86400000000) + max(us // 86400000000) + 1) // 2 AS mid
      FROM e
    ),
    tr AS (
      SELECT user_id,
             lag(event_type) OVER w AS prev_type,
             event_type AS cur_type,
             (us // 86400000000) AS day
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    t AS (SELECT * FROM tr WHERE prev_type IS NOT NULL),
    train AS (
      SELECT prev_type, cur_type, count(*) AS c
      FROM t CROSS JOIN mid WHERE day < mid GROUP BY 1, 2
    ),
    pred AS (
      SELECT prev_type, cur_type AS predicted FROM (
        SELECT prev_type, cur_type,
               row_number() OVER (
                 PARTITION BY prev_type ORDER BY c DESC, cur_type
               ) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    ev AS (
      SELECT t.prev_type, t.cur_type, p.predicted
      FROM t CROSS JOIN mid
      LEFT JOIN pred p ON p.prev_type = t.prev_type
      WHERE t.day >= mid
    )
    SELECT prev_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN cur_type = predicted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN cur_type = predicted THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS accuracy
    FROM ev GROUP BY 1
    """,
)
def events_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev_type, n_eval, n_correct, accuracy): accuracy of the
    train-half argmax next-event table on second-half transitions,
    per conditioning type. Scale shape: ONE user-keyed window sort
    produces every transition (the sessionize/markov shared-sort
    rule); the train table partial-aggregates to types² rows and its
    argmax + the eval join both run on broadcast-sized frames; the
    final fold is |types| rows. Unseen prev types predict NULL and
    score 0 — visible in the output, not silently dropped."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    mid = e.agg(
        F.expr(
            "(min(us div 86400000000) + max(us div 86400000000) + 1) div 2"
        ).alias("mid")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("day", F.expr("us div 86400000000"))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("cur_type"), "day")
        .crossJoin(F.broadcast(mid))
    )
    train = (
        t.filter(F.col("day") < F.col("mid"))
        .groupBy("prev_type", "cur_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_p = Window.partitionBy("prev_type").orderBy(
        F.col("c").desc(), "cur_type"
    )
    pred = (
        train.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("cur_type").alias("predicted"))
    )
    ev = (
        t.filter(F.col("day") >= F.col("mid"))
        .join(F.broadcast(pred), "prev_type", "left")
    )
    correct = F.when(F.col("cur_type") == F.col("predicted"), 1).otherwise(0)
    return ev.groupBy("prev_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(correct).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(correct).cast("double") / F.count(F.lit(1)), 4
        ).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# Supply-concentration HHI — the Herfindahl-Hirschman index of
# supplier revenue share within each part brand: the
# procurement-risk readout next to supplier_reliability_wilson
# (a brand with HHI near 10000 is single-sourced; near 10000/n is
# evenly spread). HHI = sum over suppliers of (share*100)^2 with
# shares in percent — computed as EXACT integer cents:
# HHI = 10000 * sum(s_i^2) / S^2 where s_i, S are integer cent
# sums, so both engines divide identical integer-derived doubles.
@register(
    "supplier_brand_hhi",
    tags=("supplier", "concentration", "aggregate"),
    oracle="""
    WITH s AS (
      SELECT p.p_brand AS brand, l.l_suppkey AS supp,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(10000.0 * sum(CAST(cents AS DOUBLE) * cents)
                 / (CAST(sum(cents) AS DOUBLE) * sum(cents)) + 1e-9, 4) AS hhi
    FROM s GROUP BY 1
    """,
)
def supplier_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, n_suppliers, revenue_cents, hhi): supplier revenue
    concentration per part brand on the 0-10000 HHI scale.
    Determinism: revenue in exact integer cents; sum(c_i^2) and S^2
    are sums/products of integer-derived doubles folded per group
    with the +1e-9 bias before the 4dp round (gotcha #3 — the
    squared-cents terms are large, but the final ratio is O(10^4) so
    the relative fold divergence lands far below the bias). Scale
    shape: part joins as a BROADCAST-able pruned dim at bench sf and
    degrades to SMJ unhinted (no explicit hint — part is
    sf-proportional, the SCALING.md:33 rule); ONE fact shuffle on
    (brand, supp) with map-side partial agg; the HHI fold runs on
    the brands x suppliers aggregated frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("supp"))
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    return s.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.round(
            F.lit(10000.0)
            * F.sum(F.col("cents").cast("double") * F.col("cents"))
            / (F.sum("cents").cast("double") * F.sum("cents"))
            + F.lit(1e-9),
            4,
        ).alias("hhi"),
    )


# --------------------------------------------------------------------------
# DAU/WAU stickiness — the engagement-intensity ratio product teams
# track: average daily active users divided by weekly active users,
# per ISO-ish epoch week (the events table spans ~one month, so
# weeks — not months — give a real time axis; at calendar scale the
# same shape runs monthly). Integer day/week buckets; the only float
# ops are two divisions of integer-derived doubles.
@register(
    "events_dau_wau_stickiness",
    tags=("events", "engagement", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             {DAY_SQL} AS day
      FROM events
    ),
    dau AS (
      SELECT day // 7 AS wk, day, count(DISTINCT user_id) AS dau
      FROM e GROUP BY 1, 2
    ),
    wau AS (
      SELECT day // 7 AS wk, count(DISTINCT user_id) AS wau FROM e GROUP BY 1
    )
    SELECT d.wk AS week_index,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(d.dau) AS BIGINT) AS dau_sum,
           CAST(min(w.wau) AS BIGINT) AS wau,
           round(CAST(sum(d.dau) AS DOUBLE) / count(*) / min(w.wau), 4)
             AS stickiness
    FROM dau d JOIN wau w ON w.wk = d.wk
    GROUP BY 1
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(week_index, n_days, dau_sum, wau, stickiness): mean-DAU / WAU
    per epoch week. Determinism: integer day/week buckets (epoch
    div), distinct counts are integers, and stickiness is two
    successive divisions of integer-derived doubles — no fold-order
    float anywhere. Scale shape: both distinct aggregates are
    two-phase (partial distinct map-side); the DAU frame is
    days-sized, the week join broadcast-sized, output |weeks| rows.
    At crawl scale swap exact distinct for approx_count_distinct
    (the sketches row) without changing the shape."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        utc_day().alias("day"),
    ).withColumn("wk", F.expr("day div 7"))
    dau = e.groupBy("wk", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = e.groupBy("wk").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "wk")
        .groupBy(F.col("wk").alias("week_index"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("dau").cast("bigint").alias("dau_sum"),
            F.min("wau").cast("bigint").alias("wau"),
            F.round(
                F.sum("dau").cast("double") / F.count(F.lit(1)) / F.min("wau"),
                4,
            ).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# l-diversity — the follow-on to privacy_k_anonymity: a QI group can
# be large (k-safe) yet reveal everyone's sensitive attribute if all
# members share one value. Per NATION (so the report keeps a real
# axis at every sf — a global 3-class rollup collapses to one row
# once every group clears l>=3), count QI groups below the l>=3
# disclosure bar and the rows they expose.
@register(
    "privacy_l_diversity",
    tags=("privacy", "governance", "aggregate"),
    oracle=f"""
    WITH grp AS (
      SELECT c_nationkey AS nation,
             {_QI_BUCKET_SQL}
               AS bal_bucket,
             count(*) AS sz,
             count(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_l_groups,
           CAST(sum(CASE WHEN l < 3 THEN sz ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM grp GROUP BY 1
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, n_groups, n_rows, min_l, n_low_l_groups,
    n_rows_at_risk): per-nation l-diversity audit over (nation,
    balance-bucket) QI groups with market segment as the sensitive
    attribute. Determinism: every output is an integer count over
    integer-cent buckets. Scale shape: ONE shuffle on the QI key
    with a two-phase distinct on (QI, segment) — the sensitive
    cardinality is tiny so the partial distinct collapses map-side;
    the nation report re-aggregates the bounded group frame."""
    c = load_table(spark, sf_dir, "customer")
    grp = c.select(
        F.col("c_nationkey").alias("nation"),
        F.expr(_QI_BUCKET).alias("bal_bucket"),
        "c_mktsegment",
    ).groupBy("nation", "bal_bucket").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    low = F.when(F.col("l") < 3, 1).otherwise(0)
    return grp.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(low).cast("bigint").alias("n_low_l_groups"),
        F.sum(low * F.col("sz")).cast("bigint").alias("n_rows_at_risk"),
    )


# --------------------------------------------------------------------------
# Inter-event gap survival — the empirical survival curve S(t) of
# per-user inter-event gaps on doubling minute bands: what fraction
# of gaps are >= each band threshold. The session-gap (4h) and
# bot-regularity thresholds elsewhere in the repo are calibrated by
# exactly this readout. Band index = SUM of integer threshold
# comparisons (no float log2 bucketing — a float quotient's ulp
# flips boundary gaps, the events_hourly_seasonality lesson),
# generated from ONE python list into both engines.
GAP_BANDS_MIN = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096]
_BAND_SQL = " + ".join(
    f"(CASE WHEN gap_min >= {t} THEN 1 ELSE 0 END)" for t in GAP_BANDS_MIN
)
_BAND_LO_SQL = (
    "CASE "
    + " ".join(
        f"WHEN band = {i + 1} THEN {t}"
        for i, t in enumerate(GAP_BANDS_MIN)
    )
    + " ELSE 0 END"
)


@register(
    "events_gap_survival",
    tags=("events", "survival", "window", "diagnostics"),
    oracle=f"""
    WITH g AS (
      SELECT (lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                PARTITION BY user_id
                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
              - epoch_us(CAST(ts AS TIMESTAMP))) // 60000000 AS gap_min
      FROM events
    ),
    b AS (
      SELECT CAST({_BAND_SQL} AS BIGINT) AS band
      FROM g WHERE gap_min IS NOT NULL
    ),
    c AS (SELECT band, count(*) AS n FROM b GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT c.band,
           CAST({_BAND_LO_SQL} AS BIGINT) AS band_lo_min,
           CAST(c.n AS BIGINT) AS n_gaps,
           CAST(sum(c.n) OVER (ORDER BY c.band
                DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_surviving,
           round(CAST(sum(c.n) OVER (ORDER BY c.band
                 DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / t.total + 1e-9, 6) AS survival
    FROM c CROSS JOIN t
    """,
)
def events_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, band_lo_min, n_gaps, n_surviving, survival): empirical
    survival of inter-event gaps over doubling minute bands (band 0 =
    under a minute). Determinism: integer floor-div minutes, integer
    threshold-comparison band index, integer counts; the one division
    is of integer-derived doubles (+1e-9 for the rational-ratio
    boundary class, gotcha #3). Scale shape: ONE user-keyed window
    sort for the lead; the band histogram partial-aggregates
    map-side to <=14 rows, so the survival window and total join run
    on a bounded frame (single-partition window over 14 rows is
    free)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = (
        e.withColumn("nxt", F.lead("us").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.expr("(nxt - us) div 60000000").alias("gap_min"))
    )
    band = sum(
        (F.col("gap_min") >= t).cast("int") for t in GAP_BANDS_MIN
    ).cast("bigint")
    c = g.select(band.alias("band")).groupBy("band").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    sw = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # element_at is 1-based and raises on index 0 even in its try_
    # form — band 0 must be guarded out before the lookup.
    lo = F.when(
        F.col("band") > 0,
        F.element_at(
            F.array(*[F.lit(t_) for t_ in GAP_BANDS_MIN]),
            F.col("band").cast("int"),
        ),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .withColumn("n_surviving", F.sum("n").over(sw))
        .select(
            "band",
            F.coalesce(lo, F.lit(0)).cast("bigint").alias("band_lo_min"),
            F.col("n").cast("bigint").alias("n_gaps"),
            F.col("n_surviving").cast("bigint").alias("n_surviving"),
            F.round(
                F.col("n_surviving").cast("double") / F.col("total") + F.lit(1e-9),
                6,
            ).alias("survival"),
        )
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) attribution — the 40/20/40 companion to
# events_attribution_linear: first touch 40%, last touch 40%, the
# middle pool splits the rest. Reported by ROLE, which keeps the
# whole computation integer-exact per conversion group (the middle
# POOL is attributed as one sum — no per-touch split, so no
# remainder allocation at all): n=1 -> first takes everything;
# n=2 -> last = vu div 2, first = vu - last; n>=3 -> first = last =
# (2*vu) div 5, middle pool = the exact remainder.
@register(
    "events_attribution_ushape",
    tags=("events", "attribution", "window", "aggregate"),
    oracle=f"""
    WITH {_TOUCH_GROUPS_SQL},
    ga AS (
      SELECT user_id, grp,
             max(CASE WHEN event_type = 'purchase' THEN vu_u END) AS vu,
             CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t
      FROM g WHERE grp >= 1 GROUP BY 1, 2
    ),
    cr AS (
      SELECT n_t,
             CASE WHEN n_t = 1 THEN vu
                  WHEN n_t = 2 THEN vu - vu // 2
                  ELSE (2 * vu) // 5 END AS f_credit,
             CASE WHEN n_t = 2 THEN vu // 2
                  WHEN n_t >= 3 THEN (2 * vu) // 5 ELSE 0 END AS l_credit,
             CASE WHEN n_t >= 3 THEN vu - 2 * ((2 * vu) // 5)
                  ELSE 0 END AS m_credit
      FROM ga WHERE n_t > 0
    )
    SELECT 'first' AS role, CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(f_credit) AS BIGINT) / 1e6 + 1e-9, 6)
             AS attributed_value
    FROM cr
    UNION ALL
    SELECT 'last', CAST(sum(CASE WHEN n_t >= 2 THEN 1 ELSE 0 END) AS BIGINT),
           round(CAST(sum(l_credit) AS BIGINT) / 1e6 + 1e-9, 6)
    FROM cr
    UNION ALL
    SELECT 'middle', CAST(sum(CASE WHEN n_t >= 3 THEN n_t - 2 ELSE 0 END)
                          AS BIGINT),
           round(CAST(sum(m_credit) AS BIGINT) / 1e6 + 1e-9, 6)
    FROM cr
    """,
)
def events_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(role, n_touches, attributed_value): U-shaped credit by touch
    role. Determinism: purchase value in integer micro-units, role
    credits are integer floor-divides and exact remainders, every
    aggregate an order-free integer sum; the one float division is
    at output. Shares _touch_groups (and its determinism argument)
    with events_attribution_linear — the two builders differ only
    past the (user, grp) aggregate.
    Scale shape: one user-keyed window sort, one (user, grp) partial
    agg on the same partitioning, then a 3-row unpivot of one global
    agg."""
    g = _touch_groups(spark, sf_dir)
    ga = g.groupBy("user_id", "grp").agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("vu_u"))).alias(
            "vu"
        ),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
    )
    cr = ga.filter(F.col("n_t") > 0).selectExpr(
        "n_t",
        "CASE WHEN n_t = 1 THEN vu"
        " WHEN n_t = 2 THEN vu - vu div 2"
        " ELSE (2 * vu) div 5 END AS f_credit",
        "CASE WHEN n_t = 2 THEN vu div 2"
        " WHEN n_t >= 3 THEN (2 * vu) div 5 ELSE 0 END AS l_credit",
        "CASE WHEN n_t >= 3 THEN vu - 2 * ((2 * vu) div 5)"
        " ELSE 0 END AS m_credit",
    )
    a = cr.agg(
        F.count(F.lit(1)).cast("bigint").alias("nf"),
        F.sum("f_credit").cast("bigint").alias("uf"),
        F.sum(F.when(F.col("n_t") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("nl"),
        F.sum("l_credit").cast("bigint").alias("ul"),
        F.sum(F.when(F.col("n_t") >= 3, F.col("n_t") - 2).otherwise(0))
        .cast("bigint")
        .alias("nm"),
        F.sum("m_credit").cast("bigint").alias("um"),
    )
    return a.selectExpr(
        "stack(3, 'first', nf, uf, 'last', nl, ul, 'middle', nm, um)"
        " AS (role, n_touches, u)"
    ).select(
        "role",
        "n_touches",
        F.round(F.col("u") / F.lit(1e6) + F.lit(1e-9), 6).alias(
            "attributed_value"
        ),
    )


# --------------------------------------------------------------------------
# Activity-class migration — the churn/growth transition matrix:
# classify each customer's order activity in the first vs second
# half of the time axis ('0', '1', '2-3', '4+' orders) and count
# customers per (before, after) cell. The '0' classes come from the
# customer dim via a left join, so churned and newly-active
# customers appear — the cells a pure orders-side rollup can't see.
# Split point = integer micros midpoint of the axis (the
# events_psi_drift discipline: div, never float).
@register(
    "orders_activity_migration",
    tags=("orders", "migration", "cohort", "aggregate"),
    oracle="""
    WITH d AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day
      FROM orders
    ),
    b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM d),
    h AS (
      SELECT o_custkey,
             sum(CASE WHEN day < b.mid THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN day >= b.mid THEN 1 ELSE 0 END) AS n2
      FROM d CROSS JOIN b GROUP BY 1
    ),
    cls AS (
      SELECT c.c_custkey,
             CASE WHEN coalesce(h.n1, 0) = 0 THEN '0'
                  WHEN h.n1 = 1 THEN '1'
                  WHEN h.n1 <= 3 THEN '2-3' ELSE '4+' END AS seg_before,
             CASE WHEN coalesce(h.n2, 0) = 0 THEN '0'
                  WHEN h.n2 = 1 THEN '1'
                  WHEN h.n2 <= 3 THEN '2-3' ELSE '4+' END AS seg_after
      FROM customer c LEFT JOIN h ON h.o_custkey = c.c_custkey
    )
    SELECT seg_before, seg_after,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM cls GROUP BY 1, 2
    """,
)
def orders_activity_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seg_before, seg_after, n_customers): customer activity-class
    transition matrix across the two halves of the order-date axis.
    Determinism: integer calendar-day axis (o_orderdate is NTZ —
    unix_micros rejects it, the repeat-purchase lesson; datediff
    gives exact integer days on both engines), integer midpoint
    (div), integer counts, CASE ladders on integers. Scale shape: the midpoint is a 1-row
    broadcast; ONE fact shuffle on custkey computes both half-counts
    (single pass, conditional sums); the customer left join keys on
    custkey UNHINTED (customer is fact-proportional — the
    SCALING.md:33 rule: AQE broadcasts the half-count frame at bench
    sf, SMJ at scale); the matrix agg runs on <=16 cells."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("day"),
    )
    b = o.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    h = (
        o.crossJoin(F.broadcast(b))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), 1).otherwise(0)).alias(
                "n1"
            ),
            F.sum(F.when(F.col("day") >= F.col("mid"), 1).otherwise(0)).alias(
                "n2"
            ),
        )
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    j = c.join(h, c.c_custkey == h.o_custkey, "left")

    def cls(col: str):
        n = F.coalesce(F.col(col), F.lit(0))
        return (
            F.when(n == 0, "0")
            .when(n == 1, "1")
            .when(n <= 3, "2-3")
            .otherwise("4+")
        )

    return (
        j.select(
            cls("n1").alias("seg_before"), cls("n2").alias("seg_after")
        )
        .groupBy("seg_before", "seg_after")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# Inter-arrival burstiness — Goh-Barabasi B = (sigma - mu)/(sigma +
# mu) over per-customer order gaps, reported per market segment:
# B near -1 = periodic ordering, near 0 = Poisson, toward +1 =
# bursty. Moments from EXPLICIT integer sums (sum, sumsq, n) of
# whole-day gaps — never engine-native stddev (Welford vs naive
# differ, the embedding_dim_stats rule).
@register(
    "orders_interarrival_burstiness",
    tags=("orders", "burstiness", "window", "aggregate"),
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             lead(date_diff('day', DATE '1970-01-01',
                            CAST(o.o_orderdate AS DATE))) OVER (
               PARTITION BY o.o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01',
                                  CAST(o.o_orderdate AS DATE)), o.o_orderkey)
             - date_diff('day', DATE '1970-01-01',
                         CAST(o.o_orderdate AS DATE)) AS gap_d
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap_d) AS BIGINT) AS s1,
             CAST(sum(gap_d * gap_d) AS BIGINT) AS s2
      FROM g WHERE gap_d IS NOT NULL GROUP BY 1
    )
    SELECT segment, n,
           round(CAST(s1 AS DOUBLE) / n + 1e-9, 4) AS mean_gap_days,
           round(sqrt(greatest(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0))
                 + 1e-9, 4) AS std_gap_days,
           round((sqrt(greatest(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0))
                  - CAST(s1 AS DOUBLE) / n)
                 / (sqrt(greatest(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0))
                    + CAST(s1 AS DOUBLE) / n)
                 + 1e-9, 4) + 0.0 AS burstiness
    FROM m
    """,
)
def orders_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, n, mean_gap_days, std_gap_days, burstiness): Goh-
    Barabasi burstiness of inter-order gaps per market segment.
    Determinism: gaps are exact integer calendar-day differences
    (NTZ-safe datediff axis, the repeat-purchase lesson) over a
    (day, orderkey)-tiebroken window; (n, s1, s2) are order-free integer
    sums, so mu/sigma are the SAME doubles cross-engine (identical
    expression trees on identical inputs); +1e-9 pre-round bias and
    +0.0 on the near-zero-capable B (gotcha #3). Scale shape: one
    custkey-keyed window sort for the lead; the customer join keys
    custkey UNHINTED (fact-proportional); the moment agg partial-
    aggregates to |segments| rows map-side."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("day"),
        "o_orderkey",
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = (
        o.withColumn("nxt", F.lead("day").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("o_custkey", (F.col("nxt") - F.col("day")).alias("gap_d"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    m = g.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap_d").cast("bigint").alias("s1"),
        F.sum(F.col("gap_d") * F.col("gap_d")).cast("bigint").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sig = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n") - mu * mu, F.lit(0.0)
        )
    )
    return m.select(
        "segment",
        "n",
        F.round(mu + F.lit(1e-9), 4).alias("mean_gap_days"),
        F.round(sig + F.lit(1e-9), 4).alias("std_gap_days"),
        (F.round((sig - mu) / (sig + mu) + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "burstiness"
        ),
    )


# --------------------------------------------------------------------------
# ABC analysis — the classic inventory/revenue concentration
# classification: rank parts by revenue, class A = parts covering
# the first 80% of cumulative revenue, B = to 95%, C = the tail.
# Class boundaries by INTEGER cross-multiplication of exact cent
# sums (cum * 100 <= 80 * total), so no float share ever decides a
# class.
@register(
    "orders_abc_analysis",
    tags=("orders", "abc", "window", "aggregate"),
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cents) OVER () AS total
      FROM p
    ),
    c AS (
      SELECT CASE WHEN cum * 100 <= 80 * total THEN 'A'
                  WHEN cum * 100 <= 95 * total THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM r
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(CAST(sum(cents) AS DOUBLE)
                 / (SELECT CAST(sum(cents) AS DOUBLE) FROM p) + 1e-9, 4)
             AS revenue_share
    FROM c GROUP BY 1
    """,
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(abc_class, n_parts, revenue_cents, revenue_share): 80/95 ABC
    classification of parts by revenue. Determinism: exact integer
    cents; the cumulative window orders by (cents DESC, partkey) —
    a unique key, so ties never reorder; class bounds are integer
    cross-multiplications; the one float division is at output.
    Scale shape: ONE fact shuffle to per-part cents (map-side
    partial); the global cumulative sum over the |parts| frame uses
    the two-pass range-partition + broadcast-offsets pattern
    (functions/scale.py::two_pass_cumsum — exact integer offsets,
    never a single-partition sort; VERDICT r9 #2); the class report
    is a 3-row agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
    )
    p = li.groupBy("l_partkey").agg(F.sum("c").cast("bigint").alias("cents"))
    r = two_pass_cumsum(
        p,
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        "cum",
        total_col="total",
    ).select("cents", "cum", "total")
    cls = (
        F.when(F.col("cum") * 100 <= 80 * F.col("total"), "A")
        .when(F.col("cum") * 100 <= 95 * F.col("total"), "B")
        .otherwise("C")
    )
    return (
        r.select(cls.alias("abc_class"), "cents", "total")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.round(
                F.sum("cents").cast("double") / F.first("total") + F.lit(1e-9),
                4,
            ).alias("revenue_share"),
        )
    )


# --------------------------------------------------------------------------
# Over-dispersion test — is daily event volume Poisson-like?
# Per type, the dispersion index D = var/mean of daily counts:
# D ~ 1 = Poisson arrivals, D >> 1 = bursty/clumped traffic (bots,
# batch jobs), D < 1 = throttled/regular. Daily counts are integers,
# moments are explicit integer sums (never engine-native variance).
@register(
    "events_overdispersion",
    tags=("events", "dispersion", "aggregate"),
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             {DAY_SQL} AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2
      FROM d GROUP BY 1
    )
    SELECT event_type, n_days,
           round(CAST(s1 AS DOUBLE) / n_days + 1e-9, 4) AS mean_daily,
           round((CAST(s2 AS DOUBLE) / n_days
                  - (CAST(s1 AS DOUBLE) / n_days) * (CAST(s1 AS DOUBLE) / n_days))
                 / (CAST(s1 AS DOUBLE) / n_days) + 1e-9, 4) AS dispersion
    FROM m WHERE s1 > 0
    """,
)
def events_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, mean_daily, dispersion): variance-to-mean
    ratio of daily counts per type. Determinism: integer epoch-div
    days, integer (n_days, s1, s2) moments — mean and population
    variance are then the SAME doubles cross-engine (identical
    expression order); +1e-9 pre-round. Scale shape: one (type, day)
    partial-agg shuffle, then a |types|-row moment fold; nothing
    downstream of the first exchange scales with the fact."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", utc_day().alias("day")
    )
    d = e.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n"))
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_days")
    return m.filter(F.col("s1") > 0).select(
        "event_type",
        "n_days",
        F.round(mu + F.lit(1e-9), 4).alias("mean_daily"),
        F.round(
            (F.col("s2").cast("double") / F.col("n_days") - mu * mu) / mu
            + F.lit(1e-9),
            4,
        ).alias("dispersion"),
    )


# --------------------------------------------------------------------------
# Behavioral entropy by activity band — how DIVERSE is each user's
# event mix, and does diversity grow with activity? Per user,
# Shannon entropy over event-type counts via the integer-count
# identity H = ln(n) - (1/n) * sum(c * ln c); users then report by
# doubling activity bands (integer threshold-sum banding, the
# events_gap_survival pattern). Low-entropy high-activity users are
# the single-action bot signature events_bot_score ranks. Bands are
# width-5 linear (the per-user counts sit tightly in ~45-99 at every
# sf — doubling bands would collapse to one cell; re-probe the axis
# before picking a bucket, the dau_wau_stickiness lesson).
ACTIVITY_BANDS = [50, 55, 60, 65, 70, 75, 80, 85, 90]
_ACT_BAND_SQL = " + ".join(
    f"(CASE WHEN n >= {t} THEN 1 ELSE 0 END)" for t in ACTIVITY_BANDS
)


@register(
    "events_user_entropy_bands",
    tags=("events", "entropy", "diagnostics"),
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS k
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id,
             CAST(sum(k) AS BIGINT) AS n,
             ln(CAST(sum(k) AS DOUBLE))
               - sum(k * ln(CAST(k AS DOUBLE))) / sum(k) AS h
      FROM c GROUP BY 1
    ),
    b AS (
      SELECT CAST({_ACT_BAND_SQL} AS BIGINT) AS band, h FROM u
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(h) + 1e-9, 4) + 0.0 AS mean_entropy,
           round(max(h) + 1e-9, 4) AS max_entropy
    FROM b GROUP BY 1
    """,
)
def events_user_entropy_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, n_users, mean_entropy, max_entropy): mean per-user
    behavioral entropy per activity band. Determinism:
    per-user H folds c*ln(c) over <=|types| integer-derived terms in
    one group (transcendental values, n*ulp fold divergence far
    under the bias); banding is integer threshold sums; the per-band
    avg is bias-covered; +0.0 guards single-type users whose H
    rounds to a signed zero (gotcha #3 — ln identities give exact-0
    only up to fold residue). Scale shape: one (user, type) partial-
    agg shuffle, a user-frame fold reusing the user prefix, then a
    <=9-row band report."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k"))
    u = c.groupBy("user_id").agg(
        F.sum("k").cast("bigint").alias("n"),
        (
            F.log(F.sum("k").cast("double"))
            - F.sum(F.col("k") * F.log(F.col("k").cast("double")))
            / F.sum("k")
        ).alias("h"),
    )
    band = sum(
        (F.col("n") >= t).cast("int") for t in ACTIVITY_BANDS
    ).cast("bigint")
    return (
        u.select(band.alias("band"), "h")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            (F.round(F.avg("h") + F.lit(1e-9), 4) + F.lit(0.0)).alias(
                "mean_entropy"
            ),
            F.round(F.max("h") + F.lit(1e-9), 4).alias("max_entropy"),
        )
    )


# --------------------------------------------------------------------------
# Daily peak detection — local maxima of the per-type daily volume
# series: days strictly above both calendar neighbors (lag/lead on
# the aggregated day frame). The campaign-spike / incident shortlist
# a monitoring dashboard renders. Gap days break peaks honestly: a
# missing neighbor day means count 0 there, handled by comparing
# against coalesce(neighbor, 0) only when the neighbor day is
# ADJACENT (day +/- 1) — a lag across a gap is not a neighbor.
@register(
    "events_daily_peaks",
    tags=("events", "peaks", "window", "timeseries"),
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             {DAY_SQL} AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, day, n,
             lag(day)  OVER (PARTITION BY event_type ORDER BY day) AS pd,
             lag(n)    OVER (PARTITION BY event_type ORDER BY day) AS pn,
             lead(day) OVER (PARTITION BY event_type ORDER BY day) AS nd,
             lead(n)   OVER (PARTITION BY event_type ORDER BY day) AS nn
      FROM d
    )
    SELECT event_type, day, n,
           CAST(CASE WHEN pd = day - 1 THEN pn ELSE 0 END AS BIGINT)
             AS prev_n,
           CAST(CASE WHEN nd = day + 1 THEN nn ELSE 0 END AS BIGINT)
             AS next_n
    FROM x
    WHERE n > coalesce(CASE WHEN pd = day - 1 THEN pn ELSE 0 END, 0)
      AND n > coalesce(CASE WHEN nd = day + 1 THEN nn ELSE 0 END, 0)
      AND pd IS NOT NULL AND nd IS NOT NULL
    """,
)
def events_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n, prev_n, next_n): days strictly above both
    calendar neighbors (axis-interior only — series endpoints can't
    be peaks). Determinism: integer day buckets and counts; gap
    days count 0 via the adjacency guard on both engines. Scale
    shape: one (type, day) partial-agg shuffle; the lag/lead window
    runs on the bounded day frame sharing one sort."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", utc_day().alias("day")
    )
    d = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    x = d.select(
        "event_type",
        "day",
        "n",
        F.lag("day").over(w).alias("pd"),
        F.lag("n").over(w).alias("pn"),
        F.lead("day").over(w).alias("nd"),
        F.lead("n").over(w).alias("nn"),
    )
    prev_n = F.when(F.col("pd") == F.col("day") - 1, F.col("pn")).otherwise(0)
    next_n = F.when(F.col("nd") == F.col("day") + 1, F.col("nn")).otherwise(0)
    return (
        x.filter(
            F.col("pd").isNotNull()
            & F.col("nd").isNotNull()
            & (F.col("n") > F.coalesce(prev_n, F.lit(0)))
            & (F.col("n") > F.coalesce(next_n, F.lit(0)))
        )
        .select(
            "event_type",
            "day",
            "n",
            prev_n.cast("bigint").alias("prev_n"),
            next_n.cast("bigint").alias("next_n"),
        )
    )


# --------------------------------------------------------------------------
# CUPED readout — Controlled-experiment Using Pre-Experiment Data:
# per event type, regress each user's second-half mean value on
# their first-half mean; theta is the CUPED adjustment coefficient
# and r^2 the variance-reduction share an experiment on this metric
# would gain from the covariate. The A/B-test power-planning
# companion to events_ab_test_zscore. Six-sum Pearson machinery
# (the text_quality_length_corr pattern); the per-user means are
# ratios of exact integer cent sums, so both engines fold identical
# doubles.
@register(
    "events_cuped_readout",
    tags=("events", "abtest", "cuped", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT event_type, user_id,
             {DAY_SQL} AS day,
             {CENTS_SQL} AS vc
      FROM events
    ),
    mid AS (SELECT {_MID_DAY_SQL} FROM e),
    u AS (
      SELECT event_type, user_id,
             sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS an,
             sum(CASE WHEN day < mid THEN vc ELSE 0 END) AS asum,
             sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS bn,
             sum(CASE WHEN day >= mid THEN vc ELSE 0 END) AS bsum
      FROM e CROSS JOIN mid GROUP BY 1, 2
    ),
    xy AS (
      SELECT event_type,
             CAST(asum AS DOUBLE) / (100 * an) AS x,
             CAST(bsum AS DOUBLE) / (100 * bn) AS y
      FROM u WHERE an > 0 AND bn > 0
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy GROUP BY 1
    )
    SELECT event_type, n AS n_users,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6) + 0.0
             AS theta,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 6)
             AS var_reduction
    FROM s WHERE n >= 3
    """,
)
def events_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_users, theta, var_reduction): CUPED adjustment
    coefficient and r^2 variance-reduction share from regressing
    users' second-half mean value on their first-half mean.
    Determinism: integer cent sums per (type, user, half) in ONE
    conditional-sum pass; x/y are single divisions of those integers
    (identical doubles); the six-sum fold carries only n*ulp
    divergence under the 6dp bias (the quality_length_corr
    precedent); theta is signed-zero-guarded. Scale shape: one
    (type, user) partial-agg shuffle with a 1-row broadcast
    midpoint; the regression runs on |types| moment rows."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        utc_day().alias("day"),
        cents().alias("vc"),
    )
    mid = _mid_day(e)
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), 1).otherwise(0)).alias(
                "an"
            ),
            F.sum(
                F.when(F.col("day") < F.col("mid"), F.col("vc")).otherwise(0)
            ).alias("asum"),
            F.sum(F.when(F.col("day") >= F.col("mid"), 1).otherwise(0)).alias(
                "bn"
            ),
            F.sum(
                F.when(F.col("day") >= F.col("mid"), F.col("vc")).otherwise(0)
            ).alias("bsum"),
        )
    )
    xy = u.filter((F.col("an") > 0) & (F.col("bn") > 0)).select(
        "event_type",
        (F.col("asum").cast("double") / (100 * F.col("an"))).alias("x"),
        (F.col("bsum").cast("double") / (100 * F.col("bn"))).alias("y"),
    )
    s = xy.groupBy("event_type").agg(*moment_sums())
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.filter(F.col("n") >= 3).select(
        "event_type",
        F.col("n").alias("n_users"),
        (F.round(cov / vx + F.lit(1e-9), 6) + F.lit(0.0)).alias("theta"),
        F.round((cov * cov) / (vx * vy) + F.lit(1e-9), 6).alias(
            "var_reduction"
        ),
    )


# --------------------------------------------------------------------------
# Tukey-fence (IQR) outlier screen: the boxplot rule as a data-quality
# operator. Cross-engine safety: Spark's `percentile` and DuckDB's
# `quantile_cont` produce the SAME linear-interpolated double
# (verified bit-exact by events_winsorize_stats, r7), so the fences
# q1 - 1.5*IQR / q3 + 1.5*IQR — written with the identical operation
# order on both engines — classify every row identically; counts are
# integers and the share is a single division under the 4dp bias.
@register(
    "events_tukey_fences",
    tags=("events", "outliers", "percentile", "aggregate"),
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(q.q1 + 1e-9, 6) + 0.0 AS q1,
           round(q.q3 + 1e-9, 6) + 0.0 AS q3,
           CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                          OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                               OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1e-9, 6)
             AS outlier_share
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q.q1, q.q3
    """,
)
def events_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, q1, q3, n_outliers, outlier_share): classic
    boxplot outlier screen per event type. Scale shape: pass 1 is a
    per-type percentile aggregate (|types| rows), pass 2 re-scans the
    fact with the quantile frame BROADCAST — the two-pass winsorize
    pattern (events_winsorize_stats); no fact-side shuffle beyond the
    partial aggregation."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    j = e.join(F.broadcast(q), "event_type")
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    g = j.groupBy("event_type", "q1", "q3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
    )
    return g.select(
        "event_type",
        "n",
        (F.round(F.col("q1") + F.lit(1e-9), 6) + F.lit(0.0)).alias("q1"),
        (F.round(F.col("q3") + F.lit(1e-9), 6) + F.lit(0.0)).alias("q3"),
        "n_outliers",
        F.round(
            F.col("n_outliers").cast("double") / F.col("n") + F.lit(1e-9), 6
        ).alias("outlier_share"),
    )


# --------------------------------------------------------------------------
# Pettitt rank-based change-point test on the daily count series: the
# nonparametric companion to CUSUM (events_cusum_changepoint detects
# mean shifts in VALUE; Pettitt detects distribution shifts in VOLUME
# with no normality assumption). U_t = sum over i<=t, j>t of
# sign(x_i - x_j); the candidate change point maximizes |U_t|.
# Integer-exact end to end: x is a daily COUNT, sign() is -1/0/1, the
# double loop over a ~31-row daily frame is a tiny self-join — the
# quadratic is in DAYS, never rows, so it holds at any sf.
@register(
    "events_pettitt_changepoint",
    tags=("events", "changepoint", "rank", "self-join"),
    oracle=f"""
    WITH d AS (
      SELECT {DAY_SQL} AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    u AS (
      SELECT a.day AS day,
             CAST(sum(CASE WHEN a2.cnt > b.cnt THEN 1
                           WHEN a2.cnt < b.cnt THEN -1 ELSE 0 END) AS BIGINT)
               AS u_t
      FROM d a
      JOIN d a2 ON a2.day <= a.day
      JOIN d b ON b.day > a.day
      GROUP BY a.day
    )
    SELECT day AS change_day, u_t,
           abs(u_t) AS abs_u
    FROM u
    ORDER BY abs(u_t) DESC, day ASC
    LIMIT 1
    """,
)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(change_day, u_t, abs_u): Pettitt statistic argmax — the most
    likely volume change point. Determinism: integer counts, integer
    sign sums, (abs_u DESC, day ASC) unique-key tiebreak on the LIMIT.
    Scale shape: the fact collapses to one row per DAY first and is
    eager-checkpointed — it fans out to THREE differing sibling
    consumers (spine + two broadcast builds) that are built
    concurrently, so the un-materialized aggregate would re-scan the
    fact three times (gotcha #9; ADVICE r9); the O(days^2) wedge
    join then runs on that tiny frame (31 rows here, ~3650 for a
    decade) — broadcast both sides, never the fact."""
    e = load_table(spark, sf_dir, "events")
    d = (
        e.groupBy(utc_day().alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    a = d.select(F.col("day").alias("t"))
    pre = d.select(F.col("day").alias("day_i"), F.col("cnt").alias("cnt_i"))
    post = d.select(F.col("day").alias("day_j"), F.col("cnt").alias("cnt_j"))
    u = (
        a.join(F.broadcast(pre), F.col("day_i") <= F.col("t"))
        .join(F.broadcast(post), F.col("day_j") > F.col("t"))
        .groupBy(F.col("t").alias("change_day"))
        .agg(
            F.sum(
                F.when(F.col("cnt_i") > F.col("cnt_j"), 1)
                .when(F.col("cnt_i") < F.col("cnt_j"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("u_t")
        )
    )
    return (
        u.withColumn("abs_u", F.abs(F.col("u_t")))
        .orderBy(F.col("abs_u").desc(), F.col("change_day").asc())
        .limit(1)
    )


# --------------------------------------------------------------------------
# t-closeness audit — the third rung of the privacy ladder after
# k-anonymity and l-diversity: within each QI group, how far is the
# SENSITIVE-attribute distribution (market segment) from the global
# one? Distance = total variation (1/2 * L1), the categorical EMD.
# Missing categories contribute their full global share, folded in
# WITHOUT enumerating absent rows: sum over present segments of
# |p - q| plus (1 - sum of present q).
@register(
    "privacy_t_closeness",
    tags=("privacy", "t-closeness", "aggregate"),
    oracle=f"""
    WITH base AS (
      SELECT c_nationkey AS nation,
             {_QI_BUCKET_SQL}
               AS bal_bucket,
             c_mktsegment AS seg
      FROM customer
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    gseg AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS g FROM base GROUP BY 1
    ),
    cell AS (
      SELECT nation, bal_bucket, seg, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ),
    gsz AS (
      SELECT nation, bal_bucket, CAST(sum(c) AS BIGINT) AS sz
      FROM cell GROUP BY 1, 2
    ),
    grp AS (
      SELECT cell.nation, cell.bal_bucket, gsz.sz,
             round(0.5 * (
               sum(abs(CAST(cell.c AS DOUBLE) / gsz.sz
                       - CAST(gseg.g AS DOUBLE) / tot.n))
               + (1 - sum(CAST(gseg.g AS DOUBLE) / tot.n))
             ) + 1e-9, 6) AS t
      FROM cell
      JOIN gsz ON gsz.nation = cell.nation AND gsz.bal_bucket = cell.bal_bucket
      JOIN gseg ON gseg.seg = cell.seg
      CROSS JOIN tot
      GROUP BY cell.nation, cell.bal_bucket, gsz.sz, tot.n
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           max(t) AS max_t,
           CAST(sum(CASE WHEN t > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_03
    FROM grp GROUP BY 1
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, n_groups, n_rows, max_t, n_over_03): per-nation
    worst-case and count of QI groups whose segment distribution
    strays beyond total-variation 0.3 from the corpus. Determinism:
    shares are single divisions of exact integers; the per-group L1
    fold sums <= |segments| (5) such terms, so cross-engine
    divergence is a few ulp — the 6dp round with the 1e-9 bias locks
    t BEFORE the threshold comparison and the max (never compare an
    unrounded float against a constant across engines). Scale shape:
    one shuffle to (QI, seg) cells, a window-free rollup of the
    bounded cell frame, with the 5-row global-share frame and the
    1-row total broadcast."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_nationkey").alias("nation"),
        F.expr(_QI_BUCKET).alias("bal_bucket"),
        F.col("c_mktsegment").alias("seg"),
    )
    cell = base.groupBy("nation", "bal_bucket", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    glob = base.groupBy("seg").agg(F.count(F.lit(1)).cast("bigint").alias("g"))
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("nation", "bal_bucket")
    joined = (
        cell.join(F.broadcast(glob), "seg")
        .crossJoin(F.broadcast(tot))
        .withColumn("sz", F.sum("c").over(w).cast("bigint"))
    )
    grp = joined.groupBy("nation", "bal_bucket", "sz", "n").agg(
        F.round(
            0.5
            * (
                F.sum(
                    F.abs(
                        F.col("c").cast("double") / F.col("sz")
                        - F.col("g").cast("double") / F.col("n")
                    )
                )
                + (
                    F.lit(1)
                    - F.sum(F.col("g").cast("double") / F.col("n"))
                )
            )
            + F.lit(1e-9),
            6,
        ).alias("t")
    )
    return grp.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.max("t").alias("max_t"),
        F.sum(F.when(F.col("t") > 0.3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_03"),
    )


# --------------------------------------------------------------------------
# Difference-in-differences readout: the 2x2 (treat/control x
# pre/post) experiment table and the DiD estimate per event type.
# Treatment is the deterministic multiplicative-hash coin on user_id
# (the sample_split_assign discipline — identical integer arithmetic
# on both engines, stable under re-runs); the period split is the
# integer midpoint day (the CUPED convention).
@register(
    "events_did_readout",
    tags=("events", "abtest", "did", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             (user_id * {KNUTH}) % {MOD_2_32} % 2 AS treat,
             {DAY_SQL} AS day,
             {CENTS_SQL} AS vc
      FROM events
    ),
    mid AS (SELECT {_MID_DAY_SQL} FROM e),
    cells AS (
      SELECT event_type, treat,
             CASE WHEN day >= mid THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vc) AS BIGINT) AS s
      FROM e CROSS JOIN mid GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT event_type,
             sum(CASE WHEN treat = 1 AND post = 1 THEN n ELSE 0 END) AS n_t1,
             sum(CASE WHEN treat = 1 AND post = 0 THEN n ELSE 0 END) AS n_t0,
             sum(CASE WHEN treat = 0 AND post = 1 THEN n ELSE 0 END) AS n_c1,
             sum(CASE WHEN treat = 0 AND post = 0 THEN n ELSE 0 END) AS n_c0,
             sum(CASE WHEN treat = 1 AND post = 1 THEN s ELSE 0 END) AS s_t1,
             sum(CASE WHEN treat = 1 AND post = 0 THEN s ELSE 0 END) AS s_t0,
             sum(CASE WHEN treat = 0 AND post = 1 THEN s ELSE 0 END) AS s_c1,
             sum(CASE WHEN treat = 0 AND post = 0 THEN s ELSE 0 END) AS s_c0
      FROM cells GROUP BY 1
    )
    SELECT event_type,
           CAST(n_t0 + n_t1 AS BIGINT) AS n_treat,
           CAST(n_c0 + n_c1 AS BIGINT) AS n_control,
           round(CAST(s_t0 AS DOUBLE) / (100 * n_t0) + 1e-9, 4) + 0.0
             AS treat_pre,
           round(CAST(s_t1 AS DOUBLE) / (100 * n_t1) + 1e-9, 4) + 0.0
             AS treat_post,
           round(CAST(s_c0 AS DOUBLE) / (100 * n_c0) + 1e-9, 4) + 0.0
             AS control_pre,
           round(CAST(s_c1 AS DOUBLE) / (100 * n_c1) + 1e-9, 4) + 0.0
             AS control_post,
           round((CAST(s_t1 AS DOUBLE) / (100 * n_t1)
                  - CAST(s_t0 AS DOUBLE) / (100 * n_t0))
                 - (CAST(s_c1 AS DOUBLE) / (100 * n_c1)
                    - CAST(s_c0 AS DOUBLE) / (100 * n_c0)) + 1e-9, 4) + 0.0
             AS did
    FROM m
    WHERE n_t0 > 0 AND n_t1 > 0 AND n_c0 > 0 AND n_c1 > 0
    """,
)
def events_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_treat, n_control, treat_pre, treat_post,
    control_pre, control_post, did): the 2x2 cell means and the
    difference-in-differences estimate. Determinism: every cell mean
    is one division of exact integers (identical doubles); the DiD
    combination uses the identical expression order on both engines;
    rounds carry bias + signed-zero guards (values can be negative).
    Scale shape: ONE conditional partial aggregation of the fact to
    (type, treat, post) cells with a 1-row broadcast midpoint; the
    2x2 algebra runs on |types| rows."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        knuth_bucket("user_id", 2).alias(
            "treat"
        ),
        utc_day().alias("day"),
        cents().alias("vc"),
    )
    mid = _mid_day(e)
    cells = (
        e.crossJoin(F.broadcast(mid))
        .withColumn(
            "post", F.when(F.col("day") >= F.col("mid"), 1).otherwise(0)
        )
        .groupBy("event_type", "treat", "post")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("vc").cast("bigint").alias("s"),
        )
    )

    def cell(tr: int, po: int, col: str):
        return F.sum(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col(col))
            .otherwise(F.lit(0))
        )

    m = cells.groupBy("event_type").agg(
        cell(1, 1, "n").alias("n_t1"),
        cell(1, 0, "n").alias("n_t0"),
        cell(0, 1, "n").alias("n_c1"),
        cell(0, 0, "n").alias("n_c0"),
        cell(1, 1, "s").alias("s_t1"),
        cell(1, 0, "s").alias("s_t0"),
        cell(0, 1, "s").alias("s_c1"),
        cell(0, 0, "s").alias("s_c0"),
    )

    def mean(s: str, n: str):
        return F.col(s).cast("double") / (100 * F.col(n))

    r4 = lambda c: F.round(c + F.lit(1e-9), 4) + F.lit(0.0)  # noqa: E731
    return m.filter(
        (F.col("n_t0") > 0)
        & (F.col("n_t1") > 0)
        & (F.col("n_c0") > 0)
        & (F.col("n_c1") > 0)
    ).select(
        "event_type",
        (F.col("n_t0") + F.col("n_t1")).cast("bigint").alias("n_treat"),
        (F.col("n_c0") + F.col("n_c1")).cast("bigint").alias("n_control"),
        r4(mean("s_t0", "n_t0")).alias("treat_pre"),
        r4(mean("s_t1", "n_t1")).alias("treat_post"),
        r4(mean("s_c0", "n_c0")).alias("control_pre"),
        r4(mean("s_c1", "n_c1")).alias("control_post"),
        r4(
            (mean("s_t1", "n_t1") - mean("s_t0", "n_t0"))
            - (mean("s_c1", "n_c1") - mean("s_c0", "n_c0"))
        ).alias("did"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test per event type: did the VALUE
# distribution's SHAPE change between the first and second half of
# the window? (CUSUM/Pettitt detect level shifts; chi-square detects
# categorical composition; KS detects arbitrary distributional
# change.) PURE-INTEGER exactness: D's numerator is
# max |cum_pre * n_post - cum_post * n_pre| over the merged value
# grid — exact bigints — and every float (D, the critical threshold)
# is a single division / sqrt of identical integers, so even the
# significance COMPARISON is cross-engine safe.
@register(
    "events_ks_two_sample",
    tags=("events", "ks-test", "distribution", "window"),
    oracle=f"""
    WITH e AS (
      SELECT event_type, value,
             {DAY_SQL} AS day
      FROM events
    ),
    mid AS (SELECT {_MID_DAY_SQL} FROM e),
    v AS (
      SELECT event_type, value,
             CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pre,
             CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_post
      FROM e CROSS JOIN mid GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type,
             sum(n_pre) OVER w AS cpre, sum(n_post) OVER w AS cpost,
             sum(n_pre) OVER t AS n1, sum(n_post) OVER t AS n2
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             t AS (PARTITION BY event_type)
    )
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n_pre,
           CAST(max(n2) AS BIGINT) AS n_post,
           round(CAST(max(abs(cpre * n2 - cpost * n1)) AS DOUBLE)
                 / (max(n1) * max(n2)) + 1e-9, 6) AS d_stat,
           CAST(
             CAST(max(abs(cpre * n2 - cpost * n1)) AS DOUBLE)
               / (max(n1) * max(n2))
             > 1.358 * sqrt(CAST(max(n1) + max(n2) AS DOUBLE)
                            / (max(n1) * max(n2)))
             AS BOOLEAN) AS significant_05
    FROM c GROUP BY 1
    """,
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_pre, n_post, d_stat, significant_05):
    two-sample KS statistic between window halves with the alpha=.05
    asymptotic decision. Determinism: the D numerator is an exact
    bigint max; D and the threshold are identical doubles both
    engines (single division / sqrt of integers), so the > compare
    never straddles. Scale shape: one partial agg to the per-(type,
    value) grid, one type-keyed window sort over that (distinct
    values, not events), constant output rows. Bigint bound:
    cum * n < n^2 — exceeds 2^63 only past ~3e9 rows PER TYPE
    (promote to DECIMAL(38,0) there)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        utc_day().alias("day"),
    )
    mid = _mid_day(e)
    v = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pre"),
            F.sum(F.when(F.col("day") >= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_post"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("event_type")
    c = v.select(
        "event_type",
        F.sum("n_pre").over(w).alias("cpre"),
        F.sum("n_post").over(w).alias("cpost"),
        F.sum("n_pre").over(t).alias("n1"),
        F.sum("n_post").over(t).alias("n2"),
    )
    g = c.groupBy("event_type").agg(
        F.max("n1").cast("bigint").alias("n_pre"),
        F.max("n2").cast("bigint").alias("n_post"),
        F.max(
            F.abs(F.col("cpre") * F.col("n2") - F.col("cpost") * F.col("n1"))
        ).alias("dnum"),
    )
    d = F.col("dnum").cast("double") / (F.col("n_pre") * F.col("n_post"))
    thresh = F.lit(1.358) * F.sqrt(
        (F.col("n_pre") + F.col("n_post")).cast("double")
        / (F.col("n_pre") * F.col("n_post"))
    )
    return g.select(
        "event_type",
        "n_pre",
        "n_post",
        F.round(d + F.lit(1e-9), 6).alias("d_stat"),
        (d > thresh).alias("significant_05"),
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator per event type: over the top-HILL_K order
# statistics, alpha = 1 / mean(ln(x_(i) / x_(k))) — the standard
# power-law tail exponent (pairs with the Zipf/Pareto heads: those
# describe RANK structure, this estimates the DISTRIBUTION tail).
# Determinism: rank ties share a value, so the top-k VALUE multiset
# is order-free; each ln term is an identical double (single divide
# of parquet doubles, correctly-rounded libm ln — the decayed-score
# precedent); the k-1-term mean's summation-order noise is ~1e-13,
# far under the 6dp bias.
HILL_K = 100


@register(
    "events_hill_tail_index",
    tags=("events", "tail", "hill", "window"),
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value DESC, event_id
             ) AS rk
      FROM events
    ),
    topk AS (SELECT * FROM ranked WHERE rk <= {HILL_K}),
    xk AS (
      SELECT event_type, value AS x_k FROM topk WHERE rk = {HILL_K}
    )
    SELECT t.event_type,
           CAST(count(*) AS BIGINT) AS k_used,
           round(max(xk.x_k) + 1e-9, 6) AS x_k,
           round(avg(ln(t.value / xk.x_k)) + 1e-9, 6) AS hill_mean,
           round(1.0 / avg(ln(t.value / xk.x_k)) + 1e-9, 6) AS tail_alpha
    FROM topk t JOIN xk USING (event_type)
    WHERE t.rk < {HILL_K}
    GROUP BY 1
    """,
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, k_used, x_k, hill_mean, tail_alpha): Hill
    estimator over the top-100 values per type (events values are
    strictly positive in this corpus; a crawl deployment filters
    value > 0 first). Scale shape: the per-type top-k collapses via
    WindowGroupLimit (per-partition heaps before the rank), so the
    window sort never materializes the full fact; everything after
    runs on k rows per type."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    topk = e.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= HILL_K
    )
    t = Window.partitionBy("event_type")
    withxk = topk.withColumn(
        "x_k", F.max(F.when(F.col("rk") == HILL_K, F.col("value"))).over(t)
    ).filter(F.col("rk") < HILL_K)
    lnterm = F.log(F.col("value") / F.col("x_k"))
    return withxk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.round(F.max("x_k") + F.lit(1e-9), 6).alias("x_k"),
        F.round(F.avg(lnterm) + F.lit(1e-9), 6).alias("hill_mean"),
        F.round(F.lit(1.0) / F.avg(lnterm) + F.lit(1e-9), 6).alias(
            "tail_alpha"
        ),
    )


# --------------------------------------------------------------------------
# Quantile treatment effect: the DISTRIBUTIONAL A/B readout —
# events_did_readout gives the mean effect; this gives the effect at
# every decile (a treatment that helps the median but hurts the tail
# is invisible to means). Same deterministic hash coin; both arms'
# decile vectors come from ONE aggregation pass via FILTERed
# percentile aggregates (no self-join of an aggregated frame — the
# gotcha-#14 non-reuse class avoided by construction). Spark
# `percentile` == DuckDB `quantile_cont` bit-exact on identical
# inputs, so qte subtracts identical doubles.
QTE_DECILES = [round(0.1 * k, 1) for k in range(1, 10)]


@register(
    "events_quantile_treatment_effect",
    tags=("events", "abtest", "percentile", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT event_type, value,
             (user_id * {KNUTH}) % {MOD_2_32} % 2 AS treat
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE treat = 1) AS BIGINT) AS n_treat,
             CAST(count(*) FILTER (WHERE treat = 0) AS BIGINT) AS n_control,
             quantile_cont(value, {QTE_DECILES}) FILTER (WHERE treat = 1)
               AS qt,
             quantile_cont(value, {QTE_DECILES}) FILTER (WHERE treat = 0)
               AS qc
      FROM e GROUP BY 1
    )
    SELECT event_type,
           CAST(t.k + 1 AS BIGINT) AS decile,
           n_treat, n_control,
           round(qt[t.k + 1] + 1e-9, 6) + 0.0 AS q_treat,
           round(qc[t.k + 1] + 1e-9, 6) + 0.0 AS q_control,
           round(qt[t.k + 1] - qc[t.k + 1] + 1e-9, 6) + 0.0 AS qte
    FROM g, range(9) t(k)
    """,
)
def events_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, decile, n_treat, n_control, q_treat, q_control,
    qte): per-decile treated-minus-control value quantiles.
    Determinism: identical interpolated percentiles (see header), the
    subtraction runs on those identical doubles, rounds carry bias +
    signed-zero guards. Scale shape: ONE partial-aggregated fact scan
    (two filtered percentile sketches per type); the decile explode
    runs on |types| rows."""
    qs = "array(" + ",".join(str(q) for q in QTE_DECILES) + ")"
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        knuth_bucket("user_id", 2).alias(
            "treat"
        ),
    )
    g = e.groupBy("event_type").agg(
        F.expr("count(*) FILTER (WHERE treat = 1)")
        .cast("bigint")
        .alias("n_treat"),
        F.expr("count(*) FILTER (WHERE treat = 0)")
        .cast("bigint")
        .alias("n_control"),
        F.expr(f"percentile(value, {qs}) FILTER (WHERE treat = 1)").alias(
            "qt"
        ),
        F.expr(f"percentile(value, {qs}) FILTER (WHERE treat = 0)").alias(
            "qc"
        ),
    )
    x = g.select(
        "event_type",
        "n_treat",
        "n_control",
        F.posexplode(F.arrays_zip("qt", "qc")).alias("pos", "z"),
    )
    return x.select(
        "event_type",
        (F.col("pos") + 1).cast("bigint").alias("decile"),
        "n_treat",
        "n_control",
        (F.round(F.col("z.qt") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
            "q_treat"
        ),
        (F.round(F.col("z.qc") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
            "q_control"
        ),
        (
            F.round(F.col("z.qt") - F.col("z.qc") + F.lit(1e-9), 6)
            + F.lit(0.0)
        ).alias("qte"),
    )


# --------------------------------------------------------------------------
# Weekday x hour activity heatmap: the calendar-grid load profile
# behind capacity planning and anomaly triage (hourly_seasonality
# gives the hour axis, daily_peaks the day axis; this is the joint
# grid). DIALECT-FREE day-of-week: (epoch_day + 3) % 7 (1970-01-01
# was a Thursday -> 0=Monday) — Spark dayofweek() is 1=Sunday while
# DuckDB dayofweek() is 0=Sunday, so NEITHER engine-native function
# appears anywhere; pure integer arithmetic on both sides.
@register(
    "events_weekday_hour_heatmap",
    tags=("events", "calendar", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT ({DAY_SQL} + 3) % 7 AS dow,
             (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour
      FROM events
    ),
    g AS (
      SELECT dow, hour, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2
    )
    SELECT dow, hour, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY dow) + 1e-9, 6) AS dow_share,
           round(CAST(n AS DOUBLE) / sum(n) OVER () + 1e-9, 6)
             AS corpus_share
    FROM g
    """,
)
def events_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dow, hour, n, dow_share, corpus_share): 7x24 activity grid,
    0=Monday. Determinism: integer div/mod bucketing, shares are
    single divisions of exact integers. Scale shape: one partial
    aggregation of the fact to <=168 rows; the share windows run on
    that bounded grid (the grouped-frame-global-window rule)."""
    e = load_table(spark, sf_dir, "events").select(
        ((utc_day() + 3) % 7).alias("dow"),
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hour"),
    )
    g = e.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wd = Window.partitionBy("dow")
    wall = Window.partitionBy()
    return g.select(
        "dow",
        "hour",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wd) + F.lit(1e-9), 6
        ).alias("dow_share"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wall) + F.lit(1e-9),
            6,
        ).alias("corpus_share"),
    )


# --------------------------------------------------------------------------
# User-base growth curve: per day, new users (first-ever appearance),
# cumulative users to date, and actives — the north-star adoption
# readout (DAU/WAU measures a sliding window; this measures the
# irreversible frontier). All integers: first-appearance day per
# user, a day-keyed count, and a running sum over the calendar frame.
@register(
    "events_user_growth_curve",
    tags=("events", "growth", "window", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             {DAY_SQL} AS day
      FROM events
    ),
    act AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM e GROUP BY 1
    ),
    fst AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1),
    nw AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM fst GROUP BY 1
    )
    SELECT act.day, act.n_events, act.n_active,
           CAST(coalesce(nw.n_new, 0) AS BIGINT) AS n_new_users,
           CAST(sum(coalesce(nw.n_new, 0)) OVER (
             ORDER BY act.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_cum_users,
           round(CAST(coalesce(nw.n_new, 0) AS DOUBLE) / act.n_active
                 + 1e-9, 6) AS new_share_of_active
    FROM act LEFT JOIN nw ON nw.day = act.day
    """,
)
def events_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_events, n_active, n_new_users, n_cum_users,
    new_share_of_active): daily adoption frontier. Determinism: all
    counts exact integers on a unique day axis. Scale shape: one
    user-keyed partial agg (first day) and one day-keyed agg with a
    partial-distinct; both collapse to calendar-sized frames where
    the join + running window run — the cumulative never touches the
    fact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", utc_day().alias("day")
    )
    act = e.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_active"),
    )
    nw = (
        e.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    j = act.join(nw, "day", "left").withColumn(
        "n_new_users", F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "day",
        "n_events",
        "n_active",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("bigint").alias("n_cum_users"),
        F.round(
            F.col("n_new_users").cast("double") / F.col("n_active")
            + F.lit(1e-9),
            6,
        ).alias("new_share_of_active"),
    )


# --------------------------------------------------------------------------
# windowFunnel: the max funnel depth each user reaches with ALL steps
# inside one WINDOW_FUNNEL_HOURS span anchored at the view — the
# ClickHouse windowFunnel(window)(...) semantics, distinct from
# funnel_view_click_purchase (which is unbounded-lifetime) and
# funnel_time_to_convert (which measures latency). Depth flags are
# EXISTS over anchor joins with the time bound as a RESIDUAL
# predicate (the proven funnel_time_to_convert shape), so every count
# is an exact integer and ties are irrelevant.
WINDOW_FUNNEL_HOURS = 24


@register(
    "events_window_funnel",
    tags=("events", "funnel", "window-funnel", "join"),
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM e),
    d1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    d2 AS (
      SELECT DISTINCT v.user_id
      FROM e v JOIN e c ON c.user_id = v.user_id
      WHERE v.event_type = 'view' AND c.event_type = 'click'
        AND c.us > v.us
        AND c.us <= v.us + {WINDOW_FUNNEL_HOURS} * 3600000000
    ),
    d3 AS (
      SELECT DISTINCT v.user_id
      FROM e v
      JOIN e c ON c.user_id = v.user_id
      JOIN e p ON p.user_id = v.user_id
      WHERE v.event_type = 'view' AND c.event_type = 'click'
        AND p.event_type = 'purchase'
        AND c.us > v.us
        AND c.us <= v.us + {WINDOW_FUNNEL_HOURS} * 3600000000
        AND p.us > c.us
        AND p.us <= v.us + {WINDOW_FUNNEL_HOURS} * 3600000000
    ),
    depth AS (
      SELECT u.user_id,
             CASE WHEN d3.user_id IS NOT NULL THEN 3
                  WHEN d2.user_id IS NOT NULL THEN 2
                  WHEN d1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM users u
      LEFT JOIN d1 ON d1.user_id = u.user_id
      LEFT JOIN d2 ON d2.user_id = u.user_id
      LEFT JOIN d3 ON d3.user_id = u.user_id
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM users) + 1e-9, 6) AS user_share
    FROM depth GROUP BY 1
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(depth, n_users, user_share): users by the deepest
    view->click->purchase chain completed inside one 24h window.
    Scale shape: the step joins are USER-keyed equi joins with the
    time bounds as residual predicates (never time-range join keys —
    the funnel_time_to_convert rule); per-user fan-out is bounded by
    events/user. The d2 subtree is a prefix of d3's, and the depth
    classification folds via MAX over per-user flags — one exchange
    family on user_id end-to-end."""
    W = WINDOW_FUNNEL_HOURS * 3600000000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("us").alias("v_us")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), F.col("us").alias("c_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u3"), F.col("us").alias("p_us")
    )
    vc = v.join(
        c,
        (F.col("u") == F.col("u2"))
        & (F.col("c_us") > F.col("v_us"))
        & (F.col("c_us") <= F.col("v_us") + F.lit(W)),
    )
    d2 = vc.select(F.col("u").alias("user_id")).distinct().withColumn(
        "f2", F.lit(1)
    )
    vcp = vc.join(
        p,
        (F.col("u") == F.col("u3"))
        & (F.col("p_us") > F.col("c_us"))
        & (F.col("p_us") <= F.col("v_us") + F.lit(W)),
    )
    d3 = vcp.select(F.col("u").alias("user_id")).distinct().withColumn(
        "f3", F.lit(1)
    )
    d1 = v.select(F.col("u").alias("user_id")).distinct().withColumn(
        "f1", F.lit(1)
    )
    users = e.select("user_id").distinct()
    depth = (
        users.join(d1, "user_id", "left")
        .join(d2, "user_id", "left")
        .join(d3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("f3").isNotNull(), 3)
            .when(F.col("f2").isNotNull(), 2)
            .when(F.col("f1").isNotNull(), 1)
            .otherwise(0)
            .alias("depth"),
        )
    )
    tot = users.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "depth",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("n_all")
                + F.lit(1e-9),
                6,
            ).alias("user_share"),
        )
    )


# --------------------------------------------------------------------------
# SLO error-budget burn rate with multi-window alerting: per hour,
# the 'error' share of events vs a 99% availability SLO, plus the
# trailing-6h burn — and the classic SRE page condition (fast burn
# 14.4x AND slow burn 6x, both windows over budget). All counts are
# integers; rates and burns are single divisions of exact integers;
# the alert compares identical doubles against Python-literal
# thresholds on both engines.
SLO_TARGET_MILLI = 990  # 99.0% availability
SLO_FAST_BURN = 14.4
SLO_SLOW_BURN = 6.0


@register(
    "events_slo_burn_rate",
    tags=("events", "slo", "sre", "window"),
    oracle=f"""
    WITH h AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT hour, n, n_err,
             CAST(sum(n) OVER w AS BIGINT) AS n6,
             CAST(sum(n_err) OVER w AS BIGINT) AS n_err6
      FROM h
      WINDOW w AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT hour, n, n_err,
           round(CAST(n_err AS DOUBLE) / n
                 / ((1000 - {SLO_TARGET_MILLI}) / 1000.0) + 1e-9, 6)
             AS burn_1h,
           round(CAST(n_err6 AS DOUBLE) / n6
                 / ((1000 - {SLO_TARGET_MILLI}) / 1000.0) + 1e-9, 6)
             AS burn_6h,
           CAST(
             (CAST(n_err AS DOUBLE) / n
              / ((1000 - {SLO_TARGET_MILLI}) / 1000.0) > {SLO_FAST_BURN})
             AND
             (CAST(n_err6 AS DOUBLE) / n6
              / ((1000 - {SLO_TARGET_MILLI}) / 1000.0) > {SLO_SLOW_BURN})
             AS BOOLEAN) AS page
    FROM r
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour, n, n_err, burn_1h, burn_6h, page): error-budget burn
    per hour with the multi-window page condition. Determinism:
    integer hour buckets and counts; burns are exact-integer
    divisions by a literal budget; the page comparison pits identical
    doubles against Python literals interpolated into both engines.
    Scale shape: the fact partial-aggregates to one row per hour; the
    rolling window and alert logic run on the calendar frame."""
    budget = (1000 - SLO_TARGET_MILLI) / 1000.0
    e = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 3600000000").alias("hour"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    )
    h = e.groupBy("hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_err").cast("bigint").alias("n_err"),
    )
    w = Window.orderBy("hour").rowsBetween(-5, 0)
    r = h.select(
        "hour",
        "n",
        "n_err",
        F.sum("n").over(w).cast("bigint").alias("n6"),
        F.sum("n_err").over(w).cast("bigint").alias("n_err6"),
    )
    burn1 = F.col("n_err").cast("double") / F.col("n") / F.lit(budget)
    burn6 = F.col("n_err6").cast("double") / F.col("n6") / F.lit(budget)
    return r.select(
        "hour",
        "n",
        "n_err",
        F.round(burn1 + F.lit(1e-9), 6).alias("burn_1h"),
        F.round(burn6 + F.lit(1e-9), 6).alias("burn_6h"),
        ((burn1 > F.lit(SLO_FAST_BURN)) & (burn6 > F.lit(SLO_SLOW_BURN))).alias(
            "page"
        ),
    )


# --------------------------------------------------------------------------
# Growth accounting (the "quick ratio" ledger): per day, users split
# into NEW (first-ever day), RETAINED (also active the previous
# day), RESURRECTED (returning after a gap), and the previous day's
# CHURNED (active yesterday, silent today) — the decomposition every
# growth team reads alongside the raw DAU curve
# (events_user_growth_curve gives the frontier; this explains each
# day's composition). All exact integers from one (user, day)
# distinct frame: lag(day) per user classifies NEW/RETAINED/
# RESURRECTED; churn counts come from the same frame keyed on
# day + 1.
@register(
    "events_lifecycle_stages",
    tags=("events", "growth", "lifecycle", "window"),
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             {DAY_SQL} AS day
      FROM events
    ),
    c AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
      FROM ud
    ),
    stage AS (
      SELECT day,
             CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM c GROUP BY 1
    ),
    churn AS (
      SELECT a.day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
      FROM ud a
      LEFT JOIN ud b ON b.user_id = a.user_id AND b.day = a.day + 1
      WHERE b.user_id IS NULL
      GROUP BY 1
    )
    SELECT s.day, s.n_new, s.n_retained, s.n_resurrected,
           CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned_from_prev,
           round(CAST(s.n_new + s.n_resurrected AS DOUBLE)
                 / greatest(coalesce(ch.n_churned, 0), 1) + 1e-9, 6)
             AS quick_ratio
    FROM stage s LEFT JOIN churn ch ON ch.day = s.day
    """,
)
def events_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_new, n_retained, n_resurrected, n_churned_from_prev,
    quick_ratio): daily growth-accounting ledger; quick_ratio =
    (new + resurrected) / max(churned, 1). Determinism: exact
    integers on a unique (user, day) frame. Scale shape: ONE
    user-keyed window sort classifies every stage; the distinct
    (user, day) frame is EAGER-CHECKPOINTED because its three
    consumers' keys differ (the churn side joins on day+1 — the
    arithmetic breaks subtree identity, so exchange reuse can never
    fire; verified on the executed plan, gotcha #9/#14); final aggs
    land on calendar frames."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", utc_day().alias("day")
    )
    # The distinct (user, day) frame feeds THREE consumers (the stage
    # window and both churn anti-join sides) whose keys differ (the
    # day+1 arithmetic breaks subtree identity, so exchange reuse
    # can never fire — verified on the executed plan). Sibling
    # consumers + no reuse = eager checkpoint (gotcha #9): one fact
    # scan total, the aggregated frame is tiny relative to the fact.
    ud = e.distinct().localCheckpoint(eager=True)
    w = Window.partitionBy("user_id").orderBy("day")
    c = ud.withColumn("prev_day", F.lag("day").over(w))
    stage = c.groupBy("day").agg(
        F.sum(F.when(F.col("prev_day").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_day") == F.col("day") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_day").isNotNull()
                & (F.col("prev_day") < F.col("day") - 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    a = ud.select("user_id", F.col("day").alias("d_a"))
    b = ud.select(
        F.col("user_id").alias("uid2"), F.col("day").alias("d_b")
    )
    churn = (
        a.join(
            b,
            (F.col("uid2") == F.col("user_id"))
            & (F.col("d_b") == F.col("d_a") + 1),
            "left_anti",
        )
        .groupBy((F.col("d_a") + 1).alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    j = stage.join(churn, "day", "left").withColumn(
        "n_churned_from_prev",
        F.coalesce(F.col("n_churned"), F.lit(0)).cast("bigint"),
    )
    return j.select(
        "day",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_churned_from_prev",
        F.round(
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / F.greatest(F.col("n_churned_from_prev"), F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("quick_ratio"),
    )


# --------------------------------------------------------------------------
# Peak session concurrency: how many sessions are open at once — the
# interval sweep-line (room-occupancy) analytic, here over the shared
# gap-sessionization intervals. Endpoints: +1 at start_us, -1 at
# end_us + 1 (end-inclusive sessions); the running sum over the
# UNIQUE total order (us, delta, user_id, session_no) counts exact
# concurrency after every arrival; the per-day peak takes the max
# over arrival rows. The sweep runs over the SESSIONS frame
# (aggregated, far smaller than the fact) and the running sum uses
# the two-pass range-partition + broadcast-offsets pattern
# (functions/scale.py::two_pass_cumsum — integer +1/-1 deltas, so
# the offset split is exact; never a single-partition sort). The
# boundary carry-in counts of the day-partitioned escalation
# (SCALING §Skew) are exactly what the broadcast offsets compute.
@register(
    "events_peak_concurrency",
    tags=("events", "sessionization", "sweep-line", "window"),
    oracle=_SESSION_AGG_CTE
    + f"""
    , pts AS (
      SELECT user_id, session_no, start_us AS us, 1 AS delta FROM sess_agg
      UNION ALL
      SELECT user_id, session_no, end_us + 1 AS us, -1 AS delta FROM sess_agg
    ),
    sweep AS (
      SELECT us, delta,
             CAST(sum(delta) OVER (
               ORDER BY us, delta, user_id, session_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS open_now
      FROM pts
    )
    SELECT us // 86400000000 AS day,
           CAST(max(open_now) AS BIGINT) AS peak_concurrency,
           CAST(count(*) AS BIGINT) AS n_sessions_started
    FROM sweep WHERE delta = 1 GROUP BY 1
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, peak_concurrency, n_sessions_started): daily maximum of
    simultaneously-open sessions (peak measured at arrivals, which is
    where maxima occur). Determinism: integer endpoints on a unique
    total order — ends (-1) sort before starts (+1) at equal us, so
    back-to-back sessions never double-count. Scale shape: header
    note."""
    sess = _session_aggs(spark, sf_dir)
    pts = sess.select(
        "user_id",
        "session_no",
        F.col("start_us").alias("us"),
        F.lit(1).alias("delta"),
    ).unionAll(
        sess.select(
            "user_id",
            "session_no",
            (F.col("end_us") + 1).alias("us"),
            F.lit(-1).alias("delta"),
        )
    )
    sweep = two_pass_cumsum(
        pts, ["us", "delta", "user_id", "session_no"], "delta", "open_now"
    ).withColumn("open_now", F.col("open_now").cast("bigint"))
    return (
        sweep.filter(F.col("delta") == 1)
        .groupBy(F.expr("us div 86400000000").alias("day"))
        .agg(
            F.max("open_now").cast("bigint").alias("peak_concurrency"),
            F.count(F.lit(1)).cast("bigint").alias("n_sessions_started"),
        )
    )


# --------------------------------------------------------------------------
# Inter-arrival gap spectrum: per event type, the distribution of
# gaps between consecutive events on a LOG2 axis — the traffic-shape
# readout behind rate-limiter sizing and burst modeling (Poisson
# traffic is one straight band; bot bursts pile into the short
# buckets). The bucket is the BIT LENGTH of the exact integer
# microsecond gap (length(bin(gap)) on both engines) — no float log
# whose ulp could flip a power-of-two boundary gap.
@register(
    "events_interarrival_histogram",
    tags=("events", "interarrival", "histogram", "window"),
    oracle="""
    WITH s AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ),
    g AS (
      SELECT event_type,
             us - lag(us) OVER (
               PARTITION BY event_type ORDER BY us, event_id
             ) AS gap
      FROM s
    )
    SELECT event_type,
           CAST(length(bin(gap)) AS BIGINT) AS gap_bits,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap) AS BIGINT) AS min_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, gap_bits, n_gaps, min_gap_us, max_gap_us):
    log2-bucketed inter-arrival histogram per type (gap_bits =
    bit length of the microsecond gap; bucket k holds gaps in
    [2^(k-1), 2^k)). Determinism: gaps are exact integer micro
    differences over the unique (us, event_id) per-type order;
    equal-us pairs give gap 0 (bucket 1 — bin(0) = '0' on both
    engines); min/max/count are order-free integers. Scale shape:
    ONE type-keyed window sort (the sequence-op shape), then a
    partial-aggregated groupBy on |types| x ~40 buckets."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    g = (
        e.select(
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
        )
        .withColumn("gap", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap").isNotNull())
    )
    return g.groupBy(
        "event_type",
        F.length(F.bin("gap")).cast("bigint").alias("gap_bits"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap").cast("bigint").alias("min_gap_us"),
        F.max("gap").cast("bigint").alias("max_gap_us"),
    )


# --------------------------------------------------------------------------
# Additive seasonal decomposition of daily volume: trend = 7-day
# centered moving average over interior days (full-window + span
# guard, the orders_seasonal_index discipline), weekday seasonal =
# mean detrended deviation per day-of-week. The classical STL-lite
# a capacity planner runs on traffic counts. Weekday is the
# dialect-free (epoch_day + 3) % 7 (0 = Monday) — Spark dayofweek()
# and DuckDB's disagree on the week origin (gotcha, r9 heatmap).
@register(
    "events_seasonal_decompose",
    tags=("events", "timeseries", "seasonality", "window"),
    oracle=f"""
    WITH d AS (
      SELECT {DAY_SQL} AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, n,
             sum(n) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
             count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n_win,
             max(day) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               - min(day) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS span
      FROM d
    ),
    i AS (
      SELECT (day + 3) % 7 AS weekday, n,
             CAST(s7 AS DOUBLE) / 7 AS trend
      FROM w WHERE n_win = 7 AND span = 6
    )
    SELECT CAST(weekday AS BIGINT) AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(CAST(n AS DOUBLE)) + 1e-9, 4) AS mean_daily,
           round(avg(n - trend) + 1e-9, 4) + 0.0 AS seasonal
    FROM i GROUP BY 1
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(weekday, n_days, mean_daily, seasonal): mean detrended
    deviation per day-of-week over interior days (those with a full
    7-day window spanning exactly 6 day-indexes — edge days AND any
    gap-adjacent day are excluded, no partial-window bias).
    Determinism: daily counts are integers; trend = integer-sum / 7
    is the identical correctly-rounded double; detrended values are
    identical doubles, so only the per-weekday mean's summation
    order diverges (+1e-9 bias; seasonal can be near-zero negative →
    signed-zero `+ 0.0`, gotcha #3). Scale shape: one fact collapse
    to the CALENDAR-bounded daily frame (31 rows/month, ~3650 for a
    decade — bounded by time, not data, so the global day-ordered
    window never grows with the corpus); two tiny aggs after."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        utc_day().alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wspec = Window.orderBy("day").rowsBetween(-3, 3)
    w = d.select(
        "day",
        "n",
        F.sum("n").over(wspec).alias("s7"),
        F.count(F.lit(1)).over(wspec).alias("n_win"),
        (F.max("day").over(wspec) - F.min("day").over(wspec)).alias("span"),
    )
    i = w.filter((F.col("n_win") == 7) & (F.col("span") == 6)).select(
        ((F.col("day") + 3) % 7).alias("weekday"),
        "n",
        (F.col("s7").cast("double") / 7).alias("trend"),
    )
    return i.groupBy(F.col("weekday").cast("bigint").alias("weekday")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg(F.col("n").cast("double")) + F.lit(1e-9), 4).alias(
            "mean_daily"
        ),
        (
            F.round(
                F.avg(F.col("n") - F.col("trend")) + F.lit(1e-9), 4
            )
            + F.lit(0.0)
        ).alias("seasonal"),
    )


# --------------------------------------------------------------------------
# A/B power analysis: the experiment-DESIGN table computed before any
# test runs — per metric (event type), the per-arm sample size needed
# to detect a POWER_MDE_REL relative lift in mean value at two-sided
# alpha=0.05 with 80% power. The natural companion readout to
# events_ab_test_zscore (which evaluates a test after the fact).
# z constants interpolated as CAST(... AS DOUBLE) python literals on
# both engines (the benford rule: bare decimal literals parse as
# DECIMAL in DuckDB and poison the arithmetic with decimal ops).
POWER_Z_ALPHA = 1.959963984540054  # Phi^-1(0.975)
POWER_Z_BETA = 0.8416212335729143  # Phi^-1(0.80)
POWER_MDE_REL = 0.05


@register(
    "events_power_analysis",
    tags=("events", "stats", "experiment", "design", "aggregate"),
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum({CENTS_SQL}) AS BIGINT) AS s1,
             CAST(sum({CENTS_SQL}
                      * {CENTS_SQL}) AS BIGINT) AS s2
      FROM events GROUP BY 1
    )
    SELECT event_type, n_events,
           round(CAST(s1 AS DOUBLE) / n_events / 100 + 1e-9, 6) AS mean_value,
           round(greatest(CAST(s2 AS DOUBLE) / n_events
                          - (CAST(s1 AS DOUBLE) / n_events)
                            * (CAST(s1 AS DOUBLE) / n_events), 0.0) / 10000
                 + 1e-9, 4) AS var_value,
           round(CAST({POWER_MDE_REL} AS DOUBLE)
                 * (CAST(s1 AS DOUBLE) / n_events / 100) + 1e-9, 6) AS mde_abs,
           CASE WHEN s1 = 0 THEN NULL ELSE CAST(ceil(
             2.0 * (CAST({POWER_Z_ALPHA} AS DOUBLE)
                    + CAST({POWER_Z_BETA} AS DOUBLE))
                 * (CAST({POWER_Z_ALPHA} AS DOUBLE)
                    + CAST({POWER_Z_BETA} AS DOUBLE))
                 * (greatest(CAST(s2 AS DOUBLE) / n_events
                             - (CAST(s1 AS DOUBLE) / n_events)
                               * (CAST(s1 AS DOUBLE) / n_events), 0.0) / 10000)
                 / ((CAST({POWER_MDE_REL} AS DOUBLE)
                     * (CAST(s1 AS DOUBLE) / n_events / 100))
                    * (CAST({POWER_MDE_REL} AS DOUBLE)
                       * (CAST(s1 AS DOUBLE) / n_events / 100)))
           ) AS BIGINT) END AS n_per_arm
    FROM m
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, mean_value, var_value, mde_abs,
    n_per_arm): two-sample z-test sample-size table — n per arm =
    2(z_a+z_b)^2 * sigma^2 / delta^2 with delta = POWER_MDE_REL *
    mean, from the observed per-type value distribution.

    Determinism: value is 2dp money, so moments are EXACT integer
    cent sums (never engine-native stddev — Welford vs naive differ,
    gotcha r8); mean/variance are identical IEEE op trees over those
    integers, so even the ceil() boundary is bit-identical
    cross-engine (the Wilson discipline) — no tolerance anywhere.
    Degenerate guard (ADVICE r11): an all-zero-value event type makes
    mean=0 so delta=0 and n_per_arm is 0/0 or x/0 — ceil(NaN/Inf)
    cast to BIGINT raises under Spark ANSI and errors in DuckDB; the
    design size is undefined at zero effect, so n_per_arm is NULL
    when s1 = 0 (an exact INTEGER test — delta = MDE*s1/n/100 is
    zero iff s1 is) on both engines, mirroring the neyman wtot=0
    guard. Scale shape: ONE partial-aggregated fact collapse to
    |types| rows; all design arithmetic runs on that tiny frame."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    c = cents()
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(c).cast("bigint").alias("s1"),
        F.sum(c * c).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_events") / 100
    var = (
        F.greatest(
            F.col("s2").cast("double") / F.col("n_events")
            - (F.col("s1").cast("double") / F.col("n_events"))
            * (F.col("s1").cast("double") / F.col("n_events")),
            F.lit(0.0),
        )
        / 10000
    )
    delta = F.lit(POWER_MDE_REL) * mean
    zsum = F.lit(POWER_Z_ALPHA) + F.lit(POWER_Z_BETA)
    return m.select(
        "event_type",
        "n_events",
        F.round(mean + F.lit(1e-9), 6).alias("mean_value"),
        F.round(var + F.lit(1e-9), 4).alias("var_value"),
        F.round(delta + F.lit(1e-9), 6).alias("mde_abs"),
        F.when(F.col("s1") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.ceil(F.lit(2.0) * zsum * zsum * var / (delta * delta)).cast(
                "bigint"
            )
        )
        .alias("n_per_arm"),
    )


# --------------------------------------------------------------------------
# Monthly price indices over lineitem: Laspeyres (base-month basket),
# Paasche (current-month basket) and Fisher (geometric mean) vs the
# first shipping month, over parts present in BOTH months — the
# standard matched-basket inflation readout of a transactional fact.
@register(
    "lineitem_price_index",
    tags=("lineitem", "economics", "price-index", "aggregate"),
    oracle="""
    WITH pm AS (
      SELECT l_partkey AS pk, strftime(l_shipdate, '%Y-%m') AS month,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    b AS (
      SELECT pk, cents AS b_cents, qty AS b_qty FROM pm
      WHERE month = (SELECT min(month) FROM pm)
    ),
    j AS (
      SELECT pm.month,
             CAST(pm.cents AS DOUBLE) / pm.qty AS u_m,
             CAST(b.b_cents AS DOUBLE) / b.b_qty AS u_b,
             pm.qty AS q_m, b.b_qty AS q_b
      FROM pm JOIN b USING (pk)
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_matched_parts,
           round(sum(u_m * q_b) / sum(u_b * q_b) + 1e-9, 6) AS laspeyres,
           round(sum(u_m * q_m) / sum(u_b * q_m) + 1e-9, 6) AS paasche,
           round(sqrt((sum(u_m * q_b) / sum(u_b * q_b))
                      * (sum(u_m * q_m) / sum(u_b * q_m))) + 1e-9, 6)
             AS fisher
    FROM j GROUP BY month
    """,
)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, n_matched_parts, laspeyres, paasche, fisher): matched-
    part monthly price indices vs the first shipping month. Unit
    prices are cents/qty over EXACT integer sums (identical doubles
    cross-engine); only the per-month basket sums are order-divergent
    and they feed a ~O(1) ratio, so +1e-9 after a 6dp round covers
    the ulp noise (gotcha #3's magnitude rule: the rounded quantity
    is the ratio, not the 1e10-scale sums).

    Scale shape: one fact collapse to the (part, month) aggregate —
    eager-checkpointed because the base-month branch and the
    all-months branch are differently-filtered SIBLINGS of one
    aggregate feeding one join (the no-reuse shape, gotcha #14); the
    join is part-keyed equi; the index fold partial-aggregates to
    |months| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    pm = li.groupBy("pk", "month").agg(
        F.sum("c").cast("bigint").alias("cents"),
        F.sum("q").cast("bigint").alias("qty"),
    )
    pm = pm.localCheckpoint(eager=True)
    base_month = pm.agg(F.min("month").alias("bm"))
    b = (
        pm.crossJoin(F.broadcast(base_month))
        .filter(F.col("month") == F.col("bm"))
        .select(
            "pk",
            F.col("cents").alias("b_cents"),
            F.col("qty").alias("b_qty"),
        )
    )
    j = pm.join(b, "pk").select(
        "month",
        (F.col("cents").cast("double") / F.col("qty")).alias("u_m"),
        (F.col("b_cents").cast("double") / F.col("b_qty")).alias("u_b"),
        F.col("qty").alias("q_m"),
        F.col("b_qty").alias("q_b"),
    )
    lasp = F.sum(F.col("u_m") * F.col("q_b")) / F.sum(F.col("u_b") * F.col("q_b"))
    paas = F.sum(F.col("u_m") * F.col("q_m")) / F.sum(F.col("u_b") * F.col("q_m"))
    return j.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched_parts"),
        F.round(lasp + F.lit(1e-9), 6).alias("laspeyres"),
        F.round(paas + F.lit(1e-9), 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas) + F.lit(1e-9), 6).alias("fisher"),
    )


# --------------------------------------------------------------------------
# Markov entropy rate: how predictable is the NEXT event given the
# current one — per-state conditional entropy H(next|s) weighted by
# the empirical state share. The information-theoretic companion to
# events_markov_transitions / events_next_event_accuracy: entropy
# near 0 = deterministic flows, near ln(|types|) = uniform churn.
@register(
    "events_markov_entropy_rate",
    tags=("events", "markov", "entropy", "sequence", "window"),
    oracle=f"""
    WITH {_TRANSITIONS_SQL},
    s AS (
      SELECT from_type,
             CAST(sum(n_trans) AS BIGINT) AS n_out,
             CAST(count(*) AS BIGINT) AS n_next_types,
             sum(CAST(n_trans AS DOUBLE) * ln(CAST(n_trans AS DOUBLE))) AS sclnc
      FROM t GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_out) AS BIGINT) AS nn FROM s)
    SELECT from_type, n_out, n_next_types,
           round(ln(CAST(n_out AS DOUBLE)) - sclnc / n_out + 1e-9, 6)
             + 0.0 AS cond_entropy,
           round(CAST(n_out AS DOUBLE) / tot.nn + 1e-9, 6) AS state_share,
           round((CAST(n_out AS DOUBLE) / tot.nn)
                 * (ln(CAST(n_out AS DOUBLE)) - sclnc / n_out) + 1e-9, 6)
             + 0.0 AS rate_contribution
    FROM s CROSS JOIN tot
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, n_out, n_next_types, cond_entropy, state_share,
    rate_contribution): per-state conditional entropy of the
    first-order event-type Markov chain (nats) and its share-weighted
    contribution to the chain entropy rate.

    Determinism: the (ts, event_id) composite makes lead()
    tie-deterministic (markov_transitions discipline); counts are
    exact integers and H = ln(n) - sum(c ln c)/n (the token_entropy
    trick) — the one order-divergent sum is divided by n_out, which
    shrinks ulp divergence ~n·ulp(sum)/n far below the +1e-9 bias;
    near-zero entropies get +0.0 (signed-zero rule). Scale shape:
    _transitions, then the rest runs on that tiny frame with a
    broadcast scalar total."""
    c = F.col("n_trans").cast("double")
    s = _transitions(spark, sf_dir).groupBy("from_type").agg(
        F.sum("n_trans").cast("bigint").alias("n_out"),
        F.count(F.lit(1)).cast("bigint").alias("n_next_types"),
        F.sum(c * F.log(c)).alias("sclnc"),
    )
    tot = s.agg(F.sum("n_out").cast("bigint").alias("nn"))
    h = F.log(F.col("n_out").cast("double")) - F.col("sclnc") / F.col("n_out")
    share = F.col("n_out").cast("double") / F.col("nn")
    return s.crossJoin(F.broadcast(tot)).select(
        "from_type",
        "n_out",
        "n_next_types",
        (F.round(h + F.lit(1e-9), 6) + F.lit(0.0)).alias("cond_entropy"),
        F.round(share + F.lit(1e-9), 6).alias("state_share"),
        (F.round(share * h + F.lit(1e-9), 6) + F.lit(0.0)).alias(
            "rate_contribution"
        ),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) between the two deterministic
# hash-assigned user arms, per event type — the NONPARAMETRIC
# companion to events_ab_test_zscore's proportion z and the QTE
# percentile readout: rank-based, so heavy tails and outliers cannot
# swamp the comparison. On an A/A hash split the z should sit within
# +-3 and the AUC (common-language effect size U/(n0*n1)) near 0.5.
#
# Scale shape: the ranks are NEVER computed per event. The fact
# collapses to the per-(type, cents) VALUE HISTOGRAM first (2dp money
# -> at most range*100 cells per type, volume-INDEPENDENT), the
# tie-averaged rank comes from a window over that bounded histogram
# (partitioned by type — no single-partition fact sort), and the
# U/tie statistics are one more partial-aggregated collapse.
# Determinism: 2*avg_rank = 2*cum_before + cnt + 1 is INTEGER, so the
# rank-sum and tie sums are exact on both engines (decimal(38,0) /
# HUGEINT — counts^3 would pass 2^63 for a >2.1e6-row tie group);
# the only doubles are the final auc (exact-integer quotient,
# identical both engines) and z (sqrt quotient — irrational, never on
# the 4dp grid). Degenerate guards: a one-value type has tie variance
# 0 -> z NULL via nullif; an arm with zero rows NULLs auc and z.
@register(
    "events_mann_whitney",
    tags=("events", "stats", "experiment", "nonparametric", "aggregate"),
    oracle=f"""
    WITH r AS (
      SELECT event_type,
             CAST(user_id * {KNUTH} % {MOD_2_32} % 2 AS BIGINT) AS variant,
             {CENTS_SQL} AS cents
      FROM events
    ),
    h AS (
      SELECT event_type, cents,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt1
      FROM r GROUP BY 1, 2
    ),
    k AS (
      SELECT event_type, cnt, cnt1,
             COALESCE(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM h
    ),
    a AS (
      SELECT event_type,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt1) AS BIGINT) AS n1,
             sum(CAST(cnt1 AS HUGEINT) * (2 * cb + cnt + 1)) AS r1x2,
             sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
      FROM k GROUP BY 1
    )
    SELECT event_type,
           n - n1 AS n0,
           n1,
           round(CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                      - CAST(n - n1 AS HUGEINT) * n1 AS DOUBLE)
                 / nullif(2.0 * CAST(n - n1 AS DOUBLE) * CAST(n1 AS DOUBLE),
                          0.0) + 0.5 + 1e-9, 6) AS auc,
           round(CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                      - CAST(n - n1 AS HUGEINT) * n1 AS DOUBLE)
                 / nullif(2.0 * sqrt(
                     (CAST(n - n1 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0)
                     * ((CAST(n AS DOUBLE) + 1.0)
                        - CAST(ties AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                   ), 0.0) + 1e-9, 4) + 0.0 AS z
    FROM a
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n0, n1, auc, z): Mann-Whitney U between the hash
    arms per event type. u1 = R1 - n1(n1+1)/2 with tie-averaged ranks
    (2*avg_rank per cents cell = 2*cum_before + cnt + 1, integer);
    auc = u1/(n0*n1) written as (u1x2 - n0*n1)/(2*n0*n1) + 0.5 so the
    one division happens on the SAME exact-integer numerator both
    engines; z uses the tie-corrected normal approximation
    var = n0*n1/12 * ((n+1) - sum(t^3-t)/(n(n-1))).

    Reference parity: the reference engine has no rank statistics;
    this is the §2d training-data extension surface
    (SURVEY.md §2d events/analytics family)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        knuth_bucket("user_id", 2)
        .cast("bigint")
        .alias("variant"),
        cents().alias("cents"),
    )
    h = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt1"),
    )
    w_cb = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    k = h.select(
        "event_type",
        "cnt",
        "cnt1",
        F.coalesce(F.sum("cnt").over(w_cb), F.lit(0)).alias("cb"),
    )
    dec = "decimal(38,0)"
    a = k.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum(
            F.col("cnt1").cast(dec)
            * (2 * F.col("cb") + F.col("cnt") + 1).cast(dec)
        ).alias("r1x2"),
        F.sum(
            F.col("cnt").cast(dec) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("ties"),
    )
    n = F.col("n").cast("double")
    n0 = (F.col("n") - F.col("n1")).cast("double")
    n1 = F.col("n1").cast("double")
    # u1x2 - n0*n1 == 2*U1 - n0*n1: integer-exact numerator shared by
    # auc and z so both engines divide the identical double.
    num = (
        F.col("r1x2")
        - F.col("n1").cast(dec) * (F.col("n1") + 1).cast(dec)
        - (F.col("n") - F.col("n1")).cast(dec) * F.col("n1").cast(dec)
    ).cast("double")
    var = (n0 * n1 / F.lit(12.0)) * (
        (n + F.lit(1.0))
        - F.col("ties").cast("double") / (n * (n - F.lit(1.0)))
    )
    return a.select(
        "event_type",
        (F.col("n") - F.col("n1")).alias("n0"),
        "n1",
        F.round(
            num / F.nullif(F.lit(2.0) * n0 * n1, F.lit(0.0))
            + F.lit(0.5)
            + F.lit(1e-9),
            6,
        ).alias("auc"),
        (
            F.round(
                num / F.nullif(F.lit(2.0) * F.sqrt(var), F.lit(0.0))
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# Differential-privacy noise calibration: the design table a
# training-data release pipeline reads before adding DP noise to
# per-type value sums — per (event type, epsilon) the Laplace scale
# sens/eps and the analytic-Gaussian-style sigma
# sens*sqrt(2 ln(1.25/delta))/eps, with the contribution bound taken
# as the observed per-event max (the clip a real pipeline would
# enforce upstream). The sqrt(2 ln(1.25/delta)) constant is computed
# ONCE in Python and interpolated into BOTH engines as a literal (the
# Benford rule: no cross-engine transcendental parity bets, and bare
# decimal literals parse as DECIMAL in DuckDB — every epsilon is CAST
# to DOUBLE). Scale shape: one partial-aggregated fact collapse to
# |types| rows, then a 4-literal explode; no joins, no windows.
DP_EPSILONS = (0.1, 0.5, 1.0, 2.0)
DP_DELTA = 1e-6
DP_GAUSS_CONST = 5.298802526850474  # sqrt(2*ln(1.25/1e-6)), python math


@register(
    "privacy_dp_noise_calibration",
    tags=("privacy", "differential-privacy", "design", "aggregate"),
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max({CENTS_SQL}) AS BIGINT)
               AS max_cents
      FROM events GROUP BY 1
    )
    SELECT event_type, e.epsilon, n_events,
           round(CAST(max_cents AS DOUBLE) / 100.0 + 1e-9, 2)
             AS sensitivity,
           round(CAST(max_cents AS DOUBLE) / 100.0 / e.epsilon + 1e-9, 6)
             AS laplace_b,
           round(CAST(max_cents AS DOUBLE) / 100.0
                 * CAST({DP_GAUSS_CONST!r} AS DOUBLE) / e.epsilon + 1e-9, 6)
             AS gaussian_sigma
    FROM m CROSS JOIN (
      SELECT unnest([{", ".join(f"CAST({eps!r} AS DOUBLE)" for eps in DP_EPSILONS)}])
        AS epsilon
    ) e
    """,
)
def privacy_dp_noise_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, epsilon, n_events, sensitivity, laplace_b,
    gaussian_sigma): per-(type, epsilon) DP noise scales for a
    per-type value-sum release, with sensitivity = observed max
    single-event value (the upstream clip bound). laplace_b =
    sens/eps; gaussian_sigma = sens * sqrt(2 ln(1.25/delta)) / eps at
    delta = 1e-6, the transcendental factor a shared Python literal.

    Determinism: max-cents is an exact integer; every output is a
    division of identical doubles by literal epsilons — identical op
    trees both engines. Scale shape: one fact collapse to |types|
    rows, then a literal 4-element explode (no cross join against
    data, no windows)."""
    m = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(cents()).alias(
            "max_cents"
        ),
    )
    sens = F.col("max_cents").cast("double") / F.lit(100.0)
    eps = F.col("epsilon")
    return m.select(
        "event_type",
        F.explode(
            F.array(*[F.lit(float(e)) for e in DP_EPSILONS])
        ).alias("epsilon"),
        "n_events",
        "max_cents",
    ).select(
        "event_type",
        "epsilon",
        "n_events",
        F.round(sens + F.lit(1e-9), 2).alias("sensitivity"),
        F.round(sens / eps + F.lit(1e-9), 6).alias("laplace_b"),
        F.round(
            sens * F.lit(DP_GAUSS_CONST) / eps + F.lit(1e-9), 6
        ).alias("gaussian_sigma"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier product-limit estimator of time-to-conversion: per
# user, the duration in whole days from their FIRST event to their
# first 'purchase', right-CENSORED at the corpus max timestamp for
# users who never purchase — the survival readout a growth team runs
# on activation funnels, and the censoring-aware upgrade of
# events_funnel_time_to_convert's raw percentiles (which silently
# drop never-converters). events_gap_survival is the EMPIRICAL
# survival of inter-event gaps (no censoring, band histogram); this
# is the product-limit estimator over a censored duration model.
#
# Determinism: durations are integer epoch-div days (the
# hourly_seasonality discipline); the risk set n_t = N - cum_before
# is integer window arithmetic over the bounded day histogram; the
# product-limit survival is exp(running sum of ln(1 - d_t/n_t)) where
# each factor is the ln of an identical exact-integer quotient and
# the running sum adds in identical day order on both engines, so the
# cross-engine drift is a few ulp of libm ln — the value itself is a
# product of rationals and CAN sit on a 6dp boundary, which is
# exactly what the +1e-9 pre-round bias covers (gotcha #3). A day
# where everyone at risk converts (d_t = n_t) would hit ln(0): the
# CASE pins its factor to 0 and a running max flag pins survival to
# 0.0 from that day on, both engines.
#
# Scale shape: ONE user-keyed collapse of the fact (min / conditional
# min — partial-aggregable), a 1-row corpus-max broadcast, then a day
# histogram bounded by the corpus time span; every window after that
# runs on the bounded histogram (the gap_survival precedent —
# single-partition windows over <=|days| rows are free).
@register(
    "events_kaplan_meier",
    tags=("events", "survival", "kaplan-meier", "censoring", "window"),
    oracle="""
    WITH ue AS (
      SELECT user_id,
             min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp
      FROM events GROUP BY 1
    ),
    mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS m FROM events),
    d AS (
      SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000
                  ELSE (m - t0) // 86400000000 END AS duration_days,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM ue CROSS JOIN mx
    ),
    h AS (
      SELECT duration_days,
             CAST(sum(ev) AS BIGINT) AS d_t,
             CAST(count(*) - sum(ev) AS BIGINT) AS c_t
      FROM d GROUP BY 1
    ),
    k AS (
      -- The OUTER cast is load-bearing: DuckDB window sum(BIGINT)
      -- returns HUGEINT, and a cast on the first term alone leaves
      -- the SUBTRACTION result HUGEINT -> float64 through the
      -- driver's pandas conversion -> typed-hash red vs Spark's
      -- int64 (CORRECTNESS_r12's one red row; gotcha #3 applied one
      -- level too shallow). tests/test_oracle_types.py pins this.
      SELECT duration_days, d_t, c_t,
             CAST(sum(d_t + c_t) OVER ()
             - COALESCE(sum(d_t + c_t) OVER (
                 ORDER BY duration_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS n_at_risk
      FROM h
    ),
    s AS (
      SELECT duration_days, d_t, c_t, n_at_risk,
             sum(CASE WHEN d_t = n_at_risk THEN 0.0
                      ELSE ln(1.0 - CAST(d_t AS DOUBLE) / n_at_risk)
                 END) OVER (ORDER BY duration_days) AS cum_ln,
             max(CASE WHEN d_t = n_at_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY duration_days) AS dead
      FROM k
    )
    SELECT duration_days, n_at_risk,
           d_t AS n_converted, c_t AS n_censored,
           CASE WHEN dead = 1 THEN 0.0
                ELSE round(exp(cum_ln) + 1e-9, 6) END AS survival
    FROM s
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(duration_days, n_at_risk, n_converted, n_censored, survival):
    Kaplan-Meier survival of days-to-first-purchase from each user's
    first event, right-censored at the corpus max timestamp (see
    header for the determinism + scale rationale)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    ue = e.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("tp"),
    )
    mx = e.agg(F.max("us").alias("m"))
    d = ue.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("tp").isNotNull(),
            F.expr("(tp - t0) div 86400000000"),
        )
        .otherwise(F.expr("(m - t0) div 86400000000"))
        .alias("duration_days"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    h = d.groupBy("duration_days").agg(
        F.sum("ev").cast("bigint").alias("d_t"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("c_t"),
    )
    w_all = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_before = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("duration_days")
    k = h.select(
        "duration_days",
        "d_t",
        "c_t",
        (
            F.sum(F.col("d_t") + F.col("c_t")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d_t") + F.col("c_t")).over(w_before), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    factor = F.when(F.col("d_t") == F.col("n_at_risk"), F.lit(0.0)).otherwise(
        F.log(
            F.lit(1.0) - F.col("d_t").cast("double") / F.col("n_at_risk")
        )
    )
    dead_now = F.when(F.col("d_t") == F.col("n_at_risk"), 1).otherwise(0)
    s = k.select(
        "duration_days",
        "d_t",
        "c_t",
        "n_at_risk",
        F.sum(factor).over(w_cum).alias("cum_ln"),
        F.max(dead_now).over(w_cum).alias("dead"),
    )
    return s.select(
        "duration_days",
        "n_at_risk",
        F.col("d_t").alias("n_converted"),
        F.col("c_t").alias("n_censored"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_ln")) + F.lit(1e-9), 6))
        .alias("survival"),
    )


# --------------------------------------------------------------------------
# Cochran-Mantel-Haenszel test: does the hash arm shift the purchase
# RATE, controlling for day-of-corpus (traffic mix shifts day to day,
# so a pooled 2x2 is Simpson's-paradox-prone — the CMH statistic
# aggregates the per-day 2x2 tables instead). The stratified
# companion to events_ab_test_zscore's pooled proportion z.
#
# Determinism: per-day cell counts are exact integers; the two float
# reductions (sum of expected counts E_i = n1*m1/N and of
# hypergeometric variances V_i) are mode-ordered RUNNING-WINDOW sums
# over the bounded day frame — both engines add the identical doubles
# in the identical day order (the ANOVA/CUSUM ordered-fold
# discipline), so chi2 needs only the rounding bias. sum_a stays a
# pure integer. Strata with N_i < 2 are excluded (V_i would divide by
# zero; they carry no information). nullif guards an all-degenerate
# corpus (every stratum single-arm or constant outcome -> sum_v = 0).
#
# Scale shape: ONE partial-aggregated fact collapse to the |days|
# 2x2 frame; every window after that is over the bounded day frame.
# Cell products go through doubles before multiplying (n1*(N-n1) and
# m1*(N-m1) each fit bigint at any volume; their PRODUCT would pass
# 2^63 near 1e5-event days, so the V_i numerator multiplies two
# exact-integer doubles instead).
@register(
    "events_cmh_test",
    tags=("events", "stats", "experiment", "stratified", "window"),
    oracle=f"""
    WITH r AS (
      SELECT CAST({DAY_SQL}
                  AS BIGINT) AS day,
             CAST(user_id * {KNUTH} % {MOD_2_32} % 2 AS BIGINT) AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
      FROM events
    ),
    t AS (
      SELECT day,
             CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(arm) AS BIGINT) AS n1,
             CAST(sum(succ) AS BIGINT) AS m1,
             CAST(sum(arm * succ) AS BIGINT) AS a
      FROM r GROUP BY 1
      HAVING count(*) >= 2
    ),
    c AS (
      SELECT CAST(count(*) OVER () AS BIGINT) AS n_strata,
             CAST(sum(nn) OVER (ORDER BY day) AS BIGINT) AS cn,
             CAST(sum(a) OVER (ORDER BY day) AS BIGINT) AS ca,
             CAST(sum(n1) OVER (ORDER BY day) AS BIGINT) AS cn1,
             CAST(sum(m1) OVER (ORDER BY day) AS BIGINT) AS cm1,
             sum(CAST(n1 AS DOUBLE) * m1 / nn) OVER (ORDER BY day) AS ce,
             sum((CAST(n1 AS DOUBLE) * (nn - n1))
                 * (CAST(m1 AS DOUBLE) * (nn - m1))
                 / (CAST(nn AS DOUBLE) * nn * (nn - 1)))
               OVER (ORDER BY day) AS cv,
             row_number() OVER (ORDER BY day DESC) AS rn
      FROM t
    )
    SELECT n_strata, cn AS n_events, ca AS conv_arm1,
           round(ce + 1e-9, 6) AS expected_arm1,
           round(cv + 1e-9, 6) AS var_arm1,
           round((ca - ce) * (ca - ce) / nullif(cv, 0.0) + 1e-9, 4)
             AS cmh_chi2,
           round(CAST(ca AS DOUBLE) / nullif(cn1, 0) + 1e-9, 6)
             AS rate_arm1,
           round(CAST(cm1 - ca AS DOUBLE) / nullif(cn - cn1, 0) + 1e-9, 6)
             AS rate_arm0
    FROM c WHERE rn = 1
    """,
)
def events_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_strata, n_events, conv_arm1, expected_arm1, var_arm1,
    cmh_chi2, rate_arm1, rate_arm0): day-stratified CMH chi-square of
    purchase rate between the hash arms (see header)."""
    e = load_table(spark, sf_dir, "events").select(
        utc_day().alias("day"),
        knuth_bucket("user_id", 2)
        .cast("bigint")
        .alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "succ"
        ),
    )
    t = (
        e.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nn"),
            F.sum("arm").cast("bigint").alias("n1"),
            F.sum("succ").cast("bigint").alias("m1"),
            F.sum(F.col("arm") * F.col("succ")).cast("bigint").alias("a"),
        )
        .filter(F.col("nn") >= 2)
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("day")
    w_rn = Window.orderBy(F.col("day").desc())
    e_i = F.col("n1").cast("double") * F.col("m1") / F.col("nn")
    v_i = (
        (F.col("n1").cast("double") * (F.col("nn") - F.col("n1")))
        * (F.col("m1").cast("double") * (F.col("nn") - F.col("m1")))
        / (
            F.col("nn").cast("double")
            * F.col("nn")
            * (F.col("nn") - F.lit(1))
        )
    )
    c = t.select(
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_strata"),
        F.sum("nn").over(w_cum).cast("bigint").alias("cn"),
        F.sum("a").over(w_cum).cast("bigint").alias("ca"),
        F.sum("n1").over(w_cum).cast("bigint").alias("cn1"),
        F.sum("m1").over(w_cum).cast("bigint").alias("cm1"),
        F.sum(e_i).over(w_cum).alias("ce"),
        F.sum(v_i).over(w_cum).alias("cv"),
        F.row_number().over(w_rn).alias("rn"),
    ).filter(F.col("rn") == 1)
    dev = F.col("ca") - F.col("ce")
    return c.select(
        "n_strata",
        F.col("cn").alias("n_events"),
        F.col("ca").alias("conv_arm1"),
        F.round(F.col("ce") + F.lit(1e-9), 6).alias("expected_arm1"),
        F.round(F.col("cv") + F.lit(1e-9), 6).alias("var_arm1"),
        F.round(
            dev * dev / F.nullif(F.col("cv"), F.lit(0.0)) + F.lit(1e-9), 4
        ).alias("cmh_chi2"),
        F.round(
            F.col("ca").cast("double") / F.nullif(F.col("cn1"), F.lit(0))
            + F.lit(1e-9),
            6,
        ).alias("rate_arm1"),
        F.round(
            (F.col("cm1") - F.col("ca")).cast("double")
            / F.nullif(F.col("cn") - F.col("cn1"), F.lit(0))
            + F.lit(1e-9),
            6,
        ).alias("rate_arm0"),
    )


# --------------------------------------------------------------------------
# The dyadic-EWMA prologue shared by events_ewma_residuals and
# events_double_ewma_holt: the fact collapsed to daily cent volume per
# event type, the per-type day index i, and the guarded power-of-two
# weight (see the events_ewma_residuals header).
_EWMA_STEPS_SQL = f"""daily AS (
      SELECT event_type,
             CAST({DAY_SQL}
                  AS BIGINT) AS day,
             CAST(sum({CENTS_SQL}) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, x,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
      FROM daily
    )"""
# 2^i as an exact double: integer shiftleft, never libm pow. The
# Spark expression, and its oracle twin (unguarded: past 62 steps
# DuckDB raises its own shift overflow).
_EWMA_DIV_EXPR = "CAST(shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) AS DOUBLE)"
_EWMA_DIV_SQL = "CAST(1::BIGINT << CAST(i AS INT) AS DOUBLE)"


# events_double_ewma_holt's oracle twin of ``_ewma_steps``' step
# weight (2 at i = 1, else 2^(i-1)), used by both smoothing passes.
# The i > 62 guard mirrors the Spark plan's raise_error (ADVICE r13):
# past 62 steps the 1::BIGINT << i shift would silently wrap where
# Spark raises; error() keeps the oracle loud standalone too (lazy
# inside CASE, verified).
_HOLT_WEIGHT_SQL = (
    "CAST(1::BIGINT << CASE WHEN i > 62 THEN CAST(error("
    "'events_double_ewma_holt: series longer than 62 steps — chunk by re-basing') AS INT)"
    " WHEN i = 1 THEN 1 ELSE CAST(i - 1 AS INT) END AS DOUBLE)"
)


def _ewma_steps(spark: SparkSession, sf_dir: str, query: str) -> tuple[DataFrame, Column]:
    """The ``(event_type, day, x, i)`` frame (x = the day's cent sum,
    i = the 1-based day index per type) and the step weight Column:
    2 at i = 1, else 2^(i-1), raising past the 62-step double-span
    bound with an error that names ``query``."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", utc_day().alias("day"), cents().alias("cents")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("cents").cast("bigint").alias("x")
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("i", F.row_number().over(w_day).cast("bigint"))
    shift_w = F.expr(
        "CASE WHEN i > 62 THEN raise_error("
        f"'{query}: series longer than 62 steps — "
        "chunk by re-basing (SCALING.md)') "
        "WHEN i = 1 THEN CAST(shiftleft(CAST(1 AS BIGINT), 1) AS DOUBLE) "
        "ELSE CAST(shiftleft(CAST(1 AS BIGINT), CAST(i - 1 AS INT)) "
        "AS DOUBLE) END"
    )
    return idx, shift_w


# --------------------------------------------------------------------------
# TOLERANCE-FREE exponential smoothing: per event type, the EWMA of
# the daily cent volume with alpha = 1/2, plus each day's residual
# against yesterday's smoothed level — the anomaly baseline a metrics
# pipeline keeps per KPI. The alpha = 1/2 choice is load-bearing:
# s_t = (s_{t-1} + x_t)/2 unrolls to s_t = w_t / 2^t with
# w_t = 2*x_1 + sum_{i>=2} x_i * 2^(i-1), and every operation in that
# form is IEEE-EXACT or order-pinned — x_i * 2^k is a pure exponent
# shift (no rounding, ever), the w_t prefix sum adds identical
# doubles in identical day order on both engines (window cum-sum),
# and the final / 2^t is another exact shift. The smoothed level is
# therefore BIT-identical cross-engine with zero tolerance — the
# recurrence never touches libm (pow is not correctly rounded;
# 2^k via integer shiftleft is). Dyadic rationals CAN land exactly
# on 4dp half-boundaries (e.g. 1/32 = 625 * 5e-5), so the display
# rounding still carries the +1e-9 bias — applied to bit-identical
# inputs, so it can never disagree.
#
# Bound: the weights span 2^i, so the series index is GUARDED at 62
# (bigint shift; a >62-day-per-type corpus raises loudly at action
# time — the simhash saturation-guard discipline — rather than
# silently overflowing; the 100 TB continuation is chunked re-basing:
# carry s_T as the next block's x_0, documented in SCALING.md).
#
# Scale shape: ONE partial-aggregated fact collapse to the
# (type, day) frame; the index/cum-sum/lag windows share one
# per-type sort over that bounded frame.
@register(
    "events_ewma_residuals",
    tags=("events", "timeseries", "ewma", "anomaly", "window"),
    oracle=f"""
    WITH {_EWMA_STEPS_SQL},
    w AS (
      SELECT event_type, day, x, i,
             sum(CAST(x AS DOUBLE)
                 * CAST(1::BIGINT << CASE WHEN i = 1 THEN 1
                                          ELSE CAST(i - 1 AS INT) END
                        AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY i) AS wt
      FROM idx
    ),
    s AS (
      SELECT event_type, day, x,
             wt / {_EWMA_DIV_SQL} AS ewma
      FROM w
    )
    SELECT event_type, day, x AS daily_cents,
           round(ewma / 100 + 1e-9, 4) AS ewma_value,
           round((x - lag(ewma) OVER (
                    PARTITION BY event_type ORDER BY day)) / 100
                 + 1e-9, 4) + 0.0 AS residual_value
    FROM s
    """,
)
def events_ewma_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, daily_cents, ewma_value, residual_value):
    alpha=1/2 EWMA of daily volume and the residual vs yesterday's
    level, bit-exact cross-engine via power-of-two weights (see
    header)."""
    idx, shift_w = _ewma_steps(spark, sf_dir, "events_ewma_residuals")
    w = idx.withColumn(
        "wt",
        F.sum(F.col("x").cast("double") * shift_w).over(
            Window.partitionBy("event_type").orderBy("i")
        ),
    )
    s = w.select(
        "event_type", "day", "x", (F.col("wt") / F.expr(_EWMA_DIV_EXPR)).alias("ewma")
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    return s.select(
        "event_type",
        "day",
        F.col("x").alias("daily_cents"),
        F.round(F.col("ewma") / 100 + F.lit(1e-9), 4).alias("ewma_value"),
        (
            F.round(
                (F.col("x") - F.lag("ewma").over(w_day)) / 100
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("residual_value"),
    )


# --------------------------------------------------------------------------
# The two-arm moment kernel shared by events_winsorized_ab and
# events_benjamini_hochberg: the fact collapsed once to the
# (type, cents, arm) value histogram over the Knuth-hash A/B arms,
# then exact per-arm integer moments of a value column over it
# (decimal(38,0) in Spark, HUGEINT in DuckDB) and one Welch z tree.
_ARM_HIST_SQL = f"""h AS (
      SELECT event_type,
             {CENTS_SQL} AS cents,
             CAST(user_id * {KNUTH} % {MOD_2_32} % 2 AS BIGINT) AS arm,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    )"""


def _arm_sums_sql(v: str) -> str:
    """The oracles' per-arm count and moment sums of value column ``v``
    over the histogram: n0, n1, s10, s11, s20, s21."""
    return f"""CAST(sum(CASE WHEN arm = 0 THEN cnt ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS n1,
             sum(CASE WHEN arm = 0 THEN CAST(cnt AS HUGEINT) * {v}
                      ELSE 0 END) AS s10,
             sum(CASE WHEN arm = 1 THEN CAST(cnt AS HUGEINT) * {v}
                      ELSE 0 END) AS s11,
             sum(CASE WHEN arm = 0 THEN CAST(cnt AS HUGEINT) * {v} * {v}
                      ELSE 0 END) AS s20,
             sum(CASE WHEN arm = 1 THEN CAST(cnt AS HUGEINT) * {v} * {v}
                      ELSE 0 END) AS s21"""


# The oracles' Welch z of m1 - m0 over the _arm_sums_sql columns —
# the SQL twin of _arm_welch's z.
_ARM_WELCH_Z_SQL = """(CAST(s11 AS DOUBLE) / nullif(n1, 0)
                - CAST(s10 AS DOUBLE) / nullif(n0, 0))
               / nullif(sqrt(
                   greatest(CAST(s21 AS DOUBLE) / nullif(n1, 0)
                            - (CAST(s11 AS DOUBLE) / nullif(n1, 0))
                              * (CAST(s11 AS DOUBLE) / nullif(n1, 0)),
                            0.0) / nullif(n1, 0)
                   + greatest(CAST(s20 AS DOUBLE) / nullif(n0, 0)
                              - (CAST(s10 AS DOUBLE) / nullif(n0, 0))
                                * (CAST(s10 AS DOUBLE) / nullif(n0, 0)),
                              0.0) / nullif(n0, 0)
                 ), 0.0)"""


def _arm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(event_type, cents, arm, cnt)``: the Spark twin of
    ``_ARM_HIST_SQL``."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("cents"),
        knuth_bucket("user_id", 2).cast("bigint").alias("arm"),
    )
    return e.groupBy("event_type", "cents", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def _arm_sums(v: str) -> list[Column]:
    """The Spark twin of ``_arm_sums_sql(v)``: aggregate Columns n0,
    n1, s10, s11, s20, s21 (s_pa = sum of cnt * v^p over arm a)."""
    dec = "decimal(38,0)"
    out = [
        F.sum(F.when(F.col("arm") == a, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias(f"n{a}")
        for a in (0, 1)
    ]
    for p in (1, 2):
        for a in (0, 1):
            term = F.col("cnt").cast(dec) * F.col(v)
            if p == 2:
                term = term * F.col(v)
            out.append(
                F.sum(
                    F.when(F.col("arm") == a, term).otherwise(F.lit(0).cast(dec))
                ).alias(f"s{p}{a}")
            )
    return out


def _arm_welch() -> tuple[Column, Column, Column]:
    """Per-arm means m0, m1 and the Welch z of m1 - m0 over the
    ``_arm_sums`` columns; nullif guards an empty arm and a
    zero-variance type."""
    n0 = F.nullif(F.col("n0"), F.lit(0))
    n1 = F.nullif(F.col("n1"), F.lit(0))
    m0 = F.col("s10").cast("double") / n0
    m1 = F.col("s11").cast("double") / n1
    v0 = F.greatest(F.col("s20").cast("double") / n0 - m0 * m0, F.lit(0.0))
    v1 = F.greatest(F.col("s21").cast("double") / n1 - m1 * m1, F.lit(0.0))
    z = (m1 - m0) / F.nullif(F.sqrt(v1 / n1 + v0 / n0), F.lit(0.0))
    return m0, m1, z


# --------------------------------------------------------------------------
# Winsorized A/B readout: the two-sample mean z-test per event type
# with values winsorized at the pooled 1st/99th DISCRETE percentiles
# — the heavy-tail-robust twin of events_ab_test_zscore (a single
# whale purchase can otherwise carry an arm). events_winsorize_stats
# profiles the clip counts; this one runs the experiment readout on
# the clipped values.
#
# Shape + determinism: the fact collapses ONCE to the
# (type, cents, arm) value histogram (2dp money -> bounded cells,
# volume-independent — the mann_whitney discipline). Pooled bounds
# are DISCRETE percentiles read off that histogram with integer
# threshold crossings (cum >= ceil(p*n), the
# length_weighted_quantiles trick) — never quantile_cont, whose
# interpolated double would make the clipped values fractional and
# the arm sums order-divergent. All moments are then integer
# (decimal(38,0)/HUGEINT — cnt*w^2 passes 2^63 near 1e3-cell-count
# x 1e6-cent values), every window runs over the bounded histogram
# (no agg-then-rejoin: totals and bounds are windows over one
# lineage, gotcha #14), and the one double closed form is the
# identical z tree both engines. nullif guards an empty arm and a
# zero-variance type.
@register(
    "events_winsorized_ab",
    tags=("events", "stats", "experiment", "robust", "aggregate"),
    oracle=f"""
    WITH {_ARM_HIST_SQL},
    k AS (
      SELECT event_type, cents, arm, cnt,
             CAST(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM h
    ),
    b AS (
      SELECT event_type, cents, arm, cnt,
             min(CASE WHEN cum >= (n + 99) // 100 THEN cents END)
               OVER (PARTITION BY event_type) AS lo,
             min(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END)
               OVER (PARTITION BY event_type) AS hi
      FROM k
    ),
    w AS (
      SELECT event_type, arm, cnt, lo, hi,
             greatest(lo, least(hi, cents)) AS wv
      FROM b
    ),
    a AS (
      SELECT event_type,
             CAST(min(lo) AS BIGINT) AS lo_cents,
             CAST(min(hi) AS BIGINT) AS hi_cents,
             {_arm_sums_sql('wv')}
      FROM w GROUP BY 1
    )
    SELECT event_type, lo_cents, hi_cents, n0, n1,
           round(CAST(s10 AS DOUBLE) / nullif(n0, 0) / 100 + 1e-9, 6)
             AS wmean0,
           round(CAST(s11 AS DOUBLE) / nullif(n1, 0) / 100 + 1e-9, 6)
             AS wmean1,
           round({_ARM_WELCH_Z_SQL} + 1e-9, 4) + 0.0 AS z
    FROM a
    """,
)
def events_winsorized_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, lo_cents, hi_cents, n0, n1, wmean0, wmean1, z):
    pooled-percentile winsorized two-sample z between the hash arms
    (see header)."""
    h = _arm_histogram(spark, sf_dir)
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_type = Window.partitionBy("event_type")
    k = h.select(
        "event_type",
        "cents",
        "arm",
        "cnt",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(w_type).cast("bigint").alias("n"),
    )
    b = k.select(
        "event_type",
        "cents",
        "arm",
        "cnt",
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 99) div 100"), F.col("cents")
            )
        )
        .over(w_type)
        .alias("lo"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(99 * n + 99) div 100"),
                F.col("cents"),
            )
        )
        .over(w_type)
        .alias("hi"),
    )
    wv = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    a = b.select("event_type", "arm", "cnt", "lo", "hi", wv.alias("wv")).groupBy(
        "event_type"
    ).agg(
        F.min("lo").cast("bigint").alias("lo_cents"),
        F.min("hi").cast("bigint").alias("hi_cents"),
        *_arm_sums("wv"),
    )
    m0, m1, z = _arm_welch()
    return a.select(
        "event_type",
        "lo_cents",
        "hi_cents",
        "n0",
        "n1",
        F.round(m0 / 100 + F.lit(1e-9), 6).alias("wmean0"),
        F.round(m1 / 100 + F.lit(1e-9), 6).alias("wmean1"),
        (F.round(z + F.lit(1e-9), 4) + F.lit(0.0)).alias("z"),
    )


# --------------------------------------------------------------------------
# Double exponential smoothing (Brown's linear method, alpha = 1/2):
# a SECOND alpha=1/2 EWMA pass over the first gives a trend-aware
# level + slope + one-step forecast per event type — the Holt-style
# trending-KPI baseline (Holt with alpha = beta constrained to the
# Brown form; an unconstrained Holt recurrence has complex matrix
# eigenvalues and no cum-sum unroll). The r12 power-of-two trick
# (events_ewma_residuals header) extends verbatim: s1_i is a dyadic
# rational computed bit-exactly; the second pass's terms s1_i * 2^(i-1)
# are pure exponent SHIFTS of those exact doubles (no rounding,
# ever), the v_t prefix sum adds identical doubles in identical day
# order on both engines, and the final / 2^t is another exact shift —
# so s2, level = 2*s1 - s2, trend = s1 - s2 and forecast = l + b are
# all BIT-identical cross-engine before the display round. Same
# 62-step in-plan guard (|s1| <= max|x| by convexity, so the second
# pass needs no wider bound); same chunked re-basing continuation for
# unbounded horizons (SCALING.md).
#
# Scale shape: ONE partial-aggregated fact collapse to the bounded
# (type, day) frame; the index and both smoothing cum-sums share one
# per-type sort over that frame.
@register(
    "events_double_ewma_holt",
    tags=("events", "timeseries", "ewma", "holt", "trend", "window"),
    oracle=f"""
    WITH {_EWMA_STEPS_SQL},
    w1 AS (
      SELECT event_type, day, x, i,
             sum(CAST(x AS DOUBLE) * {_HOLT_WEIGHT_SQL}) OVER (
               PARTITION BY event_type ORDER BY i) AS wt
      FROM idx
    ),
    s1 AS (
      SELECT event_type, day, x, i,
             wt / {_EWMA_DIV_SQL} AS s1
      FROM w1
    ),
    w2 AS (
      SELECT event_type, day, x, i, s1,
             sum(s1 * {_HOLT_WEIGHT_SQL}) OVER (
               PARTITION BY event_type ORDER BY i) AS vt
      FROM s1
    ),
    s2 AS (
      SELECT event_type, day, x, s1,
             vt / {_EWMA_DIV_SQL} AS s2
      FROM w2
    )
    SELECT event_type, day, x AS daily_cents,
           round((2 * s1 - s2) / 100 + 1e-9, 4) + 0.0 AS level_value,
           round((s1 - s2) / 100 + 1e-9, 4) + 0.0 AS trend_value,
           round((3 * s1 - 2 * s2) / 100 + 1e-9, 4) + 0.0 AS forecast_value
    FROM s2
    """,
)
def events_double_ewma_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, daily_cents, level_value, trend_value,
    forecast_value): Brown double exponential smoothing of daily cent
    volume with alpha = 1/2 — level 2*s1-s2, trend s1-s2, one-step
    forecast l+b, bit-exact cross-engine (see header)."""
    idx, shift_w = _ewma_steps(spark, sf_dir, "events_double_ewma_holt")
    w_i = Window.partitionBy("event_type").orderBy("i")
    w1 = idx.withColumn(
        "wt", F.sum(F.col("x").cast("double") * shift_w).over(w_i)
    )
    s1f = w1.select(
        "event_type", "day", "x", "i",
        (F.col("wt") / F.expr(_EWMA_DIV_EXPR)).alias("s1"),
    )
    w2 = s1f.withColumn("vt", F.sum(F.col("s1") * shift_w).over(w_i))
    s2f = w2.select(
        "event_type", "day", "x", "s1",
        (F.col("vt") / F.expr(_EWMA_DIV_EXPR)).alias("s2"),
    )
    return s2f.select(
        "event_type",
        "day",
        F.col("x").alias("daily_cents"),
        (
            F.round(
                (2 * F.col("s1") - F.col("s2")) / 100 + F.lit(1e-9), 4
            )
            + F.lit(0.0)
        ).alias("level_value"),
        (
            F.round((F.col("s1") - F.col("s2")) / 100 + F.lit(1e-9), 4)
            + F.lit(0.0)
        ).alias("trend_value"),
        (
            F.round(
                (3 * F.col("s1") - 2 * F.col("s2")) / 100 + F.lit(1e-9), 4
            )
            + F.lit(0.0)
        ).alias("forecast_value"),
    )


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR step-up over the per-type A/B readouts: when
# an experiment ships one z-test PER EVENT TYPE, controlling the
# false-discovery rate across the family is the standard multiple-
# comparisons correction (BH 1995). Per-type Welch z of mean cents
# between the hash arms from exact integer moments (the winsorized_ab
# histogram discipline, unclipped), then the step-up on the bounded
# |types| frame.
#
# Determinism: z is one identical IEEE tree on exact integers ->
# bit-identical cross-engine. The normal tail p = 2*(1 - Phi(|z|))
# has no elementary closed form, so it uses the Abramowitz-Stegun
# 26.2.17 polynomial (|err| < 7.5e-8, documented approximation) with
# every coefficient interpolated from ONE Python literal into both
# engines (the Benford/DP-noise rule); exp() can differ by 1 ulp
# cross-engine, so p is 6dp-LOCKED (round + 1e-9 bias) FIRST and
# every downstream use — the (p, type) rank and the threshold
# crossing — consumes only the locked value, making rank and verdict
# exactly identical on both engines (the CUSUM lock-then-derive
# discipline). The crossing test is p6 * (2/alpha) * m <= k on the
# locked doubles — no float rank division, and a tie resolves
# identically because both engines compare identical values.
#
# Scale shape: ONE fact collapse to the (type, cents, arm) value
# histogram (bounded cells at any volume); moments, ranks and the
# step-up max all run as windows over the |types|-row frame.
BH_ALPHA_INV = 20  # alpha = 0.05 = 1/20
_BH_T = "0.2316419"
_BH_B = ("0.31938153", "-0.356563782", "1.781477937",
         "-1.821255978", "1.330274429")
_BH_INV_SQRT_2PI = "0.3989422804014327"


def _bh_p_sql(az: str) -> str:
    """A&S 26.2.17 two-sided normal p-value as a SQL expression over
    an |z| column — the IDENTICAL string is interpolated into the
    Spark plan and the DuckDB oracle so the op tree cannot drift."""
    t = f"(1.0 / (1.0 + {_BH_T} * {az}))"
    b1, b2, b3, b4, b5 = _BH_B
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    return (
        f"(2.0 * exp(-({az} * {az}) / 2.0) * {_BH_INV_SQRT_2PI} * {poly})"
    )


@register(
    "events_benjamini_hochberg",
    tags=("events", "stats", "experiment", "fdr", "window"),
    oracle=f"""
    WITH {_ARM_HIST_SQL},
    a AS (
      SELECT event_type,
             {_arm_sums_sql('cents')}
      FROM h GROUP BY 1
    ),
    z AS (
      SELECT event_type, n0, n1,
             coalesce(
               {_ARM_WELCH_Z_SQL}, 0.0) AS zv
      FROM a
    ),
    p AS (
      SELECT event_type, n0, n1, zv,
             round({{P_EXPR}} + 1e-9, 6) AS p6
      FROM (SELECT event_type, n0, n1, zv, abs(zv) AS az FROM z)
    ),
    r AS (
      SELECT event_type, n0, n1, zv, p6,
             CAST(row_number() OVER (ORDER BY p6, event_type) AS BIGINT)
               AS k,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    s AS (
      SELECT event_type, n0, n1, zv, p6, k, m,
             CASE WHEN p6 * {BH_ALPHA_INV} * m <= CAST(k AS DOUBLE)
                  THEN 1 ELSE 0 END AS crossed
      FROM r
    )
    SELECT event_type, n0, n1,
           round(zv + 1e-9, 4) + 0.0 AS z,
           p6 AS p_value, k AS p_rank, m AS m_tests,
           round(CAST(k AS DOUBLE) / ({BH_ALPHA_INV} * m) + 1e-9, 6)
             AS bh_threshold,
           CAST(max(crossed) OVER (
             ORDER BY k ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS BIGINT) AS rejected
    FROM s
    """.replace("{P_EXPR}", _bh_p_sql("az")),
)
def events_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n0, n1, z, p_value, p_rank, m_tests, bh_threshold,
    rejected): per-type Welch z between the hash arms with the
    Benjamini-Hochberg FDR step-up across the type family (see
    header). On A/A hash-split halves nothing should reject."""
    a = _arm_histogram(spark, sf_dir).groupBy("event_type").agg(*_arm_sums("cents"))
    _, _, zv = _arm_welch()
    z = a.select(
        "event_type", "n0", "n1", F.coalesce(zv, F.lit(0.0)).alias("zv")
    )
    p = z.select(
        "event_type", "n0", "n1", "zv", F.abs(F.col("zv")).alias("az")
    ).select(
        "event_type",
        "n0",
        "n1",
        "zv",
        F.round(F.expr(_bh_p_sql("az")) + F.lit(1e-9), 6).alias("p6"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = p.select(
        "event_type",
        "n0",
        "n1",
        "zv",
        "p6",
        F.row_number()
        .over(Window.orderBy("p6", "event_type"))
        .cast("bigint")
        .alias("k"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("m"),
    )
    s = r.withColumn(
        "crossed",
        F.when(
            F.col("p6") * F.lit(BH_ALPHA_INV) * F.col("m")
            <= F.col("k").cast("double"),
            1,
        ).otherwise(0),
    )
    return s.select(
        "event_type",
        "n0",
        "n1",
        (F.round(F.col("zv") + F.lit(1e-9), 4) + F.lit(0.0)).alias("z"),
        F.col("p6").alias("p_value"),
        F.col("k").alias("p_rank"),
        F.col("m").alias("m_tests"),
        F.round(
            F.col("k").cast("double") / (F.lit(BH_ALPHA_INV) * F.col("m"))
            + F.lit(1e-9),
            6,
        ).alias("bh_threshold"),
        F.max("crossed")
        .over(
            Window.orderBy("k").rowsBetween(
                Window.currentRow, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("rejected"),
    )


# --------------------------------------------------------------------------
# Association rules: the DIRECTED complement of
# orders_market_basket_pairs — per ordered part pair (x -> y),
# support / confidence / lift, the rule form a recommender or
# planogram pipeline actually consumes (confidence is asymmetric:
# {niche -> staple} can be near 1.0 while the reverse is noise).
#
# Determinism: counts are exact integers from the same bounded
# pair fan-out as the basket op (pairs per order C(items,2), items
# <= order width); both rule directions EXPLODE from one undirected
# pair row (one lineage — no sibling self-consumption of the pair
# aggregate, gotcha #9/#14 moot by construction); ranking uses the
# exact integer conf_u = n_both * 1e6 div n_antecedent with a
# unique (conf_u, n_both, antecedent, consequent) tiebreak on the
# LIMIT; ratio outputs are single divisions of exact integers
# (+1e-9 bias).
ASSOC_MIN_BOTH = 2
ASSOC_TOP_N = 50


@register(
    "orders_association_rules",
    tags=("orders", "lineitem", "association", "rules", "topk"),
    oracle=f"""
    WITH {_PART_PAIRS_SQL},
    rules AS (
      SELECT pa AS antecedent, pb AS consequent, n_both FROM pairs
      UNION ALL
      SELECT pb AS antecedent, pa AS consequent, n_both FROM pairs
    )
    SELECT antecedent, consequent, n_both,
           ca.n_with AS n_antecedent,
           CAST(n_both * 1000000 // ca.n_with AS BIGINT) AS conf_u,
           round(CAST(n_both AS DOUBLE) / t.n_orders + 1e-9, 6) AS support,
           round(CAST(n_both AS DOUBLE) / ca.n_with + 1e-9, 6)
             AS confidence,
           round(CAST(n_both AS DOUBLE) * t.n_orders
                 / (ca.n_with * cb.n_with) + 1e-9, 4) AS lift
    FROM rules
    JOIN cnt ca ON ca.l_partkey = antecedent
    JOIN cnt cb ON cb.l_partkey = consequent
    CROSS JOIN tot t
    WHERE n_both >= {ASSOC_MIN_BOTH}
    ORDER BY n_both * 1000000 // ca.n_with DESC, n_both DESC,
             antecedent, consequent
    LIMIT {ASSOC_TOP_N}
    """,
)
def orders_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(antecedent, consequent, n_both, n_antecedent, conf_u, support,
    confidence, lift): top directed association rules by exact
    integer confidence (see header). Scale shape: the distinct
    (order, part) frame is computed ONCE (eager checkpoint — it feeds
    the self-join, the per-part counts and the order total, ADVICE
    r13); the self-join of the checkpointed frame runtime-reuses one
    exchange; both rule directions explode from the single pair
    aggregate; the per-part count joins are equi (broadcast at small
    sf); top-N rides TakeOrdered."""
    # `op` feeds FOUR consumers: the a/b self-join plus the cnt
    # (groupBy partkey) and tot (countDistinct) branches — the latter
    # two are differently-shaped siblings that never exchange-reuse
    # (gotcha #14), so without this the scan+distinct lineage executes
    # up to four times (ADVICE r13). One eager checkpoint (gotcha #9);
    # the self-join of the checkpointed frame still runtime-reuses.
    op = _order_parts(spark, sf_dir).localCheckpoint(eager=True)
    pairs, ca, cb, tot = _part_pairs(op)
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("antecedent"),
                    F.col("pb").alias("consequent"),
                    F.col("n_both"),
                ),
                F.struct(
                    F.col("pb").alias("antecedent"),
                    F.col("pa").alias("consequent"),
                    F.col("n_both"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.n_both")
    return (
        rules.filter(F.col("n_both") >= ASSOC_MIN_BOTH)
        .join(ca, F.col("antecedent") == F.col("ka"))
        .join(cb, F.col("consequent") == F.col("kb"))
        .join(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.col("na").alias("n_antecedent"),
            F.expr("n_both * 1000000 div na").cast("bigint").alias("conf_u"),
            F.round(
                F.col("n_both").cast("double") / F.col("n_orders")
                + F.lit(1e-9),
                6,
            ).alias("support"),
            F.round(
                F.col("n_both").cast("double") / F.col("na") + F.lit(1e-9), 6
            ).alias("confidence"),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb"))
                + F.lit(1e-9),
                4,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("conf_u"), F.desc("n_both"), "antecedent", "consequent"
        )
        .limit(ASSOC_TOP_N)
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout: adjust each user's
# second-half-of-corpus spend by their first-half spend (the
# pre-experiment covariate) before the arm comparison —
# y' = post - theta*(pre - mean_pre) with theta = cov(pre, post) /
# var(pre) — the standard experimentation trick that removes
# between-user variance a hash split cannot (CUPED, Deng et al.
# 2013). Companion to events_ab_test_zscore (raw), events_cmh_test
# (stratified) and events_winsorized_ab (robust).
#
# Determinism: the pre/post boundary is the integer midpoint day
# ((min+max+1) div 2 — the psi_drift idiom); per-user pre/post cent
# sums are exact integers; EVERY downstream quantity (theta, the
# adjusted arm means, the adjusted arm variances, z, the variance-
# reduction share) is a closed form over per-arm integer moments
# (n, Spre, Spost, Spre2, Spost2, Sprepost in decimal(38,0)/HUGEINT)
# because mean/var of post - theta*pre expand algebraically:
# var(y') = var(post) + theta^2 var(pre) - 2 theta cov — so no
# per-user float is ever materialized and both engines run one
# identical IEEE tree on identical integers (the winsorized_ab
# discipline). nullif guards zero pre-variance and empty arms.
#
# Scale shape: ONE user-keyed fact collapse (the min/max day frame is
# a 1-row broadcast), then a 2-row arm rollup; all algebra on a 1-row
# frame.
@register(
    "events_cuped_adjusted_ab",
    tags=("events", "stats", "experiment", "cuped", "aggregate"),
    oracle=f"""
    WITH e AS (
      SELECT user_id, {DAY_SQL} AS day, {CENTS_SQL} AS cents FROM events
    ),
    b AS (SELECT {_MID_DAY_SQL} FROM e),
    u AS (
      SELECT user_id,
             CAST(user_id * {KNUTH} % {MOD_2_32} % 2 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS post
      FROM e CROSS JOIN b GROUP BY 1, 2
    ),
    m AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(pre AS HUGEINT)) AS s1,
             sum(CAST(post AS HUGEINT)) AS s2,
             sum(CAST(pre AS HUGEINT) * pre) AS s11,
             sum(CAST(post AS HUGEINT) * post) AS s22,
             sum(CAST(pre AS HUGEINT) * post) AS s12
      FROM u GROUP BY 1
    ),
    w AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 1 THEN n END) AS n1,
             CAST(sum(n) AS BIGINT) AS n,
             max(CASE WHEN arm = 0 THEN s1 END) AS s1_0,
             max(CASE WHEN arm = 1 THEN s1 END) AS s1_1,
             max(CASE WHEN arm = 0 THEN s2 END) AS s2_0,
             max(CASE WHEN arm = 1 THEN s2 END) AS s2_1,
             max(CASE WHEN arm = 0 THEN s11 END) AS s11_0,
             max(CASE WHEN arm = 1 THEN s11 END) AS s11_1,
             max(CASE WHEN arm = 0 THEN s22 END) AS s22_0,
             max(CASE WHEN arm = 1 THEN s22 END) AS s22_1,
             max(CASE WHEN arm = 0 THEN s12 END) AS s12_0,
             max(CASE WHEN arm = 1 THEN s12 END) AS s12_1
      FROM m
    ),
    t AS (
      SELECT *,
             CAST(s1_0 + s1_1 AS DOUBLE) / n AS mpre,
             CAST(s2_0 + s2_1 AS DOUBLE) / n AS mpost,
             (CAST(s12_0 + s12_1 AS DOUBLE) / n
              - (CAST(s1_0 + s1_1 AS DOUBLE) / n)
                * (CAST(s2_0 + s2_1 AS DOUBLE) / n))
             / nullif(CAST(s11_0 + s11_1 AS DOUBLE) / n
                      - (CAST(s1_0 + s1_1 AS DOUBLE) / n)
                        * (CAST(s1_0 + s1_1 AS DOUBLE) / n), 0.0) AS theta
      FROM w
    ),
    z AS (
      SELECT n0, n1, theta, mpre, mpost,
             CAST(s2_0 AS DOUBLE) / n0
               - theta * (CAST(s1_0 AS DOUBLE) / n0 - mpre) AS adj0,
             CAST(s2_1 AS DOUBLE) / n1
               - theta * (CAST(s1_1 AS DOUBLE) / n1 - mpre) AS adj1,
             greatest(CAST(s22_0 AS DOUBLE) / n0
                      - (CAST(s2_0 AS DOUBLE) / n0)
                        * (CAST(s2_0 AS DOUBLE) / n0)
                      + theta * theta
                        * (CAST(s11_0 AS DOUBLE) / n0
                           - (CAST(s1_0 AS DOUBLE) / n0)
                             * (CAST(s1_0 AS DOUBLE) / n0))
                      - 2 * theta
                        * (CAST(s12_0 AS DOUBLE) / n0
                           - (CAST(s1_0 AS DOUBLE) / n0)
                             * (CAST(s2_0 AS DOUBLE) / n0)), 0.0) AS v0,
             greatest(CAST(s22_1 AS DOUBLE) / n1
                      - (CAST(s2_1 AS DOUBLE) / n1)
                        * (CAST(s2_1 AS DOUBLE) / n1)
                      + theta * theta
                        * (CAST(s11_1 AS DOUBLE) / n1
                           - (CAST(s1_1 AS DOUBLE) / n1)
                             * (CAST(s1_1 AS DOUBLE) / n1))
                      - 2 * theta
                        * (CAST(s12_1 AS DOUBLE) / n1
                           - (CAST(s1_1 AS DOUBLE) / n1)
                             * (CAST(s2_1 AS DOUBLE) / n1)), 0.0) AS v1,
             CAST(s22_0 + s22_1 AS DOUBLE) / (n0 + n1) - mpost * mpost
               AS vpost,
             CAST(s11_0 + s11_1 AS DOUBLE) / (n0 + n1) - mpre * mpre
               AS vpre,
             CAST(s12_0 + s12_1 AS DOUBLE) / (n0 + n1) - mpre * mpost
               AS cpp
      FROM t
    )
    SELECT n0, n1,
           round(theta + 1e-9, 6) + 0.0 AS theta,
           round(mpre / 100 + 1e-9, 4) AS mean_pre,
           round(adj0 / 100 + 1e-9, 4) AS adj_mean0,
           round(adj1 / 100 + 1e-9, 4) AS adj_mean1,
           round((adj1 - adj0)
                 / nullif(sqrt(v1 / n1 + v0 / n0), 0.0) + 1e-9, 4) + 0.0
             AS z,
           round(cpp * cpp / nullif(vpre * vpost, 0.0) + 1e-9, 6)
             AS var_reduction
    FROM z
    """,
)
def events_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n0, n1, theta, mean_pre, adj_mean0, adj_mean1, z,
    var_reduction): CUPED-adjusted two-sample z between the hash
    arms; var_reduction is the squared pre/post correlation — the
    share of outcome variance the covariate removes (see header)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        utc_day().alias("day"),
        cents().alias("cents"),
    )
    b = _mid_day(e)
    dec = "decimal(38,0)"
    u = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("pre"),
            F.sum(
                F.when(F.col("day") >= F.col("mid"), F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("post"),
        )
        .select(
            knuth_bucket("user_id", 2)
            .cast("bigint")
            .alias("arm"),
            "pre",
            "post",
        )
    )
    m = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("pre").cast(dec)).alias("s1"),
        F.sum(F.col("post").cast(dec)).alias("s2"),
        F.sum(F.col("pre").cast(dec) * F.col("pre")).alias("s11"),
        F.sum(F.col("post").cast(dec) * F.col("post")).alias("s22"),
        F.sum(F.col("pre").cast(dec) * F.col("post")).alias("s12"),
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.sum("n").cast("bigint").alias("n"),
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}_{a}")
            for c in ("s1", "s2", "s11", "s22", "s12")
            for a in (0, 1)
        ],
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    tsum = lambda c: (F.col(f"{c}_0") + F.col(f"{c}_1")).cast("double")  # noqa: E731
    mpre = tsum("s1") / F.col("n")
    mpost = tsum("s2") / F.col("n")
    theta = (tsum("s12") / F.col("n") - mpre * mpost) / F.nullif(
        tsum("s11") / F.col("n") - mpre * mpre, F.lit(0.0)
    )
    t = w.select(
        "*",
        mpre.alias("mpre"),
        mpost.alias("mpost"),
        theta.alias("theta"),
    )

    def arm_exprs(a: str):
        n = F.col(f"n{a}")
        mp = d(f"s1_{a}") / n
        mo = d(f"s2_{a}") / n
        adj = mo - F.col("theta") * (mp - F.col("mpre"))
        v = F.greatest(
            d(f"s22_{a}") / n
            - mo * mo
            + F.col("theta") * F.col("theta") * (d(f"s11_{a}") / n - mp * mp)
            - 2 * F.col("theta") * (d(f"s12_{a}") / n - mp * mo),
            F.lit(0.0),
        )
        return adj, v

    adj0, v0 = arm_exprs("0")
    adj1, v1 = arm_exprs("1")
    npool = F.col("n0") + F.col("n1")
    vpost = tsum("s22") / npool - F.col("mpost") * F.col("mpost")
    vpre = tsum("s11") / npool - F.col("mpre") * F.col("mpre")
    cpp = tsum("s12") / npool - F.col("mpre") * F.col("mpost")
    z = t.select(
        "n0",
        "n1",
        "theta",
        "mpre",
        adj0.alias("adj0"),
        adj1.alias("adj1"),
        v0.alias("v0"),
        v1.alias("v1"),
        vpost.alias("vpost"),
        vpre.alias("vpre"),
        cpp.alias("cpp"),
    )
    return z.select(
        "n0",
        "n1",
        (F.round(F.col("theta") + F.lit(1e-9), 6) + F.lit(0.0)).alias("theta"),
        F.round(F.col("mpre") / 100 + F.lit(1e-9), 4).alias("mean_pre"),
        F.round(F.col("adj0") / 100 + F.lit(1e-9), 4).alias("adj_mean0"),
        F.round(F.col("adj1") / 100 + F.lit(1e-9), 4).alias("adj_mean1"),
        (
            F.round(
                (F.col("adj1") - F.col("adj0"))
                / F.nullif(
                    F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")),
                    F.lit(0.0),
                )
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("z"),
        F.round(
            F.col("cpp") * F.col("cpp")
            / F.nullif(F.col("vpre") * F.col("vpost"), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# Wald SPRT readout: a sequential probability-ratio test walk per
# event type over the ordered day axis — "is this type's share of
# daily traffic p1 rather than p0?", decided the moment the evidence
# crosses a boundary instead of at a fixed horizon (Wald 1945; the
# sequential-testing companion to events_power_analysis's fixed-n
# design and events_benjamini_hochberg's fixed-horizon family).
# Daily increment llr_d = n_t*ln(p1/p0) + (n-n_t)*ln((1-p1)/(1-p0));
# accept H1 at cum >= ln((1-beta)/alpha), H0 at cum <= ln(beta/(1-alpha)).
#
# Determinism: ln(p1/p0), ln((1-p1)/(1-p0)) and both decision
# boundaries are SHARED PYTHON LITERALS interpolated into both
# engines (the Benford rule — no engine libm in the tree); the daily
# increment is exact-integer counts times those literals (identical
# IEEE products), the cumulative walk folds identical doubles in
# identical day order over a <= SPRT_MAX_DAYS frame (gotcha #15 size
# bound — the walk is hard-truncated at 62 days, the EWMA horizon
# discipline, so the readout is "decide within the window or report
# 'continue'"), and every crossing compare pits identical doubles
# against a shared literal — so decision, decision_day and the llr
# extremes are bit-identical cross-engine before the display round.
#
# Scale shape: ONE partial-aggregated fact collapse to the bounded
# (type, day) frame, checkpointed (it feeds the day-total rollup and
# the walk join — sibling consumers, gotcha #14); the walk, the
# per-type summary and the crossing-row rejoin all run on <= |types|
# x 62 rows (the cum frame is checkpointed for its two consumers).
SPRT_P0 = 0.18
SPRT_P1 = 0.22
SPRT_ALPHA = 0.05
SPRT_BETA = 0.20
SPRT_MAX_DAYS = 62
_SPRT_L1 = math.log(SPRT_P1 / SPRT_P0)
_SPRT_L0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
_SPRT_A = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
_SPRT_B = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))


@register(
    "events_sprt_readout",
    tags=("events", "ab-test", "sprt", "sequential", "window"),
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST({DAY_SQL}
                  AS BIGINT) AS day
      FROM events
    ),
    td AS (
      SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_t
      FROM e GROUP BY 1, 2
    ),
    tot AS (
      SELECT day, CAST(sum(n_t) AS BIGINT) AS n_all FROM td GROUP BY 1
    ),
    walk AS (
      SELECT t.event_type, t.day,
             CAST(t.n_t AS DOUBLE) * {_SPRT_L1!r}
               + CAST(o.n_all - t.n_t AS DOUBLE) * {_SPRT_L0!r} AS inc,
             row_number() OVER (
               PARTITION BY t.event_type ORDER BY t.day) AS i
      FROM td t JOIN tot o ON o.day = t.day
    ),
    cum AS (
      SELECT event_type, day, CAST(i AS BIGINT) AS i,
             sum(inc) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS llr
      FROM walk WHERE i <= {SPRT_MAX_DAYS}
    ),
    summ AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             arg_max(llr, i) AS final_raw,
             max(llr) AS max_raw, min(llr) AS min_raw,
             min(CASE WHEN llr >= {_SPRT_A!r} OR llr <= {_SPRT_B!r}
                      THEN i END) AS cross_i
      FROM cum GROUP BY event_type
    )
    SELECT s.event_type, s.n_days,
           CASE WHEN c.llr IS NULL THEN 'continue'
                WHEN c.llr >= {_SPRT_A!r} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           CAST(coalesce(c.day, -1) AS BIGINT) AS decision_day,
           round(s.final_raw + 1e-9, 6) + 0.0 AS final_llr,
           round(s.max_raw + 1e-9, 6) + 0.0 AS max_llr,
           round(s.min_raw + 1e-9, 6) + 0.0 AS min_llr
    FROM summ s LEFT JOIN cum c
      ON c.event_type = s.event_type AND c.i = s.cross_i
    """,
)
def events_sprt_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, decision, decision_day, final_llr,
    max_llr, min_llr): Wald SPRT walk per event type on its daily
    traffic share, H0 p0=0.18 vs H1 p1=0.22 (SPRT_P0/SPRT_P1 above;
    boundaries and log terms are shared Python literals, the walk is
    bit-identical cross-engine)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", utc_day().alias("day")
    )
    td = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    # Feeds the day-total rollup AND the walk join (differently-shaped
    # siblings, gotcha #14) — checkpoint the bounded (type, day) frame.
    td = td.localCheckpoint(eager=True)
    tot = td.groupBy("day").agg(F.sum("n_t").cast("bigint").alias("n_all"))
    w = Window.partitionBy("event_type").orderBy("day")
    walk = (
        td.join(F.broadcast(tot), "day")
        .select(
            "event_type",
            "day",
            (
                F.col("n_t").cast("double") * F.lit(_SPRT_L1)
                + (F.col("n_all") - F.col("n_t")).cast("double")
                * F.lit(_SPRT_L0)
            ).alias("inc"),
        )
        .withColumn("i", F.row_number().over(w).cast("bigint"))
        .filter(F.col("i") <= SPRT_MAX_DAYS)
    )
    cum = walk.withColumn(
        "llr",
        F.sum("inc").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).select("event_type", "day", "i", "llr")
    # Two consumers (the per-type summary and the crossing-row
    # rejoin) — checkpoint the <= |types| x 62-row frame (gotcha #9).
    cum = cum.localCheckpoint(eager=True)
    is_cross = (F.col("llr") >= F.lit(_SPRT_A)) | (
        F.col("llr") <= F.lit(_SPRT_B)
    )
    summ = cum.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max_by("llr", "i").alias("final_raw"),
        F.max("llr").alias("max_raw"),
        F.min("llr").alias("min_raw"),
        F.min(F.when(is_cross, F.col("i"))).alias("cross_i"),
    )
    c = cum.select(
        F.col("event_type").alias("ct"),
        F.col("i").alias("ci"),
        F.col("day").alias("cross_day"),
        F.col("llr").alias("cross_llr"),
    )
    return (
        summ.join(
            c,
            (F.col("event_type") == F.col("ct"))
            & (F.col("cross_i") == F.col("ci")),
            "left",
        )
        .select(
            "event_type",
            "n_days",
            F.when(F.col("cross_llr").isNull(), F.lit("continue"))
            .when(F.col("cross_llr") >= F.lit(_SPRT_A), F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
            F.coalesce(F.col("cross_day"), F.lit(-1))
            .cast("bigint")
            .alias("decision_day"),
            (F.round(F.col("final_raw") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "final_llr"
            ),
            (F.round(F.col("max_raw") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "max_llr"
            ),
            (F.round(F.col("min_raw") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "min_llr"
            ),
        )
    )


# --------------------------------------------------------------------------
# Page-Hinkley mean-drift detector per event type: the streaming
# change-detection companion to events_cusum_changepoint (CUSUM finds
# the most likely PAST shift; Page-Hinkley answers "has the daily
# mean drifted UP enough to alarm, and on which day") — the standard
# drift monitor data pipelines run on model-input streams (Page 1954;
# Gama et al. 2014 variant with the running mean as the baseline).
# Per day t: m_t = sum_{i<=t} (x_i - xbar_i - delta) with xbar_i the
# running mean of the first i days (inclusive), M_t = min m_t, and
# the alarm fires when PH_t = m_t - M_t > lambda.
#
# Determinism: daily means are 6dp-LOCKED before any cross-day
# arithmetic (the CUSUM discipline); the running mean is cum/i — one
# identical division per step; every fold (cum x, cum terms, running
# min) adds/compares identical doubles in identical day order, and
# delta/lambda are shared Python literals — so PH_t, the alarm day
# and the flag are bit-identical cross-engine. Magnitude bound
# (gotcha #17): terms are O(daily mean) ~ 1e2, so even a years-long
# 1000-day frame accumulates ~1e-11 of fold noise against a 1e-6
# tick — no truncation needed (unlike the SPRT walk, whose terms
# scale with daily VOLUME).
#
# Scale shape: ONE partial-aggregated fact collapse to the bounded
# (type, day) daily-mean frame; all three folds share one per-type
# sort; the summary is a |types|-row aggregate (single chain — the
# alarm day comes from a conditional min, no rejoin).
PH_DELTA = 0.5
PH_LAMBDA = 10.0


@register(
    "events_page_hinkley_drift",
    tags=("events", "drift", "changepoint", "page-hinkley", "window"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST({DAY_SQL}
                  AS BIGINT) AS day,
             round(avg(value) + 1e-9, 6) AS x
      FROM events GROUP BY 1, 2
    ),
    walk AS (
      SELECT event_type, day, x,
             CAST(row_number() OVER w AS BIGINT) AS i,
             sum(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    m AS (
      SELECT event_type, day, i,
             sum(x - cumx / i - {PH_DELTA!r}) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM walk
    ),
    ph AS (
      SELECT event_type, day, i, mt,
             mt - min(mt) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pht
      FROM m
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(max(pht) + 1e-9, 6) + 0.0 AS ph_max,
           CAST(coalesce(min(CASE WHEN pht > {PH_LAMBDA!r} THEN day END),
                         -1) AS BIGINT) AS alarm_day,
           CAST(max(CASE WHEN pht > {PH_LAMBDA!r} THEN 1 ELSE 0 END)
                AS BIGINT) AS alarmed
    FROM ph GROUP BY event_type
    """,
)
def events_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, ph_max, alarm_day, alarmed): Page-Hinkley
    upward mean-drift statistic over 6dp-locked daily means, with the
    first alarm day at lambda=10.0 (PH_LAMBDA above; the walk is
    bit-identical cross-engine)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        utc_day().alias("day"),
        "value",
    )
    daily = e.groupBy("event_type", "day").agg(
        F.round(F.avg("value") + F.lit(1e-9), 6).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.sum("x").over(wrun).alias("cumx"),
    )
    m = walk.withColumn(
        "mt",
        F.sum(
            F.col("x") - F.col("cumx") / F.col("i") - F.lit(PH_DELTA)
        ).over(wrun),
    )
    ph = m.withColumn("pht", F.col("mt") - F.min("mt").over(wrun))
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.round(F.max("pht") + F.lit(1e-9), 6) + F.lit(0.0)).alias("ph_max"),
        F.coalesce(
            F.min(F.when(F.col("pht") > F.lit(PH_LAMBDA), F.col("day"))),
            F.lit(-1),
        )
        .cast("bigint")
        .alias("alarm_day"),
        F.max(
            F.when(F.col("pht") > F.lit(PH_LAMBDA), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("alarmed"),
    )


# --------------------------------------------------------------------------
# Little's law audit over the open-order queue (L = lambda * W): the
# classic capacity-planning identity, computed by TWO independent
# plans whose agreement is hashed — (1) the per-order route: total
# order-days = sum(close - open + 1) per order, and (2) the
# sweep-line route: the time integral of the concurrent-open count
# (orders_open_backlog_daily's delta/running-sum frame, weighted by
# the gap to the next change day). Both are EXACT integer sums, so
# order_days == order_days_sweep must hold bit-for-bit in both
# engines (sweep_matches = 1), and lambda (arrivals/day), W (mean
# days open) and L (time-average backlog) are single divisions of
# exact integers — identical IEEE doubles cross-engine (the
# supplier_reliability_wilson discipline; no float folds anywhere,
# gotchas #15/#17 trivially satisfied).
#
# Scale shape: ONE fact shuffle (the per-order close agg; orders
# joins on the same key so AQE co-partitions). The per-order frame is
# eager-checkpointed (gotcha #9: the direct agg and the delta explode
# are SIBLING consumers under the final join and would otherwise both
# re-run the fact lineage). The delta explode doubles only the
# AGGREGATED frame; the running-sum/lead window runs on the per-day
# frame (calendar-bounded, ~2400 rows — the open_backlog precedent),
# and the final join is a 1-row x 1-row BNLJ.
@register(
    "orders_queue_little_law",
    tags=("orders", "lineitem", "queue", "interval", "stats", "window"),
    oracle=f"""
    WITH {_ORDER_DELTAS_SQL},
    direct AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(date_diff('day', open_d, close_d) + 1) AS BIGINT)
               AS order_days,
             CAST(date_diff('day', min(open_d), max(close_d)) + 1 AS BIGINT)
               AS n_days
      FROM close
    ),
    daily AS (
      SELECT CAST(day AS DATE) AS day, CAST(sum(d) AS BIGINT) AS delta
      FROM delta GROUP BY day
    ),
    run AS (
      SELECT day,
             CAST(sum(delta) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS open_count,
             lead(day) OVER (ORDER BY day) AS nxt
      FROM daily
    ),
    sweep AS (
      SELECT CAST(sum(open_count * date_diff('day', day, nxt)) AS BIGINT)
               AS order_days_sweep
      FROM run WHERE nxt IS NOT NULL
    )
    SELECT d.n_orders, d.n_days, d.order_days, s.order_days_sweep,
           CAST(CASE WHEN d.order_days = s.order_days_sweep
                     THEN 1 ELSE 0 END AS BIGINT) AS sweep_matches,
           round(CAST(d.n_orders AS DOUBLE) / d.n_days + 1e-9, 6)
             AS lambda_per_day,
           round(CAST(d.order_days AS DOUBLE) / d.n_orders + 1e-9, 6)
             AS w_days,
           round(CAST(d.order_days AS DOUBLE) / d.n_days + 1e-9, 6)
             AS l_backlog,
           round((CAST(d.n_orders AS DOUBLE) / d.n_days)
                 * (CAST(d.order_days AS DOUBLE) / d.n_orders) + 1e-9, 6)
             AS l_little
    FROM direct d, sweep s
    """,
)
def orders_queue_little_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_orders, n_days, order_days, order_days_sweep, sweep_matches,
    lambda_per_day, w_days, l_backlog, l_little): Little's law audit
    — per-order total open days vs the sweep-line time integral of
    the concurrent-open count (exact-integer equality, hashed), plus
    arrival rate, mean time-in-system and time-average backlog as
    single divisions of exact integers (see header)."""
    # gotcha #9: direct agg + delta explode are sibling consumers
    # under the final join — lazy persist could be missed
    # concurrently; eager checkpoint the aggregated frame.
    close = _order_spans(spark, sf_dir).localCheckpoint(eager=True)
    direct = close.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.datediff("close_d", "open_d") + F.lit(1))
        .cast("bigint")
        .alias("order_days"),
        (F.datediff(F.max("close_d"), F.min("open_d")) + F.lit(1))
        .cast("bigint")
        .alias("n_days"),
    )
    daily = _order_deltas(close).groupBy("day").agg(
        F.sum("d").cast("bigint").alias("delta")
    )
    wrun = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = daily.select(
        "day",
        F.sum("delta").over(wrun).cast("bigint").alias("open_count"),
        F.lead("day").over(Window.orderBy("day")).alias("nxt"),
    )
    sweep = run.where(F.col("nxt").isNotNull()).agg(
        F.sum(F.col("open_count") * F.datediff("nxt", "day"))
        .cast("bigint")
        .alias("order_days_sweep")
    )
    j = direct.crossJoin(sweep)
    return j.select(
        "n_orders",
        "n_days",
        "order_days",
        "order_days_sweep",
        F.when(F.col("order_days") == F.col("order_days_sweep"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("sweep_matches"),
        F.round(
            F.col("n_orders").cast("double") / F.col("n_days") + F.lit(1e-9), 6
        ).alias("lambda_per_day"),
        F.round(
            F.col("order_days").cast("double") / F.col("n_orders") + F.lit(1e-9),
            6,
        ).alias("w_days"),
        F.round(
            F.col("order_days").cast("double") / F.col("n_days") + F.lit(1e-9), 6
        ).alias("l_backlog"),
        F.round(
            (F.col("n_orders").cast("double") / F.col("n_days"))
            * (F.col("order_days").cast("double") / F.col("n_orders"))
            + F.lit(1e-9),
            6,
        ).alias("l_little"),
    )


# --------------------------------------------------------------------------
# Recurrence-depth cohorts: for each event type, order every user's
# occurrences by (ts, event_id) and study the k-th repeat — how many
# users ever reach depth k (retention vs depth k-1) and the latency
# distribution from the (k-1)-th to the k-th occurrence (mean / p50 /
# p90 seconds). The product-analytics "time to k-th action" curve:
# habit-forming features show retention plateaus with shrinking
# latencies; churn-prone ones show monotone retention decay with
# stretching gaps. K is fixed (RECURRENCE_MAX_K) and the corpus is
# non-degenerate at every SF (depth ~13 on average; k=20 keeps a real
# dropoff tail: 5/39/397 rows at the three SFs).
#
# Determinism: the per-user order is the unique (us, event_id) key,
# so both engines difference identical integer-microsecond sequences;
# counts and latency sums are exact integers (the sum in
# decimal(38,0)/HUGEINT — micros x crawl-scale users passes 2^63);
# p50/p90 ride the r7-verified BIT-EXACT Spark `percentile` == DuckDB
# `quantile_cont` parity on integer inputs; retention / mean / unit
# conversions are single division chains of identical doubles (no
# folds — gotchas #15/#17 trivially satisfied).
RECURRENCE_MAX_K = 20


@register(
    "events_recurrence_cohorts",
    tags=("events", "retention", "percentile", "window"),
    oracle=f"""
    WITH s AS (
      SELECT event_type, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ),
    r AS (
      SELECT event_type, user_id,
             row_number() OVER (
               PARTITION BY event_type, user_id ORDER BY us, event_id
             ) AS k,
             us - lag(us) OVER (
               PARTITION BY event_type, user_id ORDER BY us, event_id
             ) AS lat
      FROM s
    ),
    g AS (
      SELECT event_type, k,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(lat) AS DOUBLE) AS total_lat,
             quantile_cont(lat, 0.5) AS p50,
             quantile_cont(lat, 0.9) AS p90
      FROM r WHERE k <= {RECURRENCE_MAX_K} GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, k, n_users, total_lat, p50, p90,
             lag(n_users) OVER (
               PARTITION BY event_type ORDER BY k
             ) AS n_prev
      FROM g
    )
    SELECT event_type, CAST(k AS INTEGER) AS k, n_users,
           round(CAST(n_users AS DOUBLE) / n_prev + 1e-9, 6) AS retention,
           round(total_lat / n_users / 1000000.0 + 1e-9, 4) AS mean_s,
           round(p50 / 1000000.0 + 1e-9, 4) AS p50_s,
           round(p90 / 1000000.0 + 1e-9, 4) AS p90_s
    FROM x WHERE k >= 2
    """,
)
def events_recurrence_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, k, n_users, retention, mean_s, p50_s, p90_s) for
    k = 2..RECURRENCE_MAX_K: users reaching the k-th occurrence,
    retention vs depth k-1, and the (k-1)->k latency mean/p50/p90 in
    seconds (see header for the determinism audit).

    Scale shape: ONE fact shuffle — the (event_type, user_id) window
    sort shared by row_number and lag (the sequence-op shape); the
    (type, k) aggregate partial-aggregates counts/sums map-side
    (percentile is holistic per group — the crawl-scale swap is
    approx_percentile, the events_winsorize_stats note); the
    retention lag runs on the <= |types| x K row frame partitioned
    by type. No joins, no checkpoints."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("us", "event_id")
    r = (
        e.select(
            "event_type",
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .withColumn("k", F.row_number().over(w))
        .withColumn("lat", F.col("us") - F.lag("us").over(w))
        .filter(F.col("k") <= RECURRENCE_MAX_K)
    )
    g = r.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("lat").cast("decimal(38,0)")).cast("double").alias("total_lat"),
        F.expr("percentile(lat, 0.5)").alias("p50"),
        F.expr("percentile(lat, 0.9)").alias("p90"),
    )
    wk = Window.partitionBy("event_type").orderBy("k")
    x = g.withColumn("n_prev", F.lag("n_users").over(wk))
    return x.filter(F.col("k") >= 2).select(
        "event_type",
        "k",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.col("n_prev") + F.lit(1e-9), 6
        ).alias("retention"),
        F.round(
            F.col("total_lat") / F.col("n_users") / F.lit(1000000.0)
            + F.lit(1e-9),
            4,
        ).alias("mean_s"),
        F.round(F.col("p50") / F.lit(1000000.0) + F.lit(1e-9), 4).alias("p50_s"),
        F.round(F.col("p90") / F.lit(1000000.0) + F.lit(1e-9), 4).alias("p90_s"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily revenue per order priority: is
# the above/below-median sign sequence of a priority class's daily
# revenue RANDOM over time, or does it cluster (momentum / regime
# persistence) or alternate (mean reversion / over-smoothing)? The
# nonparametric randomness check an ops review runs before trusting
# any trend narrative — too FEW runs = persistent regimes, too MANY
# = oscillation.
#
# Determinism: daily revenue is exact integer cents; the per-priority
# median rides the bit-exact Spark percentile == DuckDB quantile_cont
# parity (integer inputs); sign comparisons are identical doubles on
# both engines; runs/n_above/n_below are exact integer counts over
# the unique day order; E[R] = 1 + 2*n1*n2/n and
# Var[R] = 2*n1*n2*(2*n1*n2-n) / (n^2*(n-1)) assemble from exact
# integer products (days are calendar-bounded so products stay tiny);
# z is one subtraction + one sqrt + one division of identical doubles
# (signed near-zero -> the +0.0 guard). Days equal to the median are
# dropped (the standard treatment) — the drop set is identical
# cross-engine because both compare the same exact-cents double
# against the same median double.
@register(
    "orders_runs_test",
    tags=("orders", "stats", "nonparametric", "runs-test", "percentile"),
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT pr, quantile_cont(rev, 0.5) AS med FROM d GROUP BY pr
    ),
    s AS (
      SELECT d.pr, d.day,
             CASE WHEN CAST(d.rev AS DOUBLE) > m.med THEN 1 ELSE 0 END AS sgn
      FROM d JOIN m USING (pr)
      WHERE CAST(d.rev AS DOUBLE) <> m.med
    ),
    r AS (
      SELECT pr, sgn,
             CASE WHEN lag(sgn) OVER (PARTITION BY pr ORDER BY day)
                       IS DISTINCT FROM sgn
                  THEN 1 ELSE 0 END AS brk
      FROM s
    ),
    g AS (
      SELECT pr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sgn) AS BIGINT) AS n1,
             CAST(count(*) - sum(sgn) AS BIGINT) AS n2,
             CAST(sum(brk) AS BIGINT) AS n_runs
      FROM r GROUP BY pr
    )
    SELECT pr AS o_orderpriority, n AS n_days, n1 AS n_above,
           n2 AS n_below, n_runs,
           round(1.0 + CAST(2 * n1 * n2 AS DOUBLE) / n + 1e-9, 4)
             AS expected_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
             round((CAST(n_runs AS DOUBLE)
                    - (1.0 + CAST(2 * n1 * n2 AS DOUBLE) / n))
                   / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n) AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n * (n - 1)))
                   + 1e-9, 4) + 0.0
           END AS z
    FROM g
    """,
)
def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, n_days, n_above, n_below, n_runs,
    expected_runs, z): Wald-Wolfowitz runs test of the above/below-
    median daily-revenue sign sequence per priority (see header).

    Scale shape: ONE fact shuffle — the (priority, day) partial
    aggregate (integer cents sum map-side); the median is a per-
    priority holistic agg over the calendar-bounded daily frame
    (<= ~2400 rows/priority at ANY fact volume), broadcast back; the
    sign/lag window and the final fold run on the same bounded frame.
    Nothing downstream of the first exchange scales with the fact."""
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    m = d.groupBy("pr").agg(F.expr("percentile(rev, 0.5)").alias("med"))
    s = (
        d.join(F.broadcast(m), "pr")
        .filter(F.col("rev").cast("double") != F.col("med"))
        .select(
            "pr",
            "day",
            F.when(F.col("rev").cast("double") > F.col("med"), 1)
            .otherwise(0)
            .alias("sgn"),
        )
    )
    w = Window.partitionBy("pr").orderBy("day")
    r = s.withColumn(
        "brk",
        F.when(
            ~F.lag("sgn").over(w).eqNullSafe(F.col("sgn")), 1
        ).otherwise(0),
    )
    g = r.groupBy("pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sgn").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sgn")).cast("bigint").alias("n2"),
        F.sum("brk").cast("bigint").alias("n_runs"),
    )
    two_n1n2 = F.lit(2) * F.col("n1") * F.col("n2")
    e_runs = F.lit(1.0) + two_n1n2.cast("double") / F.col("n")
    var = (two_n1n2 * (two_n1n2 - F.col("n"))).cast("double") / (
        F.col("n").cast("double") * F.col("n") * (F.col("n") - F.lit(1))
    )
    return g.select(
        F.col("pr").alias("o_orderpriority"),
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "n_runs",
        F.round(e_runs + F.lit(1e-9), 4).alias("expected_runs"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n") > 1),
            F.round(
                (F.col("n_runs").cast("double") - e_runs) / F.sqrt(var)
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0),
        ).alias("z"),
    )
