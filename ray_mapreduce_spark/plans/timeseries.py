"""Time-series / hypertable-style operators over ``events`` (the
"hypertable rollup" family a timescale-style engine exposes): a
multi-granularity rollup computed in one pass, per-bucket OHLC via
argmin/argmax aggregates, and spine gap-fill for missing buckets.

All three are pure DataFrame plans with DuckDB oracles; timestamps
export as unix micros (pairing rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grain import CENTS_SQL, DAY_SQL, cents, utc_day
from ..sources import load_table
from .registry import register


# Multi-granularity rollup: day totals AND (day, hour) details from
# ONE scan via GROUPING SETS — the continuous-aggregate shape; at
# scale the coarse level shares the fine level's partial aggregation
# instead of re-scanning the fact table per granularity.
@register(
    "timeseries_rollup_hierarchy",
    tags=("timeseries", "rollup", "grouping-sets"),
    oracle="""
    SELECT
      epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))  AS day_us,
      coalesce(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))), -1) AS hour_us,
      count(*)             AS n,
      round(sum(value), 2) AS total_value
    FROM events
    GROUP BY GROUPING SETS (
      (date_trunc('day', CAST(ts AS TIMESTAMP))),
      (date_trunc('day', CAST(ts AS TIMESTAMP)), date_trunc('hour', CAST(ts AS TIMESTAMP)))
    )
    """,
)
def timeseries_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    e.createOrReplaceTempView("events_ts_rollup")
    return spark.sql(
        """
        SELECT unix_micros(day)                 AS day_us,
               coalesce(unix_micros(hour), -1)  AS hour_us,
               count(*)                         AS n,
               round(sum(value), 2)             AS total_value
        FROM events_ts_rollup
        GROUP BY GROUPING SETS ((day), (day, hour))
        """
    )


# Per-bucket OHLC (open/high/low/close): open/close via min_by/max_by
# on the timestamp (argmin/argmax aggregates — one pass, no window,
# no self-join; ties broken by event_id for determinism).
@register(
    "timeseries_ohlc",
    tags=("timeseries", "aggregate", "argmax"),
    oracle="""
    SELECT event_type,
           epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
           round(min_by(value, format('{:020d}{:012d}', epoch_us(CAST(ts AS TIMESTAMP)), event_id)), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max_by(value, format('{:020d}{:012d}', epoch_us(CAST(ts AS TIMESTAMP)), event_id)), 2) AS close
    FROM events
    GROUP BY 1, 2
    """,
)
def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # argmin/argmax key: fixed-width zero-padded (micros, event_id)
    # string — lexicographic order == numeric order, and a scalar key
    # is portable across engines (struct keys aren't).
    key = F.format_string("%020d%012d", F.unix_micros("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type", F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us")
        )
        .agg(
            F.round(F.min_by("value", key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", key), 2).alias("close"),
        )
    )


# Spine gap-fill: generate the complete hourly spine per event_type
# (from the type's min to max hour), left-join observed counts, fill
# zeros. The spine is sequence+explode over per-type bounds — one
# tiny agg + a generator, never a driver loop; the join is an
# equi-join on (event_type, hour).
@register(
    "timeseries_gapfill",
    tags=("timeseries", "gapfill", "generator"),
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
             date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
      FROM events GROUP BY event_type
    ),
    spine AS (
      SELECT b.event_type, s.h AS hour
      FROM bounds b, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS s(h)
    ),
    observed AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             count(*) AS n_obs
      FROM events GROUP BY 1, 2
    )
    SELECT s.event_type,
           epoch_us(s.hour)          AS hour_us,
           coalesce(o.n_obs, 0)      AS n
    FROM spine s
    LEFT JOIN observed o
      ON o.event_type = s.event_type AND o.hour = s.hour
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    bounds = e.groupBy("event_type").agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    observed = e.groupBy("event_type", hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    return (
        spine.join(observed, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.unix_micros("hour").alias("hour_us"),
            F.coalesce("n_obs", F.lit(0)).alias("n"),
        )
    )


# Time-weighted average value (TWAP): each event's value "holds"
# until the type's next event, so the mean is weighted by holding
# duration — the correct average for irregularly-sampled series
# (a reading that lasted an hour should count 3600x one that lasted
# a second). Integer discipline end-to-end: values in 1e-4 quanta,
# durations in whole seconds, so both engines sum identical integers
# and divide once at output.
@register(
    "timeseries_twap",
    tags=("timeseries", "window", "weighted-mean"),
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 10000) AS BIGINT) AS vq,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
             ) AS nxt_us
      FROM events
    ),
    iv AS (
      SELECT event_type, vq, (nxt_us - us) // 1000000 AS gap_s
      FROM q WHERE nxt_us IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(gap_s) AS BIGINT) AS total_seconds,
           round(CAST(sum(vq * gap_s) AS DOUBLE)
                 / (10000.0 * nullif(sum(gap_s), 0)), 4) AS twap,
           round(CAST(sum(vq) AS DOUBLE) / (10000.0 * count(*)), 4)
             AS unweighted_mean
    FROM iv GROUP BY 1
    """,
)
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_intervals, total_seconds, twap, unweighted_mean):
    duration-weighted vs plain mean per type. Determinism: the window
    sorts on (us, event_id) — tied timestamps pair a 0-second gap
    with whichever value, contributing 0 either way, and the LAST row
    of a tie run is pinned by the event_id tiebreak; vq*gap_s stays
    under 2^63 (|value| ~ 1e2 -> vq ~ 1e6; gap_s < 3e6 within the
    one-month axis; ANSI would raise loudly, not corrupt, if data
    scale ever grew past that — then switch vq to 1e-2 quanta).
    Scale shape: ONE shuffle on event_type shared by the lead window
    and the aggregate (the agg reuses the window's partitioning);
    map-side partial agg on integer sums."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("vq"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )

    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    iv = (
        e.withColumn("nxt_us", F.lead("us").over(w))
        .filter(F.col("nxt_us").isNotNull())
        .select(
            "event_type",
            "vq",
            F.expr("(nxt_us - us) div 1000000").alias("gap_s"),
        )
    )
    return iv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("gap_s").cast("bigint").alias("total_seconds"),
        F.round(
            F.sum(F.col("vq") * F.col("gap_s")).cast("double")
            / (F.lit(10000.0) * F.nullif(F.sum("gap_s"), F.lit(0))),
            4,
        ).alias("twap"),
        F.round(
            F.sum("vq").cast("double") / (F.lit(10000.0) * F.count(F.lit(1))), 4
        ).alias("unweighted_mean"),
    )


# --------------------------------------------------------------------------
# The daily mean value of the events series (timeseries_acf_lags,
# timeseries_rolling_median, timeseries_metric_correlations): an
# exact cent sum over 100 * count, locked to 6dp so the later
# statistics start from identical doubles on both engines.
_DAILY_MEAN_SQL = (
    f"round(CAST(CAST(sum({CENTS_SQL}) AS BIGINT) AS DOUBLE) / (100.0 * count(*)), 6) AS meanv"
)


def _daily_mean() -> Column:
    """The Spark twin of ``_DAILY_MEAN_SQL``, an aggregate over a
    day-grouped events frame."""
    return F.round(
        F.sum(cents()).cast("double") / (F.lit(100.0) * F.count(F.lit(1))), 6
    ).alias("meanv")


# --------------------------------------------------------------------------
# Autocorrelation function at lags 1..7 of the daily series — the
# seasonality/persistence diagnostic behind forecast-model choice
# (weekly cadence shows as a lag-7 peak). Two series per lag: the
# daily event COUNT (integer-exact: products and sums of bigints,
# identical ratios cross-engine) and the daily MEAN value (6dp-locked
# first — the CUSUM discipline — then six-sum Pearson under the bias).
@register(
    "timeseries_acf_lags",
    tags=("timeseries", "autocorrelation", "aggregate"),
    oracle=f"""
    WITH d AS (
      SELECT {DAY_SQL} AS day,
             CAST(count(*) AS BIGINT) AS cnt,
             {_DAILY_MEAN_SQL}
      FROM events GROUP BY 1
    ),
    p AS (
      SELECT l.lag, a.cnt AS xc, b.cnt AS yc, a.meanv AS xv, b.meanv AS yv
      FROM (SELECT unnest(range(1, 8)) AS lag) l
      JOIN d a ON true
      JOIN d b ON b.day = a.day + l.lag
    ),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS sxc, CAST(sum(yc) AS BIGINT) AS syc,
             CAST(sum(xc * xc) AS BIGINT) AS sxxc,
             CAST(sum(yc * yc) AS BIGINT) AS syyc,
             CAST(sum(xc * yc) AS BIGINT) AS sxyc,
             sum(xv) AS sxv, sum(yv) AS syv, sum(xv * xv) AS sxxv,
             sum(yv * yv) AS syyv, sum(xv * yv) AS sxyv
      FROM p GROUP BY 1
    )
    SELECT lag, n AS n_pairs,
           round(CAST(n * sxyc - sxc * syc AS DOUBLE)
                 / sqrt(CAST(n * sxxc - sxc * sxc AS DOUBLE)
                        * CAST(n * syyc - syc * syc AS DOUBLE)) + 1e-9, 6)
             + 0.0 AS r_count,
           round((n * sxyv - sxv * syv)
                 / sqrt((n * sxxv - sxv * sxv) * (n * syyv - syv * syv))
                 + 1e-9, 6) + 0.0 AS r_value
    FROM s
    """,
)
def timeseries_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lag, n_pairs, r_count, r_value): sample ACF at lags 1..7 over
    the daily count and daily mean-value series. Determinism: the
    fact collapses to one row per day FIRST (integer cent sums); the
    count-series Pearson is exact-integer arithmetic, the value
    series is 6dp-locked before the six-sum fold so the only
    cross-engine divergence is n*ulp under the 1e-9 bias; sqrt is
    IEEE correctly-rounded (the temperature-mixture precedent).
    Scale shape: one per-day partial aggregation of the fact,
    eager-checkpointed — it fans out to BOTH join sides, which are
    differing sibling subtrees built concurrently (no exchange reuse
    possible, gotcha #9; ADVICE r9) — then the lag joins and the
    Pearson folds run on the tiny daily frame (days x 7 rows) with
    the 7-row lag spine broadcast."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(utc_day().alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        _daily_mean(),
    )
    d = d.localCheckpoint(eager=True)
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = d.crossJoin(F.broadcast(lags)).select(
        "lag",
        (F.col("day") + F.col("lag")).alias("day_j"),
        F.col("cnt").alias("xc"),
        F.col("meanv").alias("xv"),
    )
    b = d.select(
        F.col("day").alias("day_j"), F.col("cnt").alias("yc"), F.col("meanv").alias("yv")
    )
    p = a.join(b, "day_j")
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sxc"),
        F.sum("yc").cast("bigint").alias("syc"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("sxxc"),
        F.sum(F.col("yc") * F.col("yc")).cast("bigint").alias("syyc"),
        F.sum(F.col("xc") * F.col("yc")).cast("bigint").alias("sxyc"),
        F.sum("xv").alias("sxv"),
        F.sum("yv").alias("syv"),
        F.sum(F.col("xv") * F.col("xv")).alias("sxxv"),
        F.sum(F.col("yv") * F.col("yv")).alias("syyv"),
        F.sum(F.col("xv") * F.col("yv")).alias("sxyv"),
    )
    covc = F.col("n") * F.col("sxyc") - F.col("sxc") * F.col("syc")
    vxc = F.col("n") * F.col("sxxc") - F.col("sxc") * F.col("sxc")
    vyc = F.col("n") * F.col("syyc") - F.col("syc") * F.col("syc")
    covv = F.col("n") * F.col("sxyv") - F.col("sxv") * F.col("syv")
    vxv = F.col("n") * F.col("sxxv") - F.col("sxv") * F.col("sxv")
    vyv = F.col("n") * F.col("syyv") - F.col("syv") * F.col("syv")
    return s.select(
        "lag",
        F.col("n").alias("n_pairs"),
        (
            F.round(
                covc.cast("double")
                / F.sqrt(vxc.cast("double") * vyc.cast("double"))
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("r_count"),
        (
            F.round(
                covv / F.sqrt(vxv * vyv) + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("r_value"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day exact median per event type: the robust smoother a
# monitoring pipeline runs where a rolling MEAN would chase outliers.
# Cross-engine parity: the daily mean is 6dp-LOCKED first (integer
# cents, the CUSUM discipline), the ROWS window frames the same 7
# observed days on both engines (day is a unique ordering key within
# type), and Spark `percentile` == DuckDB `quantile_cont` produce the
# SAME linear-interpolated double over identical inputs (bit-exact —
# verified by events_winsorize_stats, r7).
@register(
    "timeseries_rolling_median",
    tags=("timeseries", "window", "percentile", "robust"),
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             {DAY_SQL} AS day,
             {_DAILY_MEAN_SQL}
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day,
           meanv + 0.0 AS day_mean,
           CAST(count(*) OVER w AS BIGINT) AS n_in_window,
           round(quantile_cont(meanv, 0.5) OVER w + 1e-9, 6) + 0.0
             AS rolling_median
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def timeseries_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, day_mean, n_in_window, rolling_median):
    trailing-7-observed-days median of the daily mean value.
    Determinism: locked daily means, unique (type, day) ordering,
    identical interpolated medians (see header note). Scale shape:
    the fact partial-aggregates to one row per (type, day); the
    rolling window runs on that tiny calendar-sized frame — one
    type-keyed exchange past the first aggregation."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        utc_day().alias("day"),
    ).agg(
        _daily_mean()
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return d.select(
        "event_type",
        "day",
        (F.col("meanv") + F.lit(0.0)).alias("day_mean"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_in_window"),
        (
            F.round(
                F.expr("percentile(meanv, 0.5)").over(w) + F.lit(1e-9), 6
            )
            + F.lit(0.0)
        ).alias("rolling_median"),
    )


# --------------------------------------------------------------------------
# Cross-metric correlation matrix over the daily series: do volume
# (count), intensity (mean value), and reach (distinct users) move
# together? The multivariate health diagnostic behind "is growth
# broad or whale-driven". Built on the ACF disciplines: integer
# legs (count, distinct users) make their moments exact; the mean
# leg is 6dp-locked first; each Pearson is the six-sum closed form
# folded from one tiny daily frame.
@register(
    "timeseries_metric_correlations",
    tags=("timeseries", "correlation", "aggregate"),
    oracle=f"""
    WITH d AS (
      SELECT {DAY_SQL} AS day,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(DISTINCT user_id) AS BIGINT) AS du,
             {_DAILY_MEAN_SQL}
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS sc, CAST(sum(du) AS BIGINT) AS sd,
             sum(meanv) AS sm,
             CAST(sum(cnt * cnt) AS BIGINT) AS scc,
             CAST(sum(du * du) AS BIGINT) AS sdd,
             sum(meanv * meanv) AS smm,
             CAST(sum(cnt * du) AS BIGINT) AS scd,
             sum(cnt * meanv) AS scm,
             sum(du * meanv) AS sdm
      FROM d
    )
    SELECT p.metric_a, p.metric_b, s.n AS n_days,
           round(p.num / sqrt(p.va * p.vb) + 1e-9, 6) + 0.0 AS r
    FROM s, LATERAL (
      SELECT * FROM (VALUES
        ('count', 'distinct_users',
         CAST(s.n * s.scd - s.sc * s.sd AS DOUBLE),
         CAST(s.n * s.scc - s.sc * s.sc AS DOUBLE),
         CAST(s.n * s.sdd - s.sd * s.sd AS DOUBLE)),
        ('count', 'mean_value',
         s.n * s.scm - s.sc * s.sm,
         CAST(s.n * s.scc - s.sc * s.sc AS DOUBLE),
         s.n * s.smm - s.sm * s.sm),
        ('distinct_users', 'mean_value',
         s.n * s.sdm - s.sd * s.sm,
         CAST(s.n * s.sdd - s.sd * s.sd AS DOUBLE),
         s.n * s.smm - s.sm * s.sm)
      ) AS t(metric_a, metric_b, num, va, vb)
    ) p
    """,
)
def timeseries_metric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric_a, metric_b, n_days, r): Pearson r between the daily
    count, distinct-user, and 6dp-locked mean-value series.
    Determinism: integer legs are exact; mixed sums add identical
    doubles with ~n·ulp noise far under the 6dp bias; sqrt is
    correctly rounded; signed-zero guard on r. Scale shape: one
    per-day partial aggregation of the fact (partial-distinct for
    users), a 1-row moment fold, and a 3-row literal explode."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(utc_day().alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.countDistinct("user_id").cast("bigint").alias("du"),
        _daily_mean(),
    )
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("sc"),
        F.sum("du").cast("bigint").alias("sd"),
        F.sum("meanv").alias("sm"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("scc"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("sdd"),
        F.sum(F.col("meanv") * F.col("meanv")).alias("smm"),
        F.sum(F.col("cnt") * F.col("du")).cast("bigint").alias("scd"),
        F.sum(F.col("cnt") * F.col("meanv")).alias("scm"),
        F.sum(F.col("du") * F.col("meanv")).alias("sdm"),
    )
    pairs = F.array(
        F.struct(
            F.lit("count").alias("metric_a"),
            F.lit("distinct_users").alias("metric_b"),
            (F.col("n") * F.col("scd") - F.col("sc") * F.col("sd"))
            .cast("double")
            .alias("num"),
            (F.col("n") * F.col("scc") - F.col("sc") * F.col("sc"))
            .cast("double")
            .alias("va"),
            (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd"))
            .cast("double")
            .alias("vb"),
        ),
        F.struct(
            F.lit("count").alias("metric_a"),
            F.lit("mean_value").alias("metric_b"),
            (F.col("n") * F.col("scm") - F.col("sc") * F.col("sm")).alias(
                "num"
            ),
            (F.col("n") * F.col("scc") - F.col("sc") * F.col("sc"))
            .cast("double")
            .alias("va"),
            (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")).alias(
                "vb"
            ),
        ),
        F.struct(
            F.lit("distinct_users").alias("metric_a"),
            F.lit("mean_value").alias("metric_b"),
            (F.col("n") * F.col("sdm") - F.col("sd") * F.col("sm")).alias(
                "num"
            ),
            (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd"))
            .cast("double")
            .alias("va"),
            (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")).alias(
                "vb"
            ),
        ),
    )
    x = s.select("n", F.explode(pairs).alias("p"))
    return x.select(
        F.col("p.metric_a").alias("metric_a"),
        F.col("p.metric_b").alias("metric_b"),
        F.col("n").alias("n_days"),
        (
            F.round(
                F.col("p.num") / F.sqrt(F.col("p.va") * F.col("p.vb"))
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("r"),
    )
