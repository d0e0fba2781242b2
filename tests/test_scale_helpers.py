"""Unit equivalence gates for the two-pass running-sum kernel
(functions/scale.py::two_pass_cumsum, VERDICT r9 #2; a rank is its
running sum of ``F.lit(1)``): on frames small enough
to run the engine-native single-partition window, the two-pass result
must be IDENTICAL — global and grouped rank, running sum, and the
derived ntile for every bucket count that divides unevenly. Random
frames with heavy ties in the value column exercise the unique-key
tiebreak contract."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pytest

from ray_mapreduce_spark.functions.scale import ntile_from_rank, two_pass_cumsum


def _frame(spark, n=500, groups=None, seed=11):
    rng = random.Random(seed)
    rows = [
        (
            i,
            rng.randint(0, 20),  # heavy ties
            rng.choice(groups) if groups else "g",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id: long, v: long, g: string")


def test_two_pass_rank_matches_native_global(spark):
    df = _frame(spark, 500)
    got = {
        r["id"]: r["rn"]
        for r in two_pass_cumsum(df, ["v", "id"], F.lit(1), "rn").collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
        ).collect()
    }
    assert got == want


def test_two_pass_rank_grouped_matches_native(spark):
    df = _frame(spark, 600, groups=["a", "b", "c"])
    got = {
        (r["g"], r["id"]): (r["rn"], r["tot"])
        for r in two_pass_cumsum(
            df, ["v", "id"], F.lit(1), "rn", total_col="tot", group_cols=["g"]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {
        (r["g"], r["id"]): (r["rn"], r["tot"])
        for r in df.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "tot",
            F.count(F.lit(1)).over(Window.partitionBy("g")).cast("bigint"),
        )
        .collect()
    }
    assert got == want


def test_two_pass_cumsum_matches_native(spark):
    df = _frame(spark, 500)
    got = {
        r["id"]: r["cs"]
        for r in two_pass_cumsum(df, ["v", "id"], "v", "cs").collect()
    }
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["cs"]
        for r in df.withColumn("cs", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_ntile_from_rank_matches_native_ntile(spark):
    # 103 rows / k in {4, 5, 7, 10}: every uneven split shape.
    df = _frame(spark, 103, seed=7)
    ranked = two_pass_cumsum(df, ["v", "id"], F.lit(1), "rn", total_col="tot")
    for k in (4, 5, 7, 10):
        got = {
            r["id"]: r["t"]
            for r in ranked.withColumn(
                "t", ntile_from_rank(F.col("rn"), F.col("tot"), k)
            ).collect()
        }
        want = {
            r["id"]: r["t"]
            for r in df.withColumn(
                "t", F.ntile(k).over(Window.orderBy("v", "id"))
            ).collect()
        }
        assert got == want, k


def test_two_pass_partition_invariance(spark):
    """The two-pass results must not depend on shuffle.partitions —
    the determinism contract the sweeps check at registry level,
    pinned here at helper level."""
    df = _frame(spark, 400, groups=["x", "y"])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for parts in ("32", "3"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            out[parts] = {
                (r["g"], r["id"]): r["rn"]
                for r in two_pass_cumsum(
                    df, ["v", "id"], F.lit(1), "rn", group_cols=["g"]
                ).collect()
            }
        assert out["32"] == out["3"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_ntile_from_rank_fewer_rows_than_buckets(spark):
    """n < k: every row gets its own bucket 1..n (SQL ntile). The
    otherwise-branch's sz=0 division must stay unevaluated for these
    rows (CaseWhen is lazy per row — pin that it doesn't raise under
    ANSI or return garbage)."""
    df = _frame(spark, 3, seed=3)
    ranked = two_pass_cumsum(df, ["v", "id"], F.lit(1), "rn", total_col="tot")
    got = {
        r["id"]: r["t"]
        for r in ranked.withColumn(
            "t", ntile_from_rank(F.col("rn"), F.col("tot"), 10)
        ).collect()
    }
    want = {
        r["id"]: r["t"]
        for r in df.withColumn(
            "t", F.ntile(10).over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want


def test_two_pass_cumsum_grouped_matches_native(spark):
    df = _frame(spark, 600, groups=["a", "b", "c"])
    got = {
        (r["g"], r["id"]): (r["cs"], r["tot"])
        for r in two_pass_cumsum(
            df, ["v", "id"], "v", "cs", total_col="tot", group_cols=["g"]
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["id"]): (r["cs"], r["tot"])
        for r in df.withColumn("cs", F.sum("v").over(w))
        .withColumn("tot", F.sum("v").over(Window.partitionBy("g")))
        .collect()
    }
    assert got == want


def test_two_pass_cumsum_rejects_scratch_names(spark):
    """The kernel adds and then drops its scratch columns, so an output
    or input column of the same name would vanish from the result; the
    call must fail at once and name the column instead."""
    df = _frame(spark, 10)
    with pytest.raises(ValueError, match="'_total'"):
        two_pass_cumsum(df, ["v", "id"], F.lit(1), "rn", total_col="_total")
    with pytest.raises(ValueError, match="'_pid'"):
        two_pass_cumsum(df, ["v", "id"], F.lit(1), "_pid")
    with pytest.raises(ValueError, match="'_lcs'"):
        two_pass_cumsum(df.withColumn("_lcs", F.lit(0)), ["v", "id"], "v", "cs")
