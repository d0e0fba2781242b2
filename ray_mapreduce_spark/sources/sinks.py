"""Sinks (SURVEY.md §2c "Sinks" row — ABSENT in the reference, which
only driver-prints results, reference basic_mr_month_count.py:46).

Thin, typed wrappers over ``df.write`` that encode the scale defaults:
parquet first, explicit partitioning columns for pruning, and a
bucketed saveAsTable path for shuffle-free downstream joins.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar sink. ``partition_by`` creates hive-style directories
    so downstream reads get partition pruning on those columns."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted saveAsTable: both sides of a recurring join
    written with the same bucketing never shuffle for that join — the
    pre-partitioning pattern that replaces the reference's fixed
    mapper->reducer sharding (reference mapreduce.py:68-71) with a
    durable on-disk layout."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other splittable columnar interchange format
    Spark ships natively (some lakehouse stacks standardize on it)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC source: schema travels in the file footer (no inference
    pass), predicate pushdown and column pruning work as with
    parquet."""
    return spark.read.orc(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 256,
    shuffle: bool = True,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_mb``-sized files; returns the output file count.

    The 100 TB maintenance op: streaming sinks and fine-grained
    ingestion leave thousands of KB-scale files per partition, and
    scan startup cost is per-file — compaction restores scan
    throughput. File count = ceil(input bytes / target), sized from
    the scan's own statistics (file-footer based; no data pass).
    ``shuffle=True`` repartitions for evenly-sized output (full
    shuffle — the default, since compaction jobs are about layout);
    ``shuffle=False`` coalesces instead (no shuffle, but file sizes
    inherit input skew). When the input fits in ONE file (n == 1) both
    modes coalesce: a single output file is balanced by construction,
    so the shuffle would buy nothing. Writes to a NEW directory —
    swap-in belongs to the caller's metastore/manifest layer, keeping
    the rewrite atomic-by-rename like every serious table format does.
    The output files are listed under the input's schema (no second
    schema-inference job)."""
    df = spark.read.parquet(src)
    size_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n = max(1, math.ceil(size_bytes / (target_mb * 1024 * 1024)))
    out = df.repartition(n) if shuffle and n > 1 else df.coalesce(n)
    out.write.mode("overwrite").parquet(dst)
    return len(spark.read.schema(df.schema).parquet(dst).inputFiles())


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 4,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-interleaved) layout writer: clusters rows so
    that files are tight in EVERY listed column at once, which is
    what makes multi-column min/max data skipping work (a range sort
    on col A gives perfect skipping on A and none on B; Z-ordering
    splits the benefit across all of them — the Delta/Iceberg
    OPTIMIZE ZORDER capability, reproduced on plain parquet).

    Mechanics: each column is quantile-bucketed into 2**bits levels
    using cut points from approxQuantile (driver collects only
    2**bits-1 doubles per column — no data pass beyond the sketch),
    the per-column bucket ids are bit-interleaved into a Morton code
    with Python-int shift counts (F.shiftleft takes plain ints), and
    the frame is repartitionByRange'd on (code, *cols) into n_files
    and written. Quantile (not min/max-linear) bucketing keeps the
    code balanced under skew. The write is layout-only: content is
    byte-identical to the input rows."""
    nq = (1 << bits) - 1
    probs = [i / (nq + 1) for i in range(1, nq + 1)]
    code = F.lit(0).cast("bigint")
    for ci, c in enumerate(cols):
        cuts = df.approxQuantile(c, probs, 0.001)
        bucket = F.lit(0)
        for cut in cuts:
            bucket = bucket + F.when(F.col(c) > cut, 1).otherwise(0)
        # interleave this column's bits at positions ci, ci+k, ci+2k, ...
        k = len(cols)
        for bit in range(bits):
            code = code + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)).cast("bigint"),
                ci + bit * k,
            )
    (
        df.withColumn("__zcode", code)
        .repartitionByRange(n_files, "__zcode", *cols)
        .drop("__zcode")
        .write.mode(mode)
        .parquet(path)
    )


def merge_upsert_parquet(
    spark: SparkSession,
    base: str,
    updates: DataFrame,
    dst: str,
    key: str | list[str],
    delete_col: str | None = None,
) -> dict[str, int]:
    """Copy-on-write MERGE (upsert + optional delete) into a plain
    parquet table — the Delta/Iceberg MERGE INTO capability without a
    table format: rows in ``updates`` replace base rows on ``key``,
    new keys append, and (when ``delete_col`` names a boolean column)
    delete-marked keys drop. Writes the merged table to a NEW
    directory; swap-in belongs to the caller's metastore/manifest
    layer (the compact_parquet atomicity contract). Returns
    {"inserted", "updated", "deleted", "total"} counts.

    Scale shape: TWO Spark actions (each Spark job costs a fixed
    60-100 ms, which dominates at CDC batch sizes).
    1. One stats aggregate, collected BEFORE the write: the update
       keys unioned with the base rows restricted to them by a left
       semi join (the update keys are broadcast whenever they fit, so
       only touched base rows reach the shuffle), grouped by key into
       update rows, base hits and max delete flag. Its one-row total
       carries the duplicate-key check, ``updated`` (surviving update
       rows whose key is in base), ``inserted`` (the other surviving
       update rows) and ``deleted`` (base rows matched by a
       delete-marked key).
    2. The write: ONE left-anti join of base against the update keys
       (hash equi-join, broadcast likewise) unioned with the surviving
       updates — base rows that don't collide stream through
       untouched, nothing is rewritten per-row. ``total`` is the row
       count an Observation takes as the write runs, so ``dst`` is
       never read back.
    At 100 TB with hive-partitioned bases, partition pruning confines
    the rewrite to partitions the update batch touches — pass the
    pruned base path in; this function stays layout-agnostic. Updates
    must be key-unique (enforced before anything is written — a
    duplicate-keyed MERGE is undefined in every table format; we raise
    instead of picking silently). Null keys never match: a null-keyed
    update inserts and a null-keyed base row survives. An update whose
    delete flag is null drops its key's base rows and is itself
    dropped, counted in none of the stats."""
    keys = [key] if isinstance(key, str) else list(key)
    b = spark.read.parquet(base)
    is_del = F.col(delete_col) if delete_col is not None else F.lit(False)
    upd = updates.select(*keys, F.lit(1).alias("__u"), is_del.alias("__del"))
    hit = b.join(updates.select(*keys), keys, "left_semi").select(
        *keys, F.lit(0).alias("__u"), F.lit(None).cast("boolean").alias("__del")
    )
    per_key = upd.unionByName(hit).groupBy(*keys).agg(
        F.sum("__u").alias("__n"),
        F.max("__del").alias("__del"),
        F.count(F.when(F.col("__u") == 0, 1)).alias("__hits"),
    )
    live, found = ~F.col("__del"), F.col("__hits") > 0
    stats = per_key.agg(
        F.count(F.when(F.col("__n") > 1, 1)).alias("dup"),
        F.count(F.when(live & ~found, 1)).alias("inserted"),
        F.count(F.when(live & found, 1)).alias("updated"),
        F.coalesce(F.sum(F.when(F.col("__del"), F.col("__hits"))), F.lit(0)).alias("deleted"),
    ).first()
    if stats["dup"] > 0:
        raise ValueError("updates contain duplicate merge keys")
    survivors = (
        updates.filter(~is_del).drop(delete_col) if delete_col is not None else updates
    )
    kept = b.join(updates.select(*keys), keys, "left_anti")
    merged = kept.select(*b.columns).union(survivors.select(*b.columns))
    written = Observation()
    merged = merged.observe(written, F.count(F.lit(1)).alias("rows"))
    merged.write.mode("overwrite").parquet(dst)
    return {
        "inserted": stats["inserted"],
        "updated": stats["updated"],
        "deleted": stats["deleted"],
        "total": written.get["rows"],
    }
