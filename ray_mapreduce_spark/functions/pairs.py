"""The blocked candidate-pair plan shape of every near-dup operator.

A count window over the block key caps each block's size; a self-join
of two identical sides on that key keeps ``a.id < b.id``, one row per
pair per shared block (deduplicating is the caller's job). The
window's hash exchange is the join's own distribution, so the join
adds none, and AQE reuses one exchange for both sides (gotcha #14).
``both_directions`` turns such an undirected pair list into the
directed edge list the graph operators walk.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_N = "_block_n"  # block-size column, dropped before returning


def canonical_pairs(
    df: DataFrame, keys: Sequence[str], id_col: str, other: DataFrame | None = None
) -> DataFrame:
    """``df`` as ``a`` joined to itself (or to ``other``) as ``b`` on
    equal ``keys`` with ``a.<id_col> < b.<id_col>``; callers select
    from ``a.*`` and ``b.*``."""
    a, b = df.alias("a"), (df if other is None else other).alias("b")
    same_block = reduce(operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    return a.join(b, same_block & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))


def cap_blocks(df: DataFrame, keys: Sequence[str], cap: int) -> DataFrame:
    """Rows whose block (equal ``keys``) holds 2 to ``cap`` rows: a
    block of k rows emits O(k²) pairs, and a block of 1 none."""
    return (
        df.withColumn(_N, F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter((F.col(_N) >= 2) & (F.col(_N) <= cap))
        .drop(_N)
    )


def saturation_guard(
    df: DataFrame,
    keys: Sequence[str],
    limit: float,
    *message: str,
    rows_per_doc: int = 1,
    persist: bool = False,
    cap: int | None = None,
) -> DataFrame:
    """``df`` behind an in-plan ``raise_error`` (the builder stays
    action-free) that fires when the blocks imply more than ``limit``
    candidate pairs per doc: the row-level sum of (k-1)/2 over blocks
    of k rows, counted before any cap so saturation cannot hide behind
    dropped blocks. ``message`` is the text before the pair count, the
    text before the doc count, then the rest. ``persist`` caches the
    sized frame that the volume scalar and the join both read; ``cap``
    then applies ``cap_blocks``' filter."""
    sized = df.withColumn(_N, F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    if persist:
        sized = sized.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = F.count(F.lit(1))  # a division by 1 would only add a no-op to the plan
    sat = sized.agg(
        (F.sum(F.col(_N) - 1) / 2).alias("cand_pairs"),
        (n_rows if rows_per_doc == 1 else n_rows / rows_per_doc).cast("double").alias("n_docs"),
    )
    before_pairs, before_docs, *rest = message
    text = F.concat(
        F.lit(before_pairs),
        F.col("cand_pairs").cast("string"),
        F.lit(before_docs),
        F.col("n_docs").cast("string"),
        *map(F.lit, rest),
    )
    guard = F.when(
        F.col("cand_pairs") > limit * F.col("n_docs"), F.raise_error(text)
    ).otherwise(F.lit(True))
    out = sized.crossJoin(F.broadcast(sat)).filter(guard)
    if cap is not None:
        out = out.filter((F.col(_N) >= 2) & (F.col(_N) <= cap))
    return out.drop(_N, "cand_pairs", "n_docs")


def jaccard_verify(
    pairs: DataFrame, threshold: float, sizes: Sequence[Column] | None = None
) -> DataFrame:
    """``(doc_a, doc_b, jaccard)`` where ``n_common / (n_a + n_b -
    n_common)`` reaches ``threshold``, rounded to 4dp after the
    compare. ``sizes`` are the (n_common, n_a, n_b) columns, by
    default the columns of those names."""
    n_common, n_a, n_b = sizes or [F.col(c) for c in ("n_common", "n_a", "n_b")]
    jac = n_common.cast("double") / (n_a + n_b - n_common)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def both_directions(
    pairs: DataFrame, src: str, dst: str, names: Sequence[str] | None = None
) -> DataFrame:
    """Each undirected ``(src, dst)`` pair as its two directed edges,
    named ``names`` (default ``(src, dst)``). One explode over the
    pair row, never a self-union: a union references the ``pairs``
    subtree twice, and the two branches race to execute the whole
    upstream pair-generation lineage (e.g. the minhash LSH pipeline)
    concurrently; persist() upstream does not help (both sides miss
    the not-yet-materialized cache, measured ~2x the LSH cost).
    explode duplicates rows, not the plan."""
    u, v = names or (src, dst)
    edge = F.explode(
        F.array(
            F.struct(F.col(src).alias(u), F.col(dst).alias(v)),
            F.struct(F.col(dst).alias(u), F.col(src).alias(v)),
        )
    )
    return pairs.select(edge.alias("e")).select(f"e.{u}", f"e.{v}")
