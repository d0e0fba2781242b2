"""The text front end shared by every dedup, decontamination, quality
and corpus-statistics query: one tokenizer, one word count and one
k-gram alignment over a ``documents``-shaped frame.

The DuckDB oracles' tokenizer is ``TOKENS_SQL``; their word-shingle
list expression lives next to ``SHINGLE_K`` in ``plans/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tokens() -> Column:
    """``text`` lowercased and split on a single space — the token
    array every text query starts from, and the Spark twin of the
    oracles' ``TOKENS_SQL``."""
    return F.split(F.lower("text"), " ")


# The same token array in DuckDB SQL; every oracle interpolates it.
TOKENS_SQL = "string_split(lower(text), ' ')"


def n_words() -> Column:
    """Single-space word count of ``text`` (case does not change the
    count, so no lowercase)."""
    return F.size(F.split("text", " "))


# Quality score closed form, one definition per engine: length band,
# lexical diversity and mean word length. Every query that ranks or
# buckets by quality uses this pair, so the engines can never drift.
QUALITY_RAW_SQL = f"""(
             0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
           + 0.4 * (CAST(len(list_distinct({TOKENS_SQL})) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.2 * least((CAST(length(text) AS DOUBLE)
                          / len(string_split(text, ' '))) / 8.0, 1.0)
          )"""


def quality_raw_col() -> Column:
    """Unrounded quality Column over a frame exposing ``text`` —
    structurally identical to QUALITY_RAW_SQL (same operand order, so
    both engines build the same doubles)."""
    n_tok = n_words()
    n_uniq = F.size(F.array_distinct(tokens()))
    n_ch = F.length("text")
    return (
        0.4 * F.least(n_tok / F.lit(64.0), F.lit(1.0))
        + 0.4 * (n_uniq.cast("double") / n_tok)
        + 0.2 * F.least((n_ch.cast("double") / n_tok) / F.lit(8.0), F.lit(1.0))
    )


def lead_chain(tok: DataFrame, col: str, k: int) -> tuple[DataFrame, list[str]]:
    """Align each token of a ``(doc_id, pos, col)`` frame with the k-1
    tokens after it: adds ``{col}1`` .. ``{col}{k-1}`` as ``lead``
    columns over the doc's ``pos`` order and drops the rows whose last
    lead is null (each doc's final k-1 positions; docs shorter than k
    emit nothing). Returns the frame and the k aligned column names,
    which the caller combines (``xxhash64`` or ``concat_ws``).

    Codegen'd end to end — no higher-order function, which Spark
    interprets per element. The window is doc_id-keyed, so a frame
    hash-partitioned on doc_id before the explode rides that exchange
    with only a local sort."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    names = [col] + [f"{col}{i}" for i in range(1, k)]
    for i in range(1, k):
        tok = tok.withColumn(names[i], F.lead(col, i).over(w))
    return tok.filter(F.col(names[-1]).isNotNull()), names
