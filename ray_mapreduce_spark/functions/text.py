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


# The exact-dedup normal form: lowercased, the punctuation
# ``.,;:!?'"()-`` removed, runs of spaces collapsed, trimmed. Both
# engines apply the same two regexes; parity of the character classes
# is part of what the oracles verify.
NORM_TEXT_SQL = (
    """trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?''"()-]', '', 'g'), ' +', ' ', 'g'))"""
)


def normalized_text() -> Column:
    """The Spark twin of ``NORM_TEXT_SQL`` over ``text``."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"""[.,;:!?'"()-]""", ""), " +", " "
        )
    )


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


# Okapi BM25 (k1 = 1.2, b = 0.75), one definition per engine: the
# top-docs ranking, the frozen-stats batch scorer and the lexical leg
# of the RRF fusion all score with this weight, so they cannot drift.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_tf(tok: DataFrame) -> DataFrame:
    """``(doc_id, tok, tf, dlen, df)`` from a ``(doc_id, tok)`` token
    frame: each term's frequency in its doc, the doc's length and the
    term's document frequency, the last two as windows over the tf
    table (one lineage; the windows ride exchanges the plan needs
    anyway, so there is no aggregate to join back)."""
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    return tf.withColumn("dlen", F.sum("tf").over(Window.partitionBy("doc_id"))).withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )


def bm25_stats(tf: DataFrame) -> DataFrame:
    """The one-row corpus stats ``(n, avgdl)`` of a ``bm25_tf`` frame."""
    return tf.groupBy("doc_id").agg(F.first("dlen").alias("dlen")).agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dlen").alias("avgdl")
    )


def bm25_weight() -> Column:
    """The Okapi weight ``idf * tf_part`` of a row exposing ``n``,
    ``df``, ``tf``, ``dlen`` and ``avgdl``; the Spark twin of
    ``bm25_weight_sql``."""
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
    )
    return idf * tf_part


def bm25_weight_sql(n: str, df: str, tf: str, dlen: str, avgdl: str) -> str:
    """The Okapi weight in DuckDB SQL over the given column expressions."""
    return (
        f"ln(({n} - {df} + 0.5) / ({df} + 0.5) + 1) * {tf} * ({BM25_K1} + 1)"
        f" / ({tf} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * {dlen} / {avgdl}))"
    )


# The oracles' twin of ``bm25_tf`` and ``bm25_stats`` over
# ``documents``: the CTEs ``tok``, ``dl``, ``stats``, ``tf`` and ``df``.
BM25_TF_SQL = f"""tok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlen) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)"""
# Each doc's BM25 score against the caller's ``qterms (tok)`` CTE,
# defined after the BM25_TF_SQL ones: the CTE ``scored``.
BM25_SCORED_SQL = f"""scored AS (
      SELECT tf.doc_id,
             sum({bm25_weight_sql("stats.n", "df.df", "tf.tf", "dl.dlen", "stats.avgdl")})
               AS score
      FROM tf
      JOIN qterms USING (tok)
      JOIN df USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )"""
