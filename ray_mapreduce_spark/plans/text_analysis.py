"""Text-analysis queries over ``documents`` (SURVEY.md §2d): token
counting, quality scoring, language-ID heuristic, fingerprinting.

All JVM-side (split/regexp/array kernels) — the 100 TB rationale: a
per-document Python UDF at crawl scale costs more than the rest of the
pipeline combined; these stay inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grain import KNUTH, MOD_2_32, knuth_bucket
from ..functions.scale import ntile_from_rank, two_pass_cumsum
from ..functions.scale import spread as _spread
from ..functions.scale import spread_by as _spread_by
from ..functions.stats import moment_sums, ordered_fold, ordered_fold_sql
from ..functions.text import BM25_SCORED_SQL, BM25_TF_SQL, QUALITY_RAW_SQL, TOKENS_SQL, bm25_stats, bm25_tf
from ..functions.text import bm25_weight, bm25_weight_sql, lead_chain, n_words, quality_raw_col, tokens
from ..sources import load_table
from .dedup import SHINGLE_K, SHINGLE_LIST_SQL, SHINGLE_MIN_SQL
from .registry import register

# Tiny per-language marker lists for the heuristic language ID.
# (Synthetic corpus — the point is the deterministic, scalable shape:
# token-overlap scoring against broadcastable marker sets.)
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "de"),
    "zh": ("de", "le", "shi"),
}
_MARKER_VALUES_SQL = ",".join(
    f"('{lang}','{m}')" for lang, ms in sorted(_LANG_MARKERS.items()) for m in ms
)
# Per-doc marker-language argmax: tokens x the marker table, hits per
# (doc, language), best = the (hits DESC, cand_lang) first row per doc.
_LANG_BEST_SQL = f"""markers AS (
      SELECT * FROM (VALUES {_MARKER_VALUES_SQL}) AS m(cand_lang, marker)
    ),
    toks AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    scores AS (
      SELECT t.doc_id, m.cand_lang, count(*) AS hits
      FROM toks t JOIN markers m ON t.tok = m.marker
      GROUP BY t.doc_id, m.cand_lang
    ),
    best AS (
      SELECT doc_id, cand_lang, hits FROM (
        SELECT doc_id, cand_lang, hits,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY hits DESC, cand_lang
               ) AS rn
        FROM scores
      ) WHERE rn = 1
    )"""


def _term_counts(d: DataFrame, key: str, count: str = "c") -> DataFrame:
    """``(key, t, count)``: how often each token ``t`` occurs per
    ``key`` value, the vocabulary-spectrum queries' one tokenize
    aggregate (map-side partial counts, one shuffle on (key, t))."""
    return (
        d.select(key, F.explode(tokens()).alias("t"))
        .groupBy(key, "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias(count))
    )


def _term_counts_sql(key: str, count: str = "c") -> str:
    """The DuckDB twin of ``_term_counts`` over ``documents``."""
    return f"""SELECT {key}, t, CAST(count(*) AS BIGINT) AS {count} FROM (
        SELECT {key}, unnest({TOKENS_SQL}) AS t FROM documents
      ) GROUP BY 1, 2"""


def _lang_best(d: DataFrame) -> DataFrame:
    """``(doc_id, cand_lang, hits, rn)`` with rn = 1 for every doc with
    a marker hit: the Spark twin of ``_LANG_BEST_SQL``, scored against
    a broadcast marker table."""
    markers = d.sparkSession.createDataFrame(
        [(lang, m) for lang, ms in _LANG_MARKERS.items() for m in ms],
        "cand_lang: string, marker: string",
    )
    toks = d.select("doc_id", F.explode(tokens()).alias("tok"))
    scores = (
        toks.join(F.broadcast(markers), toks.tok == markers.marker)
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "cand_lang")
    return scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


# --------------------------------------------------------------------------
@register(
    "text_token_stats",
    bench=True,
    tags=("text", "tokens", "aggregate"),
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(string_split(text, ' '))                    AS n_tokens,
             len(list_distinct({TOKENS_SQL})) AS n_uniq,
             length(text)                                    AS n_chars_actual
      FROM documents
    )
    SELECT lang,
           count(*)                                        AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)                   AS total_tokens,
           round(avg(n_tokens), 4)                         AS avg_tokens,
           round(avg(CAST(n_uniq AS DOUBLE) / n_tokens), 4) AS avg_uniq_ratio,
           CAST(max(n_chars_actual) AS BIGINT)             AS max_chars
    FROM t GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    uniq = F.array_distinct(tokens())
    t = d.select(
        "lang",
        n_words().alias("n_tokens"),
        F.size(uniq).alias("n_uniq"),
        F.length("text").alias("n_chars_actual"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg(F.col("n_uniq").cast("double") / F.col("n_tokens")), 4).alias(
            "avg_uniq_ratio"
        ),
        F.max("n_chars_actual").cast("bigint").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# BPE-ish token counting: word tokens + non-space punctuation count via
# a regex, the standard cheap proxy for LLM token budgeting.
@register(
    "text_token_count_regex",
    tags=("text", "tokens"),
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens_bpeish,
           len(string_split(text, ' '))                                 AS n_tokens_ws
    FROM documents
    """,
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pat = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias("n_tokens_bpeish"),
        n_words().alias("n_tokens_ws"),
    )


# --------------------------------------------------------------------------
# Quality score: deterministic [0,1] combo of length band, lexical
# diversity, and mean word length — the filter stage of a training-data
# pipeline. Identical closed-form on both engines (functions/text.py's
# QUALITY_RAW_SQL / quality_raw_col, shared with every consumer that
# ranks or buckets by quality).
@register(
    "text_quality_score",
    bench=True,
    tags=("text", "quality"),
    oracle=f"""
    SELECT doc_id, lang,
           round({QUALITY_RAW_SQL} + 1e-9, 4) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    quality = quality_raw_col()
    # +1e-9 before rounding on BOTH sides: the quality rational can land
    # EXACTLY on a 4-decimal half-boundary (r3 sf0.1 sweep caught
    # 0.53375 rounding differently per engine); the bias pushes exact
    # boundaries consistently up, and no corpus value sits within 1e-9
    # BELOW a boundary, so nothing else moves.
    return d.select("doc_id", "lang", F.round(quality + F.lit(1e-9), 4).alias("quality"))


# --------------------------------------------------------------------------
# Language-ID heuristic: marker-token overlap scoring. The scalable
# shape: tokens x broadcast marker table, argmax per doc. Pure SQL.
@register(
    "text_lang_id",
    tags=("text", "lang-id"),
    oracle=f"""
    WITH {_LANG_BEST_SQL}
    SELECT d.doc_id,
           coalesce(b.cand_lang, 'unknown') AS predicted_lang,
           coalesce(b.hits, 0)              AS marker_hits
    FROM documents d
    LEFT JOIN best b ON d.doc_id = b.doc_id
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    best = _lang_best(d)
    return d.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cand_lang", F.lit("unknown")).alias("predicted_lang"),
        F.coalesce("hits", F.lit(0)).alias("marker_hits"),
    )


# --------------------------------------------------------------------------
# Corpus-level n-gram statistics: top-20 bigrams. The codegen-friendly
# bigram construction (posexplode + window lead, no interpreted HOF)
# is the same pipeline the dedup shingles use.
@register(
    "text_top_bigrams",
    tags=("text", "ngram", "topk"),
    oracle=f"""
    WITH t AS (
      SELECT {TOKENS_SQL} AS toks FROM documents
    ),
    b AS (
      SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS bigram
      FROM t
    )
    SELECT bigram, count(*) AS n
    FROM b
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.posexplode(tokens()).alias("pos", "t"), "doc_id")
    grams, cols = lead_chain(tok, "t", 2)
    bigrams = grams.select(F.concat_ws(" ", *cols).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Document fingerprinting: md5 content digest + first-8-hex prefix
# bucket (rolling-hash stand-in that both engines share bit-for-bit).
@register(
    "text_fingerprint",
    tags=("text", "fingerprint"),
    oracle="""
    SELECT fp_prefix, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct
    FROM (
      SELECT md5(lower(text))              AS fp,
             substr(md5(lower(text)), 1, 2) AS fp_prefix
      FROM documents
    )
    GROUP BY fp_prefix
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower("text"))
    return (
        d.select(fp.alias("fp"), F.substring(fp, 1, 2).alias("fp_prefix"))
        .groupBy("fp_prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
    )


# --------------------------------------------------------------------------
# Full quality profile with punctuation + stopword ratios (the two
# classic crawl-quality signals the composite text_quality_score
# omits). Stopword membership via a broadcast-sized literal array —
# at scale this stays a plan constant, never a join.
_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "that", "this",
)


@register(
    "text_quality_ratios",
    tags=("text", "quality"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {TOKENS_SQL} AS toks,
             length(text) AS n_ch,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id, lang,
           round(CAST(n_punct AS DOUBLE) / n_ch, 4) AS punct_ratio,
           round(CAST(len(list_filter(toks,
                 x -> list_contains({list(_STOPWORDS)}, x))) AS DOUBLE)
                 / len(toks), 4) AS stopword_ratio
    FROM t
    """,
)
def text_quality_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation density + stopword fraction per doc. Both are
    codegen'd expressions: punct via regexp_replace+length (no
    per-char explode), stopwords via a token explode + broadcast-free
    literal-array membership, re-aggregated on the doc_id partition
    the explode already has."""
    d = load_table(spark, sf_dir, "documents")
    n_ch = F.length("text")
    punct = F.length(F.regexp_replace("text", r"""[^.,;:!?'"()-]""", ""))
    toks = d.select(
        "doc_id",
        "lang",
        (punct.cast("double") / n_ch).alias("praw"),
        F.explode(tokens()).alias("tok"),
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return (
        toks.groupBy("doc_id", "lang")
        .agg(
            F.round(F.first("praw"), 4).alias("punct_ratio"),
            F.round(
                F.avg(F.array_contains(stop_arr, F.col("tok")).cast("double")), 4
            ).alias("stopword_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Intra-document repetition (Gopher-style filter): fraction of word
# 3-grams (SHINGLE_K-grams, the dedup shingles) that are repeats of an
# earlier 3-gram in the SAME doc. High values flag
# boilerplate/spam/generation loops. Computed on the non-distinct
# shingle explode: count vs countDistinct per doc — both algebraic,
# one shuffle on doc_id.
@register(
    "text_repetition_stats",
    tags=("text", "quality", "repetition"),
    oracle=f"""
    WITH g AS (
      SELECT doc_id, lang,
             {SHINGLE_LIST_SQL} AS grams
      FROM documents
      WHERE {SHINGLE_MIN_SQL}
    )
    SELECT doc_id, lang,
           CAST(len(grams) AS BIGINT)                AS n_3grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
             AS dup_fraction
    FROM g
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.posexplode(tokens()).alias("pos", "t"))
    grams, cols = lead_chain(tok, "t", SHINGLE_K)
    grams = grams.select("doc_id", "lang", F.concat_ws(" ", *cols).alias("g"))
    return grams.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_3grams"),
        F.countDistinct("g").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("g").cast("double") / F.count(F.lit(1)), 4
        ).alias("dup_fraction"),
    )


# --------------------------------------------------------------------------
# TF-IDF keyword extraction: top-3 terms per doc. Classic shape with
# the scale-safe corpus-size handling: N comes from an aggregate
# broadcast-cross-joined onto the (token, df) table — never an
# empty-partition window. Ranking happens on the ROUNDED score (4dp)
# with a token tie-break so cross-engine double arithmetic can't flip
# neighboring ranks.
@register(
    "text_tfidf_top_terms",
    tags=("text", "tfidf", "window"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, score, rk
    FROM (
      SELECT doc_id, tok, score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, tok
             ) AS rk
      FROM scored
    )
    WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df as a WINDOW over the tf table, not an agg-then-rejoin: the
    join form re-embedded the tokenize+tf lineage in both branches,
    and column pruning made the subtrees canonicalize differently, so
    exchange reuse never fired and documents was tokenized twice (r6
    repeated-scan audit). One window on tok = one lineage, one
    shuffle; only the corpus-size scalar touches documents again (a
    count-star metadata scan)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "score", "rk")
    )


# --------------------------------------------------------------------------
# Zipf head: corpus-wide token frequency ranking. The classic sanity
# check on a training corpus (a head that deviates wildly from a
# power law usually means boilerplate or extraction bugs).
@register(
    "text_zipf_head",
    tags=("text", "tokens", "topk"),
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKENS_SQL}) AS token FROM documents
    ),
    freq AS (
      SELECT token, count(*) AS freq
      FROM tok WHERE token <> ''
      GROUP BY token
    ),
    ranked AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rank
      FROM freq
    )
    SELECT token, freq, rank,
           round(CAST(freq AS DOUBLE) / max(freq) OVER (), 4) AS rel_freq
    FROM ranked
    WHERE rank <= 30
    """,
)
def text_zipf_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 tokens by corpus frequency with rank and frequency
    relative to the head token.

    Scale shape: explode + one partial-aggregated groupBy(token) —
    shuffle carries (token, partial count), never documents — then
    ``orderBy(...).limit(30)`` compiles to TakeOrderedAndProject
    (per-partition top-30, a 30·P-row gather), so no global sort and
    no single-task window over the full vocabulary. The rank/rel_freq
    windows run AFTER the limit, over exactly 30 rows."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = freq.orderBy(F.col("freq").desc(), "token").limit(30)
    w_rank = Window.orderBy(F.col("freq").desc(), "token")
    return (
        head.withColumn("rank", F.row_number().over(w_rank))
        .withColumn(
            "rel_freq",
            F.round(
                F.col("freq").cast("double") / F.max("freq").over(Window.partitionBy()),
                4,
            ),
        )
        .select("token", "freq", "rank", "rel_freq")
    )


# --------------------------------------------------------------------------
# Deny-list redaction: mask a blocklist of terms and count the hits —
# the same machinery a production pipeline points at PII regexes
# (emails/phones) or toxicity blocklists. The synthetic corpus has no
# digits/emails, so the deny-list here is three common tokens; the
# pattern is the only thing that changes for the real thing.
_REDACT_PATTERN = r"\b(customer|spark|the)\b"


@register(
    "text_redact_terms",
    tags=("text", "redaction", "regex"),
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_REDACT_PATTERN}')) AS n_redacted,
           sha256(regexp_replace(text, '{_REDACT_PATTERN}', '[REDACTED]', 'g'))
             AS redacted_sha
    FROM documents
    """,
)
def text_redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + mask deny-listed terms per document; output the count
    and the sha256 of the redacted text (hash, not body — the oracle
    compares content without moving documents through the driver).
    Scale shape: one narrow codegen'd projection, no shuffle at all —
    redaction is embarrassingly parallel and runs at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_REDACT_PATTERN)).alias("n_redacted"),
        F.sha2(F.regexp_replace("text", _REDACT_PATTERN, "[REDACTED]"), 256).alias(
            "redacted_sha"
        ),
    )


# --------------------------------------------------------------------------
# BM25 retrieval scoring: rank the corpus against a deterministic
# query-term set (the distinct tokens of the first N_QUERY_DOCS
# documents — a stand-in for "find training docs similar to these").
# The retrieval primitive behind decontamination-by-retrieval and
# targeted corpus curation. Okapi BM25 (functions/text.py).
BM25_QUERY_DOCS = 3
BM25_TOP_N = 50


@register(
    "text_bm25_topdocs",
    tags=("text", "bm25", "retrieval", "window"),
    oracle=f"""
    WITH {BM25_TF_SQL},
    qterms AS (
      SELECT DISTINCT tok FROM tok WHERE doc_id < {BM25_QUERY_DOCS}
    ),
    {BM25_SCORED_SQL}
    SELECT doc_id, round(score, 4) AS bm25, rk FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {BM25_TOP_N}
    """,
)
def text_bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BM25_TOP_N documents by BM25 relevance to the query-term set.

    Scale shape: ONE tokenize lineage — doc length via a window over
    doc_id, df via a window over tok (the r6 agg+rejoin-free pattern;
    both windows reuse shuffles the plan needs anyway), query terms
    semi-joined (at scale: broadcast — the term set is small by
    construction), corpus stats (N, avgdl) as one broadcast scalar
    row. The per-doc score aggregation partial-aggregates map-side;
    the final top-N is TakeOrderedAndProject (per-partition heaps, no
    global sort). Ranking happens on the ROUNDED score with a doc_id
    tiebreak so cross-engine double arithmetic cannot flip
    neighboring ranks (same discipline as text_tfidf_top_terms).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = bm25_tf(tok)
    qterms = (
        tok.filter(F.col("doc_id") < BM25_QUERY_DOCS).select("tok").distinct()
    )
    scored = (
        tf.join(qterms, "tok", "left_semi")
        .crossJoin(F.broadcast(bm25_stats(tf)))
        .groupBy("doc_id")
        .agg(F.sum(bm25_weight()).alias("score"))
    )
    w = Window.orderBy(F.round("score", 4).desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOP_N)
        .select("doc_id", F.round("score", 4).alias("bm25"), "rk")
    )


# --------------------------------------------------------------------------
# Unigram log-probability scoring: the perplexity-proxy corpus filter.
# p(tok) = corpus term frequency / total tokens; a document's score is
# the mean ln p over its tokens — unusually low means OOV-heavy or
# garbled text, unusually high means boilerplate. The shape LLM
# pipelines run when a real LM is too expensive per document.
@register(
    "text_unigram_logprob",
    tags=("text", "quality", "perplexity", "window"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    tot AS (
      SELECT CAST(sum(len({TOKENS_SQL})) AS DOUBLE) AS total
      FROM documents
    ),
    ctf AS (
      SELECT doc_id, count(*) OVER (PARTITION BY tok) AS ctf FROM tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(ctf / tot.total)), 4) AS avg_logprob
    FROM ctf CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, avg unigram log-prob).

    Scale shape: ONE tokenize lineage — the corpus term frequency is a
    window over tok (no agg+rejoin, the r6 reuse rule), the total-token
    scalar is a separate narrow agg over the scan (never a tokenize
    duplicate, and never a single-partition global window), broadcast
    onto the scored rows; the per-doc mean partial-aggregates
    map-side."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    tot = d.agg(F.sum(F.size(tokens())).cast("double").alias("total"))
    ctf = tok.select("doc_id", F.count(F.lit(1)).over(Window.partitionBy("tok")).alias("ctf"))
    return (
        ctf.crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("ctf") / F.col("total"))), 4).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# Incremental unigram scoring: the train/serve split of
# text_unigram_logprob. A rolling crawl never rescoreshe corpus —
# term stats are FROZEN from the already-ingested corpus and each new
# batch is scored against them (cf. dedup_incremental_merge for the
# same batch-vs-corpus pattern on exact dedup). Laplace add-one
# smoothing gives OOV tokens finite log-prob:
#   p(tok) = (ctf + 1) / (total + vocab + 1).
# The corpus/batch split is the deterministic doc_id % UNIGRAM_SPLIT_MOD
# rule so both engines (and reruns) see identical frozen stats.
UNIGRAM_SPLIT_MOD = 5  # doc_id % 5 == 0 -> "new batch", else corpus


def unigram_corpus_stats(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Frozen unigram stats from a corpus frame with a ``text`` column:
    (terms(tok, ctf), scalars(total, vocab)).

    In production these two frames are computed ONCE per corpus
    snapshot and written to a parquet stats table (terms bucketed by
    tok); every subsequent batch scores against the stored stats with
    no corpus rescan — the stats-reuse test pins exactly that shape by
    scoring two batches against one checkpointed stats pair.
    """
    ctok = corpus.select(F.explode(tokens()).alias("tok"))
    terms = ctok.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("ctf"))
    scalars = terms.agg(
        F.sum("ctf").alias("total"), F.count(F.lit(1)).cast("double").alias("vocab")
    )
    return terms, scalars


def unigram_score_batch(
    batch: DataFrame, terms: DataFrame, scalars: DataFrame
) -> DataFrame:
    """Score a (doc_id, text) batch against frozen unigram stats.

    Scale shape: the batch tokenizes narrow, LEFT-joins terms on tok
    (hash equi-join; the terms agg already partitioned terms by tok,
    so only the — much smaller — batch side shuffles), the two-scalar
    stats row is broadcast, and the per-doc mean partial-aggregates
    map-side. OOV tokens (no terms match) take ctf=0 under add-one
    smoothing and are counted in n_oov."""
    btok = batch.select("doc_id", F.explode(tokens()).alias("tok"))
    scored = btok.join(terms, "tok", "left").crossJoin(F.broadcast(scalars))
    p = (F.coalesce(F.col("ctf"), F.lit(0.0)) + 1) / (
        F.col("total") + F.col("vocab") + 1
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("ctf").isNull().cast("int")).cast("bigint").alias("n_oov"),
        F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
    )


@register(
    "text_unigram_incremental",
    tags=("text", "quality", "perplexity", "incremental"),
    oracle=f"""
    WITH ctok AS (
      SELECT unnest({TOKENS_SQL}) AS tok
      FROM documents WHERE doc_id % {UNIGRAM_SPLIT_MOD} <> 0
    ),
    terms AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS ctf FROM ctok GROUP BY tok
    ),
    scal AS (
      SELECT CAST(sum(ctf) AS DOUBLE) AS total,
             CAST(count(*) AS DOUBLE) AS vocab
      FROM terms
    ),
    btok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok
      FROM documents WHERE doc_id % {UNIGRAM_SPLIT_MOD} = 0
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN t.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(avg(ln((coalesce(t.ctf, 0) + 1) / (scal.total + scal.vocab + 1))), 4)
             AS avg_logprob
    FROM btok b
    LEFT JOIN terms t ON b.tok = t.tok
    CROSS JOIN scal
    GROUP BY b.doc_id
    """,
)
def text_unigram_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_oov, avg smoothed log-prob) for the "new
    batch" slice (doc_id % UNIGRAM_SPLIT_MOD == 0) scored against
    stats frozen from the rest of the corpus. See
    unigram_corpus_stats / unigram_score_batch for the reusable
    train/serve API and the scale shape."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.pmod("doc_id", F.lit(UNIGRAM_SPLIT_MOD)) != 0)
    batch = d.filter(F.pmod("doc_id", F.lit(UNIGRAM_SPLIT_MOD)) == 0)
    terms, scalars = unigram_corpus_stats(corpus)
    return unigram_score_batch(batch, terms, scalars)


# --------------------------------------------------------------------------
# Incremental BM25: the train/serve split of text_bm25_topdocs (same
# pattern as text_unigram_incremental — a rolling crawl scores each
# NEW batch against retrieval stats FROZEN from the standing corpus:
# df, N, avgdl never recompute per batch). Query terms come from the
# first corpus docs (doc_id < BM25_QUERY_DOCS + 1 restricted to the
# corpus slice, so the query set is identical on both engines and
# disjoint from the batch).
def bm25_corpus_stats(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Frozen BM25 stats from a (doc_id, text) corpus frame:
    (terms(tok, df), scalars(n, avgdl)). In production both are
    written once per corpus snapshot (terms bucketed by tok) and
    every batch scores against the stored tables."""
    tok = corpus.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    terms = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dlen"))
    scalars = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dlen").alias("avgdl")
    )
    return terms, scalars


def bm25_score_batch(
    batch: DataFrame, terms: DataFrame, scalars: DataFrame, qterms: DataFrame
) -> DataFrame:
    """Score a (doc_id, text) batch against frozen BM25 stats for the
    given single-column (tok) query-term set.

    Scale shape: batch tokenizes narrow with the doc length as a
    window over the tf rows (one lineage); the query-term set is
    broadcast (small by construction) and applied as a semi-join
    BEFORE the df join, so only matching terms ever join the frozen
    df table (equi-join on tok — the terms agg already partitioned
    the frozen side); the two-scalar stats row is broadcast. The
    per-doc score partial-aggregates map-side. OOV query terms (no
    df row) can't occur — qterms is derived from the corpus — but a
    left join + coalesce(df, 0) keeps external query sets safe."""
    btok = batch.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = btok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    tf = tf.withColumn("dlen", F.sum("tf").over(Window.partitionBy("doc_id")))
    matched = (
        tf.join(F.broadcast(qterms), "tok", "left_semi")
        .join(terms, "tok", "left")
        .withColumn("df", F.coalesce("df", F.lit(0.0)))
        .crossJoin(F.broadcast(scalars))
    )
    return matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_match"),
        F.round(F.sum(bm25_weight()), 4).alias("bm25"),
    )


@register(
    "text_bm25_incremental",
    tags=("text", "bm25", "retrieval", "incremental"),
    oracle=f"""
    WITH ctok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok
      FROM documents WHERE doc_id % {UNIGRAM_SPLIT_MOD} <> 0
    ),
    ctf AS (SELECT doc_id, tok, count(*) AS tf FROM ctok GROUP BY doc_id, tok),
    terms AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM ctf GROUP BY tok),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dlen FROM ctf GROUP BY doc_id),
    scal AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlen) AS avgdl FROM dl
    ),
    qterms AS (
      SELECT DISTINCT tok FROM ctok WHERE doc_id < {BM25_QUERY_DOCS + 1}
    ),
    btok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok
      FROM documents WHERE doc_id % {UNIGRAM_SPLIT_MOD} = 0
    ),
    btf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM btok GROUP BY doc_id, tok
    ),
    bdl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dlen FROM btf GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_match,
           round(sum({bm25_weight_sql(
             "scal.n", "coalesce(t.df, 0)", "b.tf", "bdl.dlen", "scal.avgdl"
           )}), 4) AS bm25
    FROM btf b
    JOIN qterms q ON b.tok = q.tok
    LEFT JOIN terms t ON b.tok = t.tok
    JOIN bdl ON b.doc_id = bdl.doc_id
    CROSS JOIN scal
    GROUP BY b.doc_id
    """,
)
def text_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_match, bm25) for the new-batch slice
    (doc_id % UNIGRAM_SPLIT_MOD == 0) scored against BM25 stats
    frozen from the rest of the corpus; query terms are the distinct
    tokens of the first corpus docs (doc_id < BM25_QUERY_DOCS + 1 in
    the corpus slice). See bm25_corpus_stats / bm25_score_batch."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.pmod("doc_id", F.lit(UNIGRAM_SPLIT_MOD)) != 0)
    batch = d.filter(F.pmod("doc_id", F.lit(UNIGRAM_SPLIT_MOD)) == 0)
    terms, scalars = bm25_corpus_stats(corpus)
    qterms = (
        corpus.filter(F.col("doc_id") < BM25_QUERY_DOCS + 1)
        .select(F.explode(tokens()).alias("tok"))
        .distinct()
    )
    return bm25_score_batch(batch, terms, scalars, qterms)


# --------------------------------------------------------------------------
# Corpus composition report: the per-(source, lang) share table that
# drives mixture design (sample_weighted_mixture consumes shares like
# these as its rate recipe) and the first artifact any 100 TB corpus
# audit produces.
@register(
    "corpus_composition_report",
    tags=("text", "composition", "aggregate"),
    oracle="""
    WITH per AS (
      SELECT source, lang,
             count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS n_tokens,
             sum(length(text)) AS n_chars
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_tokens FROM per)
    SELECT source, lang,
           CAST(n_docs AS BIGINT)   AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT)  AS n_chars,
           round(n_tokens / tot.total_tokens, 6) AS token_share
    FROM per CROSS JOIN tot
    """,
)
def corpus_composition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, lang, n_docs, n_tokens, n_chars, token_share).

    Scale shape: one partial-aggregated groupBy on (source, lang) —
    the group count is tiny by construction (domains x languages), so
    the share denominator is an agg OVER THE GROUPED FRAME (group
    rows, not corpus rows) broadcast back onto it; the corpus is
    scanned once and never re-shuffled for the total. Token counts
    stay integers until the one share division, which both engines
    perform in identical IEEE order (6dp round cannot diverge)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(n_words()).cast("bigint").alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("total_tokens"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias("token_share"),
        )
    )


# --------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style scoring shape): the
# production corpus-filter stage is "apply a frozen linear model over
# hashed bag-of-words features". The model here is a deterministic
# pseudo-trained weight table — weight_j derives arithmetically from
# bucket j — because no trained artifact ships with the testdata; the
# SHAPE (hash trick, integer feature accumulation, sigmoid margin) is
# the real operator and is identical to serving a real .bin model.
CLF_HASH_DIM = 4096


@register(
    "text_quality_classifier",
    tags=("text", "quality", "classifier", "hash-features"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({TOKENS_SQL}) AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(sha256(t), 1, 6)) AS BIGINT)
               % {CLF_HASH_DIM} AS bucket
      FROM tok
    ),
    s AS (
      SELECT doc_id, lang,
             count(*) AS n_tokens,
             CAST(sum((bucket * {KNUTH}) % {MOD_2_32} % 2001 - 1000)
                  AS BIGINT) AS raw
      FROM w GROUP BY doc_id, lang
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-4.0 * raw / (1000.0 * n_tokens))), 4)
             AS clf_score,
           CASE WHEN raw >= 0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM s
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, clf_score, verdict): mean hashed-token
    weight through a sigmoid; verdict = sign of the raw margin.

    Determinism across engines AND partitionings: per-token weights
    are INTEGERS in [-1000, 1000] (bucket = first 24 bits of
    sha256(token) mod CLF_HASH_DIM, weight = Knuth-mix of the bucket),
    so the per-doc accumulation is an exact associative integer sum —
    no float-order sensitivity anywhere before the single final
    division, which both engines perform on identical (long, long)
    inputs. The keep/drop margin test is an integer >= 0 compare, so
    classification can never flip at a float boundary. The sigmoid is
    transcendental, so 4dp rounding never sits on a half-boundary
    (same argument as events_decayed_score).

    Scale shape: explode -> codegen'd sha2/conv projection -> one
    partial-aggregated groupBy(doc_id) — one shuffle carrying
    (doc_id, lang, count, int sum); token text never shuffles. A real
    model swap-in replaces the weight expression with a broadcast
    bucket->weight join of the exported table; everything else keeps
    its shape."""
    d = _spread_by(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", "lang", F.explode(tokens()).alias("t"))
    bucket = F.conv(F.substring(F.sha2(F.col("t"), 256), 1, 6), 16, 10).cast(
        "bigint"
    ) % CLF_HASH_DIM
    weight = knuth_bucket(bucket, 2001) - 1000
    s = tok.select("doc_id", "lang", weight.alias("w")).groupBy(
        "doc_id", "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("w").cast("bigint").alias("raw"),
    )
    score = 1.0 / (
        1.0 + F.exp(F.lit(-4.0) * F.col("raw") / (1000.0 * F.col("n_tokens")))
    )
    return s.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(score, 4).alias("clf_score"),
        F.when(F.col("raw") >= 0, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


# --------------------------------------------------------------------------
# Bigram PMI: pointwise mutual information of adjacent token pairs —
# the collocation/phrase-mining primitive (vocabulary building, MWE
# detection) over a training corpus.
PMI_MIN_PAIR_COUNT = 5
PMI_TOP_N = 50


@register(
    "text_bigram_pmi",
    tags=("text", "pmi", "collocations", "window"),
    oracle=f"""
    WITH t AS (
      SELECT {TOKENS_SQL} AS toks FROM documents
    ),
    uni AS (
      SELECT t AS tok, count(*) AS c
      FROM (SELECT unnest(toks) AS t FROM t) GROUP BY t
    ),
    big AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cnt FROM (
        SELECT unnest([{{'w1': toks[i], 'w2': toks[i+1]}}
                       FOR i IN range(1, len(toks))]) AS p
        FROM t
      ) GROUP BY p.w1, p.w2
    ),
    tot AS (
      SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni,
             (SELECT CAST(sum(cnt) AS BIGINT) FROM big) AS n_bi
    )
    SELECT w1, w2, CAST(cnt AS BIGINT) AS pair_count,
           round(ln(cnt) + 2 * ln(n_uni) - ln(n_bi) - ln(ua.c) - ln(ub.c), 4)
             AS pmi
    FROM big, tot
    JOIN uni ua ON ua.tok = w1
    JOIN uni ub ON ub.tok = w2
    WHERE cnt >= {PMI_MIN_PAIR_COUNT}
    ORDER BY ln(cnt) + 2 * ln(n_uni) - ln(n_bi) - ln(ua.c) - ln(ub.c) DESC,
             w1, w2
    LIMIT {PMI_TOP_N}
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI_TOP_N adjacent-token collocations with count >=
    PMI_MIN_PAIR_COUNT: (w1, w2, pair_count, pmi).

    PMI is evaluated in log-space (ln(cnt) + 2 ln(N_uni) - ln(N_bi)
    - ln(c_a) - ln(c_b)) in the SAME left-to-right expression shape
    on both engines: every ln input is an exact integer, so the five
    doubles and their sum are bit-identical and the ORDER BY on the
    unrounded value cannot diverge; ties break on the unique (w1, w2)
    key (LIMIT rule).

    Scale shape: tokenize once, ONE doc-local lead() window builds
    adjacency (shuffle by doc_id), then one groupBy(t, t2) collapses
    the corpus to observed-bigram granularity INCLUDING doc-final
    (t2 NULL) rows — so unigram counts, both totals, and the pair
    table all derive from that tiny aggregate and the raw corpus is
    scanned exactly once. The aggregate is eager-localCheckpointed
    before fan-out: its four consumers are sibling branches with
    different pushed aggregations, exactly the shape AQE never
    exchange-reuses (gotcha #14). Final top-N is TakeOrdered, not a
    single-task global window."""
    return bigram_pmi(load_table(spark, sf_dir, "documents"))


def bigram_pmi(
    d: DataFrame,
    min_count: int = PMI_MIN_PAIR_COUNT,
    top_n: int = PMI_TOP_N,
) -> DataFrame:
    """Frame-level PMI core over any (doc_id, text) frame — see
    ``text_bigram_pmi`` for the plan rationale."""
    tok = _spread_by(d, "doc_id").select("doc_id", F.posexplode(tokens()).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = tok.select("t", F.lead("t", 1).over(w).alias("t2"))
    bc = (
        adj.groupBy("t", "t2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    uni = bc.groupBy("t").agg(F.sum("cnt").cast("bigint").alias("c"))
    tot = bc.agg(
        F.sum("cnt").cast("bigint").alias("n_uni"),
        F.sum(F.when(F.col("t2").isNotNull(), F.col("cnt"))).cast("bigint").alias("n_bi"),
    )
    pairs = bc.filter(F.col("t2").isNotNull() & (F.col("cnt") >= min_count))
    ua = uni.select(F.col("t").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        pairs.select(F.col("t").alias("w1"), F.col("t2").alias("w2"), "cnt")
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = (
        F.log(F.col("cnt"))
        + 2 * F.log(F.col("n_uni"))
        - F.log(F.col("n_bi"))
        - F.log(F.col("c_a"))
        - F.log(F.col("c_b"))
    )
    return (
        scored.withColumn("pmi_raw", pmi)
        .orderBy(F.desc("pmi_raw"), "w1", "w2")
        .limit(top_n)
        .select(
            "w1",
            "w2",
            F.col("cnt").cast("bigint").alias("pair_count"),
            F.round("pmi_raw", 4).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# Quality calibration: per-language decile profile of the quality
# score — the lookup table a pipeline uses to turn a raw score into a
# corpus-relative percentile threshold ("keep the top 30% of each
# language", not one global cutoff that starves low-scoring langs).
@register(
    "quality_calibration_deciles",
    tags=("text", "quality", "calibration", "window", "ntile"),
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, {QUALITY_RAW_SQL} AS qr FROM documents
    ),
    d AS (
      SELECT lang, qr,
             ntile(10) OVER (PARTITION BY lang ORDER BY qr, doc_id) AS decile
      FROM q
    )
    SELECT lang, decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(qr) + 1e-9, 4) AS q_min,
           round(max(qr) + 1e-9, 4) AS q_max
    FROM d GROUP BY lang, decile
    """,
)
def quality_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, decile, n_docs, q_min, q_max): ntile(10) per language
    over (quality, doc_id) — the unique composite key makes tile
    boundaries deterministic under ties (the r3 min_by lesson), and
    min/max are order-free exact picks of engine-identical doubles
    (no float accumulation; +1e-9 pre-round guard as in
    text_quality_score).

    Scale note (VERDICT r9 #4): a plain per-lang ntile puts one
    LANGUAGE on one sort partition — parallel across langs but
    unbounded within one. This plan instead uses the GROUPED
    two-pass rank (functions/scale.py::two_pass_cumsum of F.lit(1)
    with group_cols=[lang]): range-partition on (lang, qr, doc_id) so a
    big language spans many contiguous partitions, then per-(pid,
    lang) counts -> broadcast per-lang offsets; the exact ntile
    derives from (rank-in-lang, lang total) — engine-identical to
    the oracle's ntile, with no single-partition or one-lang
    sort anywhere in the executed plan."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", "lang", quality_raw_col().alias("qr"))
    ranked = two_pass_cumsum(
        q, ["qr", "doc_id"], F.lit(1), "_rn", total_col="_tot", group_cols=["lang"]
    )
    deciled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("_rn"), F.col("_tot"), 10)
    )
    return deciled.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.min("qr") + F.lit(1e-9), 4).alias("q_min"),
        F.round(F.max("qr") + F.lit(1e-9), 4).alias("q_max"),
    )


# --------------------------------------------------------------------------
# Bigram conditional LM scoring: per-doc mean ln P(w_i | w_{i-1}) with
# Laplace smoothing — the next step up from text_unigram_logprob's
# bag-of-words perplexity proxy (context-aware fluency signal: word
# salad scores low even when its unigrams are common).
@register(
    "text_bigram_logprob",
    tags=("text", "quality", "perplexity", "bigram", "window"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    adj AS (
      SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
        SELECT doc_id,
               unnest([{{'w1': toks[i], 'w2': toks[i+1]}}
                       FOR i IN range(1, len(toks))]) AS p
        FROM t
      )
    ),
    bc AS (SELECT w1, w2, count(*) AS cnt FROM adj GROUP BY w1, w2),
    hist AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c_hist FROM bc GROUP BY w1),
    voc AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
      FROM (SELECT unnest(toks) AS tok FROM t)
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bc.cnt + 1) / CAST(h.c_hist + voc.vocab AS DOUBLE))), 4)
             AS avg_logprob
    FROM adj a
    JOIN bc ON bc.w1 = a.w1 AND bc.w2 = a.w2
    JOIN hist h ON h.w1 = a.w1
    CROSS JOIN voc
    GROUP BY a.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) under the Laplace-smoothed
    bigram model P(w2|w1) = (c(w1,w2)+1) / (c_hist(w1)+V).

    Scale shape: ONE tokenize+lead lineage produces the doc-level
    adjacency frame, lazily persisted — its two consumers are
    dependency-ordered (the corpus bigram aggregate must finish
    before the scoring join probes it), so the first use materializes
    the cache for the second (gotcha #9, minhash case). The corpus
    aggregate bc collapses to observed-bigram granularity and is
    eager-checkpointed before its three sibling consumers (pair
    counts, history counts, vocab — differently-aggregated branches
    never exchange-reuse, gotcha #14). Scoring is two equi-joins of
    the adjacency frame against vocab-sized tables plus one broadcast
    scalar; the per-doc mean partial-aggregates map-side. Docs with
    fewer than 2 tokens have no bigrams and drop out on both
    engines."""
    return bigram_logprob_frame(_spread_by(load_table(spark, sf_dir, "documents"), "doc_id"))


def bigram_logprob_frame(d: DataFrame) -> DataFrame:
    """Frame-level bigram-LM scoring core over any (doc_id, text)
    frame — see ``text_bigram_logprob``."""
    tok = d.select("doc_id", F.posexplode(tokens()).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    adjd = tok.select(
        "doc_id", "t", F.lead("t", 1).over(w).alias("t2")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bc = (
        adjd.groupBy("t", "t2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vocab = bc.select("t").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab")
    )
    nn = bc.filter(F.col("t2").isNotNull())
    hist = nn.groupBy("t").agg(F.sum("cnt").cast("bigint").alias("c_hist"))
    pairs = nn.select(
        F.col("t").alias("w1"), F.col("t2").alias("w2"), "cnt"
    )
    scored = (
        adjd.filter(F.col("t2").isNotNull())
        .select("doc_id", F.col("t").alias("w1"), F.col("t2").alias("w2"))
        .join(pairs, ["w1", "w2"])
        .join(hist.select(F.col("t").alias("w1"), "c_hist"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    logp = F.log(
        (F.col("cnt") + 1) / (F.col("c_hist") + F.col("vocab")).cast("double")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.avg(logp), 4).alias("avg_logprob"),
    )


# --------------------------------------------------------------------------
# Per-document token Shannon entropy — the information-density signal
# quality filters use to kill keyword-stuffed / template pages (low
# entropy at high length) without a trained model. Computed from
# integer counts via H = ln(n) − Σc·ln(c)/n so both engines build the
# identical per-term doubles (c is an exact integer in the double);
# entropy values are transcendental and never sit on 4dp rounding
# boundaries (the events_decayed_score precedent), with the +1e-9
# guard covering the exact-0 single-token-doc case.
@register(
    "text_token_entropy",
    tags=("text", "entropy", "quality"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({TOKENS_SQL}) AS t
      FROM documents
    ),
    tc AS (
      SELECT doc_id, lang, t, count(*) AS c
      FROM tok GROUP BY doc_id, lang, t
    ),
    s AS (
      SELECT doc_id, lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             sum(c * ln(c)) AS sclnc
      FROM tc GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_tokens, n_distinct,
           round(ln(n_tokens) - sclnc / n_tokens + 1e-9, 4) AS entropy,
           round(CASE WHEN n_distinct > 1
                      THEN (ln(n_tokens) - sclnc / n_tokens) / ln(n_distinct)
                      ELSE 0.0 END + 1e-9, 4) AS norm_entropy
    FROM s
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, n_distinct, entropy, norm_entropy):
    exact token-distribution Shannon entropy per document, plus the
    [0,1]-normalized variant (H / ln(n_distinct); defined 0 for
    single-token vocabularies).

    Scale shape: explode + two partial-aggregated groupBys — per-term
    counts land hash-partitioned on (doc_id, lang, t), the per-doc
    fold reshuffles only the tiny (doc, term-count) rows, never text.
    Both stages map-side combine; no windows, no holistic aggs, so
    the plan is embarrassingly parallel at any corpus size."""
    d = _spread_by(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", "lang", F.explode(tokens()).alias("t"))
    tc = tok.groupBy("doc_id", "lang", "t").agg(F.count(F.lit(1)).alias("c"))
    s = tc.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("sclnc"),
    )
    h = F.log("n_tokens") - F.col("sclnc") / F.col("n_tokens")
    return s.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        F.round(h + F.lit(1e-9), 4).alias("entropy"),
        F.round(
            F.when(F.col("n_distinct") > 1, h / F.log("n_distinct")).otherwise(
                F.lit(0.0)
            )
            + F.lit(1e-9),
            4,
        ).alias("norm_entropy"),
    )


# --------------------------------------------------------------------------
# Per-source KL divergence from the corpus unigram distribution — the
# domain-shift / source-composition drift detector: a source whose
# token distribution diverges from the pooled corpus is over- or
# under-represented content (or contamination). Every per-term KL
# contribution is built from INTEGER counts inside one ln call
# ((c_st·N)/(n_s·c_t) — integers exact in BIGINT, one double
# division), so both engines produce identical term doubles and only
# summation-order ulp differs.
@register(
    "corpus_source_kl",
    tags=("text", "kl", "composition", "drift"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("source", "c_st")}),
    s AS (
      SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
      FROM c GROUP BY source
    ),
    g AS (
      SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t
      FROM c GROUP BY t
    ),
    tot AS (SELECT CAST(sum(c_st) AS BIGINT) AS nn FROM c)
    SELECT c.source,
           min(s.n_s) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(sum((CAST(c.c_st AS DOUBLE) / s.n_s)
                     * ln(CAST(c.c_st * tot.nn AS DOUBLE) / (s.n_s * g.c_t)))
                 + 1e-9, 6) AS kl_vs_corpus
    FROM c
    JOIN s USING (source)
    JOIN g USING (t)
    CROSS JOIN tot
    GROUP BY c.source
    """,
)
def corpus_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, n_distinct, kl_vs_corpus): KL(source ‖
    corpus) over token unigram distributions, plus size stats.

    Scale shape: one tokenize lineage; per-(source, t) counts land
    hash-partitioned, then the source total and the corpus term count
    are WINDOWS over that grouped frame (source / t partitions — no
    agg-then-rejoin, the r6 reuse rule), the corpus total is a
    broadcast scalar, and the final per-source fold
    partial-aggregates. Token text appears only in the first groupBy
    key; every later stage moves counts."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    c = _term_counts(d, "source", "c_st")

    c = c.withColumn("n_s", F.sum("c_st").over(Window.partitionBy("source"))).withColumn(
        "c_t", F.sum("c_st").over(Window.partitionBy("t"))
    )
    tot = c.groupBy().agg(F.sum("c_st").alias("nn"))
    term = (F.col("c_st").cast("double") / F.col("n_s")) * F.log(
        (F.col("c_st") * F.col("nn")).cast("double") / (F.col("n_s") * F.col("c_t"))
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(F.sum(term) + F.lit(1e-9), 6).alias("kl_vs_corpus"),
        )
    )


# --------------------------------------------------------------------------
# Heavy hitters via a Misra-Gries sketch + exact refine. The sketch
# pass (mapInPandas, MG_K counters per partition, batch-merged with
# the Agarwal et al. "Mergeable Summaries" subtract-(k+1)th trick)
# GUARANTEES its candidate union contains every token with frequency
# > n/MG_K; the refine pass then computes EXACT counts for candidates
# only and applies the integer threshold count·MG_K > n. The output
# is therefore exactly the true heavy hitters — an approximate
# sketch composed into an exact, ORACLE-PAIRED operator. At 100 TB
# the refine pass touches only |candidates| ≤ partitions·MG_K keys:
# the full-key groupBy (which a naive exact plan would shuffle) never
# happens; per-executor memory is MG_K counters regardless of n.
MG_K = 100


@register(
    "text_heavy_hitters_mg",
    tags=("text", "sketch", "heavy-hitters", "misra-gries", "pandas-udf"),
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKENS_SQL}) AS token FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           round(100.0 * count(*) / min(tot.n) + 1e-9, 4) AS share_pct
    FROM tok CROSS JOIN tot
    GROUP BY token
    HAVING count(*) * {MG_K} > min(tot.n)
    """,
)
def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, n_occurrences, share_pct) for every token with
    frequency > n/MG_K (share > 1%)."""
    tok = _spread(load_table(spark, sf_dir, "documents")).select(
        F.explode(tokens()).alias("token")
    )
    return heavy_hitters_mg(tok, MG_K)


def heavy_hitters_mg(tok: DataFrame, k: int) -> DataFrame:
    """Exact >n/k heavy hitters of ``tok.token`` via MG-sketch
    candidates + exact refine. Candidate completeness: each
    partition's summary has error ≤ n_i/(k+1) (per-batch counts are
    exact; each cross-batch merge subtracts the (k+1)-th largest
    combined count, and those decrements total ≤ n_i/(k+1)); summed
    over partitions the union misses only keys with f ≤ n/(k+1) <
    n/k, so every true heavy hitter is a candidate. Extra candidates
    are killed by the exact integer threshold — the result is
    partition-invariant even though the candidate set is not."""
    import pandas as pd

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for t, c in vc.items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                # subtract the (k+1)-th largest count from all, drop <=0
                d = sorted(counters.values(), reverse=True)[k]
                counters = {t: c - d for t, c in counters.items() if c > d}
        yield pd.DataFrame(
            {"token": list(counters), "lb": list(counters.values())}
        )

    cand = tok.mapInPandas(mg, "token string, lb long").select("token").distinct()
    tot = tok.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        tok.join(cand, "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_occurrences") * k > F.col("n"))
        .select(
            "token",
            "n_occurrences",
            F.round(
                F.lit(100.0) * F.col("n_occurrences") / F.col("n") + F.lit(1e-9), 4
            ).alias("share_pct"),
        )
    )


# --------------------------------------------------------------------------
# Vocabulary coverage: per language, how many head tokens cover 90%
# of token mass — the vocab-truncation sizing question every
# tokenizer build answers. Coverage test uses INTEGER arithmetic
# (cum·10 ≥ 9·total) so the 90% boundary can never be a float
# rounding artifact; the running sum is an explicit ROWS frame over
# the unique (count desc, token) order, identical in both engines.
@register(
    "text_vocab_coverage",
    tags=("text", "vocab", "coverage", "zipf"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("lang")}),
    r AS (
      SELECT lang, t, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rk,
             sum(c) OVER (PARTITION BY lang ORDER BY c DESC, t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY lang) AS nl
      FROM c
    )
    SELECT lang,
           CAST(min(nl) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(min(CASE WHEN cum * 10 >= 9 * nl THEN rk END) AS BIGINT)
             AS vocab_90,
           round(CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS DOUBLE)
                 / min(nl) + 1e-9, 4) AS top10_share
    FROM r GROUP BY lang
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_tokens, n_vocab, vocab_90, top10_share) per language.

    Scale shape: one tokenize lineage; per-(lang, t) counts, then the
    rank / running-sum / total windows all share ONE sort+exchange on
    lang (same-partition windows), and the final per-lang fold
    partial-aggregates. The per-lang window sort is the honest cost —
    it is a per-language vocab-sized sort (millions of rows at crawl
    scale, not corpus-sized), the same shape as quality decile
    calibration."""
    c = _term_counts(_spread(load_table(spark, sf_dir, "documents")), "lang")
    order = [F.col("c").desc(), F.col("t")]
    r = (
        c.withColumn("rk", F.row_number().over(Window.partitionBy("lang").orderBy(*order)))
        .withColumn(
            "cum",
            F.sum("c").over(
                Window.partitionBy("lang")
                .orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("nl", F.sum("c").over(Window.partitionBy("lang")))
    )
    return r.groupBy("lang").agg(
        F.min("nl").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.min(F.when(F.col("cum") * 10 >= 9 * F.col("nl"), F.col("rk")))
        .cast("bigint")
        .alias("vocab_90"),
        F.round(
            F.sum(F.when(F.col("rk") <= 10, F.col("c")).otherwise(F.lit(0)))
            .cast("double")
            / F.min("nl")
            + F.lit(1e-9),
            4,
        ).alias("top10_share"),
    )


# --------------------------------------------------------------------------
# Out-of-vocabulary rate against the corpus top-K vocabulary — the
# other half of the tokenizer-sizing question (text_vocab_coverage
# asks "how big must the vocab be"; this asks "what does a fixed
# budget miss, and where"). The K-th-rank cutoff uses the unique
# (count desc, token) order so the vocabulary set is deterministic
# under ties on both engines.
OOV_VOCAB_K = 1000


@register(
    "text_oov_rate",
    tags=("text", "vocab", "oov", "coverage"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({TOKENS_SQL}) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rk
        FROM tok GROUP BY t
      ) WHERE rk <= {OOV_VOCAB_K}
    ),
    per_doc AS (
      SELECT tok.doc_id, tok.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok LEFT JOIN vocab v ON v.t = tok.t
      GROUP BY tok.doc_id, tok.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_oov) AS BIGINT) AS n_oov,
           round(CAST(sum(n_oov) AS DOUBLE) / sum(n_tokens) + 1e-9, 4)
             AS oov_rate
    FROM per_doc GROUP BY lang
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, n_tokens, n_oov, oov_rate): token mass outside
    the corpus top-{OOV_VOCAB_K} vocabulary, per language.

    Scale shape: one tokenize lineage; the vocabulary is a global
    top-K over the term aggregate (TakeOrdered-sized, broadcast back
    as the join build side); the membership join is broadcast so the
    token stream never shuffles for it; per-doc then per-lang folds
    partial-aggregate. The rate is rational → +1e-9 bias."""
    d = _spread_by(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", "lang", F.explode(tokens()).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(OOV_VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_oov").cast("bigint").alias("n_oov"),
        F.round(
            F.sum("n_oov").cast("double") / F.sum("n_tokens") + F.lit(1e-9), 4
        ).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# Is the quality score just measuring length? Pearson correlation of
# the shared quality closed form against ln(n_chars), per language —
# the metric-validity check run before a score gates curation. Uses
# the SAME QUALITY_RAW_SQL / quality_raw_col pair as every other
# quality consumer (no drift) and the six-sum correlation shape.
@register(
    "text_quality_length_corr",
    tags=("text", "quality", "correlation", "validity"),
    oracle=f"""
    WITH q AS (
      SELECT lang, {QUALITY_RAW_SQL} AS x, ln(CAST(n_chars AS DOUBLE)) AS y
      FROM documents
    ),
    s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM q GROUP BY lang
    )
    SELECT lang, n AS n_docs,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 + 1e-9, 6) + 0.0 AS quality_length_corr
    FROM s
    """,
)
def text_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, quality_length_corr): Pearson r between the
    quality closed form and log doc length, per language. One
    partial-aggregated six-sum pass at scan speed (both features are
    row-local expressions); signed-zero-normalized (gotcha #3) since
    a well-designed score has near-zero correlation."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "lang",
        quality_raw_col().alias("x"),
        F.log(F.col("n_chars").cast("double")).alias("y"),
    )
    s = q.groupBy("lang").agg(*moment_sums())
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "lang",
        F.col("n").alias("n_docs"),
        (F.round(num / den + F.lit(1e-9), 6) + F.lit(0.0)).alias(
            "quality_length_corr"
        ),
    )


# --------------------------------------------------------------------------
# Truncation-loss profile: what a fixed max-sequence-length costs per
# source — the first question a pretraining pipeline asks before
# picking a context length. Token counts are whitespace tokens (the
# corpus convention); the cap is 64 so the sf0.001 corpus (p50=56,
# max=99 tokens) exercises both branches.
TRUNCATION_MAX_TOKENS = 64


@register(
    "text_truncation_loss",
    tags=("documents", "tokens", "truncation", "pipeline"),
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok > {TRUNCATION_MAX_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(greatest(n_tok - {TRUNCATION_MAX_TOKENS}, 0))
                AS BIGINT) AS tokens_lost,
           round(CAST(sum(greatest(n_tok - {TRUNCATION_MAX_TOKENS}, 0))
                      AS DOUBLE) / sum(n_tok) + 1e-9, 4) AS loss_rate
    FROM t GROUP BY source
    """,
)
def text_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_truncated, total_tokens, tokens_lost,
    loss_rate): per-source token mass dropped by truncating every
    document at TRUNCATION_MAX_TOKENS. Scale shape: zero joins — one
    narrow scan computes per-doc token counts at scan speed, then ONE
    partial-aggregated shuffle of ≤ sources rows; all counters are
    exact integers, only the final rate is rational (+1e-9 pre-round
    bias, gotcha #13)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = n_words().cast("bigint")
    lost = F.greatest(n_tok - F.lit(TRUNCATION_MAX_TOKENS), F.lit(0).cast("bigint"))
    return (
        d.select("source", n_tok.alias("n_tok"), lost.alias("lost"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_tok") > TRUNCATION_MAX_TOKENS).cast("int"))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("lost").cast("bigint").alias("tokens_lost"),
            F.round(
                F.sum("lost").cast("double") / F.sum("n_tok") + F.lit(1e-9), 4
            ).alias("loss_rate"),
        )
    )


# --------------------------------------------------------------------------
# Token-weighted length quantiles: "half the TOKENS live in documents
# shorter than X" — the number that actually sizes packing and
# context-length decisions (the doc-count median is misleading when
# long docs carry the mass). Pure integer threshold crossings (the
# vocab_coverage discipline: 2·cum ≥ total, never a float quotient).
@register(
    "text_length_weighted_quantiles",
    tags=("documents", "tokens", "quantiles", "pipeline"),
    oracle="""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS L FROM documents
    ),
    per AS (
      SELECT L, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(L) AS BIGINT) AS toks
      FROM d GROUP BY L
    ),
    cum AS (
      SELECT L,
             sum(docs) OVER (ORDER BY L) AS cum_docs,
             sum(toks) OVER (ORDER BY L) AS cum_toks,
             (SELECT sum(docs) FROM per) AS tot_docs,
             (SELECT sum(toks) FROM per) AS tot_toks
      FROM per
    )
    SELECT CAST(min(tot_docs) AS BIGINT) AS n_docs,
           CAST(min(tot_toks) AS BIGINT) AS total_tokens,
           CAST(min(CASE WHEN 2 * cum_docs >= tot_docs THEN L END)
                AS BIGINT) AS doc_median_len,
           CAST(min(CASE WHEN 2 * cum_toks >= tot_toks THEN L END)
                AS BIGINT) AS tok_weighted_median_len,
           CAST(min(CASE WHEN 10 * cum_toks >= 9 * tot_toks THEN L END)
                AS BIGINT) AS tok_weighted_p90_len
    FROM cum
    """,
)
def text_length_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, total_tokens, doc_median_len, tok_weighted_median_len,
    tok_weighted_p90_len): length quantiles under doc-count vs
    token-mass weighting. Scale shape: the corpus collapses to one
    row per DISTINCT LENGTH (partial-aggregated — ≤ max-doc-length
    rows); the cumulative windows and threshold scans run entirely on
    that tiny frame (single ordered partition of ≤10³ rows — the
    grouped-frame justification); thresholds are exact integer
    inequalities, immune to rounding and summation order."""
    d = load_table(spark, sf_dir, "documents").select(
        n_words().cast("bigint").alias("L")
    )
    per = d.groupBy("L").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("L").cast("bigint").alias("toks"),
    )
    w = Window.orderBy("L").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "L",
        F.sum("docs").over(w).alias("cum_docs"),
        F.sum("toks").over(w).alias("cum_toks"),
        F.sum("docs").over(wall).alias("tot_docs"),
        F.sum("toks").over(wall).alias("tot_toks"),
    )
    return cum.agg(
        F.min("tot_docs").cast("bigint").alias("n_docs"),
        F.min("tot_toks").cast("bigint").alias("total_tokens"),
        F.min(F.when(2 * F.col("cum_docs") >= F.col("tot_docs"), F.col("L")))
        .cast("bigint")
        .alias("doc_median_len"),
        F.min(F.when(2 * F.col("cum_toks") >= F.col("tot_toks"), F.col("L")))
        .cast("bigint")
        .alias("tok_weighted_median_len"),
        F.min(
            F.when(10 * F.col("cum_toks") >= 9 * F.col("tot_toks"), F.col("L"))
        )
        .cast("bigint")
        .alias("tok_weighted_p90_len"),
    )


# --------------------------------------------------------------------------
# Distinctive terms per source: smoothed log-odds of each token's
# rate inside a source vs the rest of the corpus — "what vocabulary
# makes src3 src3" (the comparative-corpus analytic behind domain
# tagging). All inputs are exact integer counts, so the log-odds is
# the identical double on both engines; only display rounding runs.
LOGODDS_ALPHA = 0.5
LOGODDS_MIN_COUNT = 5
LOGODDS_TOP_N = 5


@register(
    "text_distinctive_terms",
    tags=("documents", "log-odds", "comparative", "topk"),
    oracle=f"""
    WITH st AS ({_term_counts_sql("source", "c_st")}),
    m AS (
      SELECT source, t, c_st,
             sum(c_st) OVER (PARTITION BY source) AS n_s,
             sum(c_st) OVER (PARTITION BY t) AS c_t,
             sum(c_st) OVER () AS n_total
      FROM st
    ),
    scored AS (
      SELECT source, t, c_st,
             round(ln((c_st + {LOGODDS_ALPHA})
                      / (n_s - c_st + {LOGODDS_ALPHA}))
                   - ln((c_t - c_st + {LOGODDS_ALPHA})
                        / (n_total - n_s - (c_t - c_st) + {LOGODDS_ALPHA}))
                   + 1e-9, 4) AS log_odds
      FROM m WHERE c_st >= {LOGODDS_MIN_COUNT}
    ),
    ranked AS (
      SELECT source, t, c_st, log_odds,
             row_number() OVER (
               PARTITION BY source ORDER BY log_odds DESC, t
             ) AS rn
      FROM scored
    )
    SELECT source, t AS term, c_st AS n_in_source, log_odds
    FROM ranked WHERE rn <= {LOGODDS_TOP_N}
    """,
)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, term, n_in_source, log_odds): top distinctive terms
    per source by smoothed log-odds vs the rest of the corpus.

    Scale shape: ONE tokenize lineage folds to the (source, term)
    count table; that aggregate is eager-localCheckpointed (the
    bigram_pmi pattern — its marginal consumers would otherwise
    canonicalize as differently-pruned siblings and re-tokenize,
    gotcha #14); the source/term marginals are windows on the
    checkpointed table, and the global total is a broadcast SCALAR
    agg over the checkpoint (r9, VERDICT r8 — a Window.partitionBy()
    would funnel the whole vocab×sources frame through one
    partition). Top-N per source is a row_number with the term
    tiebreak on the ROUNDED score (WindowGroupLimit pushes rn≤N
    into the sort)."""
    d = load_table(spark, sf_dir, "documents")
    st = _term_counts(d, "source", "c_st").localCheckpoint(eager=True)
    a = F.lit(LOGODDS_ALPHA)
    total = st.agg(F.sum("c_st").cast("bigint").alias("n_total"))
    m = (
        st.withColumn("n_s", F.sum("c_st").over(Window.partitionBy("source")))
        .withColumn("c_t", F.sum("c_st").over(Window.partitionBy("t")))
        .crossJoin(F.broadcast(total))
    )
    log_odds = F.round(
        F.log((F.col("c_st") + a) / (F.col("n_s") - F.col("c_st") + a))
        - F.log(
            (F.col("c_t") - F.col("c_st") + a)
            / (
                F.col("n_total")
                - F.col("n_s")
                - (F.col("c_t") - F.col("c_st"))
                + a
            )
        )
        + F.lit(1e-9),
        4,
    )
    wr = Window.partitionBy("source").orderBy(F.col("log_odds").desc(), "t")
    return (
        m.filter(F.col("c_st") >= LOGODDS_MIN_COUNT)
        .withColumn("log_odds", log_odds)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= LOGODDS_TOP_N)
        .select(
            "source",
            F.col("t").alias("term"),
            F.col("c_st").alias("n_in_source"),
            "log_odds",
        )
    )


# --------------------------------------------------------------------------
# Gopher-style rule filters (Rae et al. 2021, "Scaling Language
# Models" C4/MassiveText heuristics, adapted to this corpus's
# measured ranges): per-doc boolean quality gates from integer token
# statistics — the rule-based pre-filter that runs BEFORE any learned
# quality score. Every bound compares by integer cross-multiplication
# (2*sum_len >= 7*n_tok instead of mean >= 3.5), so no float sits on
# a rule boundary (the gotcha #13 class).
GOPHER_MIN_TOKENS = 30
# mean word length in [3.5, 5.0]; repetition: top token <= 1/5 of doc
@register(
    "text_gopher_filters",
    tags=("text", "quality", "filter-rules"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS t
      FROM documents
    ),
    c AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
    d AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tok,
             CAST(sum(length(t) * c) AS BIGINT) AS sum_len,
             CAST(max(c) AS BIGINT) AS max_tok
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tok,
           CAST(n_tok >= {GOPHER_MIN_TOKENS} AS BIGINT) AS flag_len,
           CAST(2 * sum_len >= 7 * n_tok AND sum_len <= 5 * n_tok AS BIGINT)
             AS flag_wordlen,
           CAST(5 * max_tok <= n_tok AS BIGINT) AS flag_rep,
           CAST(n_tok >= {GOPHER_MIN_TOKENS}
                AND 2 * sum_len >= 7 * n_tok AND sum_len <= 5 * n_tok
                AND 5 * max_tok <= n_tok AS BIGINT) AS pass
    FROM d
    """,
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok, flag_len, flag_wordlen, flag_rep, pass):
    rule-based quality gates — minimum length, mean word length in
    [3.5, 5.0], top-token share <= 1/5. All three flags derive from
    ONE token-count lineage (explode -> (doc, token) counts -> per-doc
    integer moments), so the doc_id exchange is paid once and every
    rule is an exact integer comparison (cross-multiplied bounds —
    a mean-word-length of exactly 3.5 compares identically on both
    engines because no division ever happens). Scale shape: explode
    at scan speed, two partial-aggregated reductions on the same
    doc_id partitioning, zero joins. The learned counterpart
    (text_quality_classifier) and the closed-form score
    (text_quality_score) grade survivors; this op is the cheap
    hard-rule pass in front of them."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("t"))
    c = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    m = c.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.sum(F.length("t") * F.col("c")).cast("bigint").alias("sum_len"),
        F.max("c").cast("bigint").alias("max_tok"),
    )
    flag_len = F.col("n_tok") >= GOPHER_MIN_TOKENS
    flag_wordlen = (F.lit(2) * F.col("sum_len") >= F.lit(7) * F.col("n_tok")) & (
        F.col("sum_len") <= F.lit(5) * F.col("n_tok")
    )
    flag_rep = F.lit(5) * F.col("max_tok") <= F.col("n_tok")
    return m.select(
        "doc_id",
        "n_tok",
        flag_len.cast("bigint").alias("flag_len"),
        flag_wordlen.cast("bigint").alias("flag_wordlen"),
        flag_rep.cast("bigint").alias("flag_rep"),
        (flag_len & flag_wordlen & flag_rep).cast("bigint").alias("pass"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language: bytes-per-token and the
# BPE-ish/whitespace token ratio — the budgeting numbers that decide
# how many *model* tokens a corpus actually costs per language (the
# multilingual-tokenizer fairness readout: high fertility = the
# tokenizer fragments that language). Reuses the exact regex pair
# hash-verified in text_token_count_regex.
@register(
    "text_tokenizer_fertility",
    tags=("text", "tokens", "aggregate", "multilingual"),
    oracle=r"""
    WITH d AS (
      SELECT lang,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))
                  AS BIGINT) AS n_bpeish
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           CAST(sum(n_bpeish) AS BIGINT) AS bpeish_tokens,
           round(CAST(sum(n_bytes) AS BIGINT) / CAST(sum(n_ws) AS BIGINT)
                 + 1e-9, 4) AS bytes_per_ws_token,
           round(CAST(sum(n_bytes) AS BIGINT) / CAST(sum(n_bpeish) AS BIGINT)
                 + 1e-9, 4) AS bytes_per_bpeish_token,
           round(CAST(sum(n_bpeish) AS BIGINT) / CAST(sum(n_ws) AS BIGINT)
                 + 1e-9, 4) AS fertility
    FROM d GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, ws_tokens, bpeish_tokens, bytes_per_ws_token,
    bytes_per_bpeish_token, fertility): per-language token budgeting.
    fertility = BPE-ish tokens per whitespace word — the standard
    how-badly-does-the-tokenizer-fragment-this-language ratio.
    Determinism: every aggregate is an exact integer sum (byte
    lengths + regex match counts, identical patterns both engines);
    the three output divisions divide identical integers (+1e-9
    bias; all ratios positive). Scale shape: ONE narrow scan with
    per-row codegen'd length/regex counts, then a lang-keyed partial
    agg — five groups out; no joins, no windows. Bytes via
    octet_length (Spark) == strlen (DuckDB) — both count bytes, not
    codepoints."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"
    per = d.select(
        "lang",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        n_words().cast("bigint").alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
        .cast("bigint")
        .alias("n_bpeish"),
    )
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.sum("n_bpeish").cast("bigint").alias("bpeish_tokens"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpeish_tokens",
        F.round(
            F.col("n_bytes") / F.col("ws_tokens") + F.lit(1e-9), 4
        ).alias("bytes_per_ws_token"),
        F.round(
            F.col("n_bytes") / F.col("bpeish_tokens") + F.lit(1e-9), 4
        ).alias("bytes_per_bpeish_token"),
        F.round(
            F.col("bpeish_tokens") / F.col("ws_tokens") + F.lit(1e-9), 4
        ).alias("fertility"),
    )


# --------------------------------------------------------------------------
# Lang-ID confusion matrix — the classifier-eval readout for the
# marker heuristic: predicted vs LABELED language with per-truth
# shares. The eval every pipeline publishes before trusting a
# cheap classifier to route documents; off-diagonal mass shows
# exactly which language pairs the marker set confuses (by
# construction here: 'de'/'le' markers are deliberately ambiguous
# with zh). The argmax is text_lang_id's own (_lang_best /
# _LANG_BEST_SQL), so the classifier under eval and the eval itself
# cannot drift.
@register(
    "text_langid_confusion",
    tags=("text", "lang-id", "eval", "confusion"),
    oracle=f"""
    WITH {_LANG_BEST_SQL},
    cm AS (
      SELECT d.lang AS true_lang,
             coalesce(b.cand_lang, 'unknown') AS predicted_lang,
             count(*) AS n
      FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
      GROUP BY 1, 2
    )
    SELECT true_lang, predicted_lang, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY true_lang), 4) AS share
    FROM cm
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true_lang, predicted_lang, n, share): confusion matrix of the
    text_lang_id marker heuristic against the labeled lang column;
    share = row count / truth-class total (per-class recall sits on
    the diagonal). Determinism: the argmax reuses text_lang_id's
    (hits DESC, cand_lang) tiebreak; counts are integers and each
    share is ONE integer-ratio division off a window sum. Scale
    shape: tokens x BROADCAST marker table, per-doc partial-agg
    argmax, then a bounded (langs x langs) matrix agg — the eval
    costs one tokenize pass, same as the classifier itself."""
    d = load_table(spark, sf_dir, "documents")
    best = _lang_best(d).select("doc_id", "cand_lang")
    cm = (
        d.select("doc_id", F.col("lang").alias("true_lang"))
        .join(best, "doc_id", "left")
        .select(
            "true_lang",
            F.coalesce("cand_lang", F.lit("unknown")).alias("predicted_lang"),
        )
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_t = Window.partitionBy("true_lang")
    return cm.select(
        "true_lang",
        "predicted_lang",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_t), 4
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# Flesch reading-ease — the classic readability screen, computed from
# three regexp counts (words, sentence terminators, vowel-group
# "syllables"). Low-readability outliers in a crawl are usually
# boilerplate/navigation soup or OCR noise; the score joins the
# quality family as another cheap scan-time signal.
@register(
    "text_readability_flesch",
    tags=("text", "quality", "readability"),
    oracle="""
    WITH c AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
                 + 1e-9, 4) + 0.0 AS flesch
    FROM c WHERE n_words > 0
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_words, n_sentences, n_syllables, flesch):
    Flesch reading ease per doc from three regexp counts (vowel-group
    syllable heuristic; sentence count floored at 1 so fragment docs
    divide safely). Determinism: counts are integers; the score is
    per-row scalar arithmetic evaluated in the SAME literal order in
    both engines (no fold), with the +1e-9 bias and +0.0 signed-zero
    guard (gotcha #3 — scores can be near-zero negative for
    vowel-dense noise). Scale shape: pure scan-time projection, zero
    shuffles; the three regexp passes are codegen'd per row."""
    d = load_table(spark, sf_dir, "documents")
    lo = F.lower(F.col("text"))
    c = d.select(
        "doc_id",
        "lang",
        F.regexp_count(lo, F.lit("[a-z]+")).alias("n_words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
        ).alias("n_sentences"),
        F.regexp_count(lo, F.lit("[aeiouy]+")).alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
        + F.lit(1e-9)
    )
    return c.select(
        "doc_id",
        "lang",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_syllables").cast("bigint").alias("n_syllables"),
        (F.round(flesch, 4) + F.lit(0.0)).alias("flesch"),
    )


# --------------------------------------------------------------------------
# Character-class profile — the code/markup/script detector's feature
# row: per doc, counts of alphabetic / digit / whitespace / other
# characters (on the lowercased text, so "other" captures
# punctuation, symbols, AND non-Latin script — the zh docs light up
# here) plus ratio features and an integer cross-multiplied
# symbol-heavy flag (the text_gopher_filters trick: no float
# threshold compare).
@register(
    "text_charclass_profile",
    tags=("text", "quality", "charclass"),
    oracle="""
    WITH c AS (
      SELECT doc_id, lang,
             length(text) AS n_chars,
             len(regexp_extract_all(lower(text), '[a-z]')) AS n_alpha,
             len(regexp_extract_all(text, '[0-9]')) AS n_digit,
             len(regexp_extract_all(text, ' ')) AS n_space
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_alpha AS BIGINT) AS n_alpha,
           CAST(n_digit AS BIGINT) AS n_digit,
           CAST(n_chars - n_alpha - n_digit - n_space AS BIGINT) AS n_other,
           round(CAST(n_alpha AS DOUBLE) / n_chars + 1e-9, 4) AS alpha_ratio,
           round(CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE)
                 / n_chars + 1e-9, 4) AS other_ratio,
           CAST(CASE WHEN (n_chars - n_alpha - n_digit - n_space) * 5
                          > n_chars THEN 1 ELSE 0 END AS BIGINT)
             AS symbol_heavy
    FROM c WHERE n_chars > 0
    """,
)
def text_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_chars, n_alpha, n_digit, n_other, alpha_ratio,
    other_ratio, symbol_heavy): character-class features per doc;
    symbol_heavy fires when >20% of characters are neither Latin
    letter, digit, nor space — integer cross-multiplication, never a
    float threshold. Determinism: integer regexp counts; the two
    ratios are single divisions of integer-derived doubles with the
    +1e-9 rational-boundary bias (gotcha #3). Scale shape: pure
    scan-time projection, zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.regexp_count(F.lower("text"), F.lit("[a-z]")).alias("n_alpha"),
        F.regexp_count(F.col("text"), F.lit("[0-9]")).alias("n_digit"),
        F.regexp_count(F.col("text"), F.lit(" ")).alias("n_space"),
    ).filter(F.col("n_chars") > 0)
    other = F.col("n_chars") - F.col("n_alpha") - F.col("n_digit") - F.col(
        "n_space"
    )
    return c.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_alpha").cast("bigint").alias("n_alpha"),
        F.col("n_digit").cast("bigint").alias("n_digit"),
        other.cast("bigint").alias("n_other"),
        F.round(
            F.col("n_alpha").cast("double") / F.col("n_chars") + F.lit(1e-9), 4
        ).alias("alpha_ratio"),
        F.round(
            other.cast("double") / F.col("n_chars") + F.lit(1e-9), 4
        ).alias("other_ratio"),
        F.when(other * 5 > F.col("n_chars"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("symbol_heavy"),
    )


# --------------------------------------------------------------------------
# Hapax legomena ratio — per source, the share of its vocabulary
# appearing exactly once in that source. A high hapax share marks
# open productive text (the Zipf tail is intact); a low one marks
# templated/boilerplate sources whose vocabulary recycles — the
# cheap corpus-health reading next to text_zipf_head.
@register(
    "text_hapax_ratio",
    tags=("text", "vocabulary", "diagnostics"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("source", "n")})
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 4) AS hapax_share
    FROM c GROUP BY 1
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, vocab, hapax, hapax_share): hapax share of
    each source's vocabulary. Determinism: integer counts; one
    division of integer-derived doubles with the rational-boundary
    bias. Scale shape: explode + ONE shuffle on (source, token) with
    map-side partial counts; the source report re-aggregates the
    (source, token) frame on its own partitioning prefix."""
    d = load_table(spark, sf_dir, "documents")
    c = _term_counts(d, "source", "n")
    hap = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        hap.cast("bigint").alias("hapax"),
        F.round(
            hap.cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("hapax_share"),
    )


# --------------------------------------------------------------------------
# Code-vs-prose screen: a pretraining corpus router needs to split
# code-looking documents from natural language before applying
# language-specific quality filters. Markers are counted with
# REPLACE-based occurrence arithmetic (len(t) - len(replace(t, m, '')))
# on both engines — byte-identical semantics, no regex-dialect risk —
# and the score is pure integer arithmetic per doc.
CODE_CHAR_MARKERS = ["{", "}", ";", "=", "(", ")"]
CODE_KEYWORDS = ["def ", "return ", "import ", "void ", "func ", "class "]
CODE_SCORE_THRESHOLD_MILLI = 120  # score >= this (per-token millis) => code


def _occurrences_sql(marker: str) -> str:
    esc = marker.replace("'", "''")
    return f"(length(text) - length(replace(text, '{esc}', ''))) // {len(marker)}"


@register(
    "text_code_detection",
    tags=("text", "quality", "classifier", "code"),
    oracle=f"""
    WITH d AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tokens,
             ({" + ".join(_occurrences_sql(m) for m in CODE_CHAR_MARKERS)})
               AS n_punct,
             ({" + ".join(_occurrences_sql(k) for k in CODE_KEYWORDS)})
               AS n_kw
      FROM documents
    ),
    s AS (
      SELECT source, n_tokens,
             (1000 * (n_punct + 10 * n_kw)) // greatest(n_tokens, 1)
               AS score_milli
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score_milli >= {CODE_SCORE_THRESHOLD_MILLI}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
           round(CAST(sum(CASE WHEN score_milli >= {CODE_SCORE_THRESHOLD_MILLI}
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1e-9, 6)
             AS code_share,
           round(CAST(CAST(sum(score_milli) AS BIGINT) AS DOUBLE)
                 / (1000.0 * count(*)) + 1e-9, 6) AS mean_score
    FROM s GROUP BY 1
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_code, code_share, mean_score): per-source
    share of code-looking documents under the integer marker score
    (punct markers + 10x keywords, per-kilotoken). Determinism: the
    per-doc score is integer `div` arithmetic from replace-based
    counts; shares and means are single divisions of exact integers.
    Scale shape: zero-shuffle per-doc scoring at scan speed
    (codegen'd string ops, no regex engine), one partial-aggregated
    groupBy(source). The driver corpus is prose, so n_code ~ 0 here —
    the pytest gate plants synthetic code docs and pins separation."""
    d = load_table(spark, sf_dir, "documents")

    def occurrences(marker: str):
        # (len(t) - len(replace(t, marker))) div len(marker): exact
        # integer occurrence count, byte-identical across engines.
        # Same quote-escaping as the DuckDB _occurrences_sql so a
        # future marker containing ' cannot drift the two (ADVICE r9).
        esc = marker.replace("'", "''")
        return F.expr(
            "(length(text) - length(replace(text, "
            f"'{esc}'))) div {len(marker)}"
        )

    n_punct = sum(
        (occurrences(m) for m in CODE_CHAR_MARKERS[1:]),
        occurrences(CODE_CHAR_MARKERS[0]),
    )
    n_kw = sum(
        (occurrences(k) for k in CODE_KEYWORDS[1:]),
        occurrences(CODE_KEYWORDS[0]),
    )
    scored = d.select(
        "source",
        n_words().cast("bigint").alias("n_tokens"),
        n_punct.cast("bigint").alias("n_punct"),
        n_kw.cast("bigint").alias("n_kw"),
    ).select(
        "source",
        F.expr(
            "(1000 * (n_punct + 10 * n_kw)) "
            "div greatest(n_tokens, CAST(1 AS BIGINT))"
        ).alias("score_milli"),
    )
    is_code = F.when(
        F.col("score_milli") >= CODE_SCORE_THRESHOLD_MILLI, 1
    ).otherwise(0)
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(is_code).cast("bigint").alias("n_code"),
        F.round(
            F.sum(is_code).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("code_share"),
        F.round(
            F.sum("score_milli").cast("double")
            / (F.lit(1000.0) * F.count(F.lit(1)))
            + F.lit(1e-9),
            6,
        ).alias("mean_score"),
    )


# --------------------------------------------------------------------------
# Quality-retention curve: what does each quality bar COST? For each
# decile cutoff of the (shared) quality score, the docs and token
# mass that survive a `quality >= cutoff` filter — the
# corpus-engineering readout behind choosing a filtering threshold
# (calibration_deciles profiles score calibration; this prices the
# cut). Cutoffs are quality percentiles (bit-exact cross-engine);
# the 9 retention sums come from ONE conditional aggregation after a
# 1-row broadcast — the two-pass winsorize pattern, never a global
# ntile sort of the corpus.
@register(
    "text_quality_retention_curve",
    tags=("text", "quality", "percentile", "aggregate"),
    oracle=f"""
    WITH d AS (
      SELECT round({QUALITY_RAW_SQL} + 1e-9, 4) AS q,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      FROM documents
    ),
    b AS (
      SELECT quantile_cont(q, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(ntok) AS BIGINT) AS tok_all
      FROM d
    )
    SELECT CAST(t.k + 1 AS BIGINT) AS cutoff_decile,
           round(b.bs[t.k + 1] + 1e-9, 6) + 0.0 AS cutoff_quality,
           CAST(sum(CASE WHEN d.q >= b.bs[t.k + 1] THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.q >= b.bs[t.k + 1] THEN d.ntok ELSE 0 END)
                AS BIGINT) AS n_tokens,
           round(CAST(sum(CASE WHEN d.q >= b.bs[t.k + 1] THEN 1 ELSE 0 END)
                      AS DOUBLE) / max(b.n_all) + 1e-9, 6) AS doc_share,
           round(CAST(sum(CASE WHEN d.q >= b.bs[t.k + 1] THEN d.ntok
                          ELSE 0 END) AS DOUBLE) / max(b.tok_all) + 1e-9, 6)
             AS token_share
    FROM d CROSS JOIN b CROSS JOIN range(9) t(k)
    GROUP BY t.k, b.bs[t.k + 1]
    """,
)
def text_quality_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cutoff_decile, cutoff_quality, n_docs, n_tokens, doc_share,
    token_share): survivors of `quality >= k-th decile` for k=1..9.
    Determinism: quality is the shared 4dp-locked formula; cutoffs
    are identical interpolated percentiles; every comparison pits
    identical doubles; counts/token sums are exact integers. Scale
    shape: pass 1 = one percentile aggregate (1 row, broadcast);
    pass 2 = one fact re-scan with NINE conditional sums folded into
    a single partial aggregation (the 9-way spine explode is
    map-side and collapses immediately) — no global sort, no ntile
    over the corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        F.round(quality_raw_col() + F.lit(1e-9), 4).alias("q"),
        n_words().cast("bigint").alias("ntok"),
    )
    b = d.agg(
        F.expr(
            "percentile(q, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs"),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("ntok").cast("bigint").alias("tok_all"),
    )
    x = (
        d.crossJoin(F.broadcast(b))
        .select(
            "q",
            "ntok",
            "n_all",
            "tok_all",
            F.posexplode("bs").alias("k", "cutoff"),
        )
    )
    keep = F.col("q") >= F.col("cutoff")
    g = x.groupBy("k", "cutoff").agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_docs"),
        F.sum(F.when(keep, F.col("ntok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_tokens"),
        F.max("n_all").alias("n_all"),
        F.max("tok_all").alias("tok_all"),
    )
    return g.select(
        (F.col("k") + 1).cast("bigint").alias("cutoff_decile"),
        (F.round(F.col("cutoff") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
            "cutoff_quality"
        ),
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_all") + F.lit(1e-9), 6
        ).alias("doc_share"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("tok_all") + F.lit(1e-9),
            6,
        ).alias("token_share"),
    )


# --------------------------------------------------------------------------
# Trained multinomial Naive Bayes language ID, evaluated on a held-out
# half — the TRAINED-classifier counterpart of the marker-heuristic
# text_lang_id / text_langid_confusion (train on doc_id%2==0, score
# doc_id%2==1). INTEGER MICRO-UNIT scores (the PageRank discipline):
# each Laplace log-likelihood term is quantized to round(ln(..)*1e6)
# BEFORE summation, so per-doc per-lang scores are exact bigint sums —
# order-free, and the argmax (score DESC, lang ASC) can never flip on
# cross-engine summation order. Transcendentals never sit on the 0.5
# quantization boundary (the decayed-score precedent); the 1e-9 bias
# guards it anyway.
NB_SCALE = 1_000_000


@register(
    "text_naive_bayes_langid",
    tags=("text", "classifier", "naive-bayes", "train-eval"),
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, {TOKENS_SQL} AS t
      FROM documents
    ),
    train_tok AS (
      SELECT lang, unnest(t) AS tok FROM d WHERE doc_id % 2 = 0
    ),
    c AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM train_tok WHERE tok <> '' GROUP BY 1, 2
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
      FROM train_tok WHERE tok <> ''
    ),
    langs AS (
      SELECT lang,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train
      FROM d GROUP BY 1
    ),
    lt AS (
      SELECT l.lang, l.n_train,
             CAST(coalesce(sum(c.c), 0) AS BIGINT) AS t_total
      FROM langs l LEFT JOIN c ON c.lang = l.lang
      GROUP BY 1, 2
    ),
    ltot AS (SELECT CAST(sum(n_train) AS BIGINT) AS n_all,
                    CAST(count(*) AS BIGINT) AS k FROM lt),
    prior AS (
      SELECT lt.lang, lt.t_total,
             CAST(round(ln(CAST(lt.n_train + 1 AS DOUBLE)
                           / (ltot.n_all + ltot.k)) * {NB_SCALE} + 1e-9)
                  AS BIGINT) AS prior_i
      FROM lt CROSS JOIN ltot
    ),
    test_tok AS (
      SELECT doc_id, lang AS true_lang, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, lang, unnest(t) AS tok FROM d WHERE doc_id % 2 = 1)
      WHERE tok <> '' GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT tt.doc_id, tt.true_lang, p.lang,
             p.prior_i
             + sum(tt.cnt * CAST(round(
                 ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                    / (p.t_total + vocab.v)) * {NB_SCALE} + 1e-9)
                 AS BIGINT)) AS score_i
      FROM test_tok tt
      CROSS JOIN prior p
      CROSS JOIN vocab
      LEFT JOIN c ON c.lang = p.lang AND c.tok = tt.tok
      GROUP BY tt.doc_id, tt.true_lang, p.lang, p.prior_i
    ),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_i DESC, lang) AS rk
      FROM scored
    )
    SELECT true_lang,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) AS accuracy
    FROM pred WHERE rk = 1 GROUP BY 1
    """,
)
def text_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true_lang, n_test, n_correct, accuracy): held-out accuracy of
    a Laplace-smoothed multinomial NB language model. Scale shape:
    train counts partial-aggregate to the (lang, tok) table (joined
    on tok — vocabulary-sized, sf-proportional but UNHINTED, AQE
    picks); the k-lang fan-out multiplies test TOKENS by |langs|
    before collapsing in the same aggregation; priors/vocab are
    broadcast scalars. Determinism: header note — all-integer
    scores."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", tokens().alias("t"))
    train_tok = (
        d.filter(F.pmod("doc_id", F.lit(2)) == 0)
        .select("lang", F.explode("t").alias("tok"))
        .filter(F.col("tok") != "")
    )
    c = train_tok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vocab = train_tok.agg(
        F.countDistinct("tok").cast("bigint").alias("v")
    )
    langs = d.groupBy("lang").agg(
        F.sum(F.when(F.pmod("doc_id", F.lit(2)) == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_train")
    )
    lt = (
        langs.join(c.groupBy("lang").agg(F.sum("c").alias("s")), "lang", "left")
        .select(
            "lang",
            "n_train",
            F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("t_total"),
        )
    )
    ltot = lt.agg(
        F.sum("n_train").cast("bigint").alias("n_all"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    prior = (
        lt.crossJoin(F.broadcast(ltot))
        .select(
            "lang",
            "t_total",
            F.expr(
                f"CAST(round(ln(CAST(n_train + 1 AS DOUBLE)"
                f" / (n_all + k)) * {NB_SCALE} + 1e-9) AS BIGINT)"
            ).alias("prior_i"),
        )
    )
    test_tok = (
        d.filter(F.pmod("doc_id", F.lit(2)) == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode("t").alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "true_lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pl = prior.select(
        F.col("lang").alias("nb_lang"), "t_total", "prior_i"
    )
    scored = (
        test_tok.crossJoin(F.broadcast(pl))
        .crossJoin(F.broadcast(vocab))
        .join(
            c.select(
                F.col("lang").alias("nb_lang"),
                F.col("tok").alias("tok"),
                "c",
            ),
            ["nb_lang", "tok"],
            "left",
        )
        .withColumn(
            "term_i",
            F.expr(
                f"CAST(round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)"
                f" / (t_total + v)) * {NB_SCALE} + 1e-9) AS BIGINT)"
            ),
        )
        .groupBy("doc_id", "true_lang", "nb_lang", "prior_i")
        .agg(F.sum(F.col("cnt") * F.col("term_i")).alias("ll_i"))
        .withColumn("score_i", F.col("prior_i") + F.col("ll_i"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_i").desc(), "nb_lang"
    )
    pred = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return pred.groupBy("true_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("nb_lang") == F.col("true_lang"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("nb_lang") == F.col("true_lang"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# Dataset card: the one-row corpus summary a dataset release ships —
# sizes, composition, duplication, quality, length profile. Composes
# already-verified primitives (digest groups, the shared quality
# formula, bit-exact percentile) into a single readout; each field's
# determinism rule is the one its source query proved.
@register(
    "pipeline_dataset_card",
    tags=("text", "pipeline", "governance", "aggregate"),
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, source, sha256(text) AS h,
             len(string_split(text, ' ')) AS ntok,
             round({QUALITY_RAW_SQL} + 1e-9, 4) AS q
      FROM documents
    ),
    dup AS (
      SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dup FROM (
        SELECT count(*) AS c FROM d GROUP BY h HAVING count(*) > 1)
    ),
    lt AS (
      SELECT lang, count(*) AS c FROM d GROUP BY 1
      ORDER BY c DESC, lang LIMIT 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           (SELECT n_dup FROM dup) AS n_exact_dup_rows,
           round((SELECT CAST(n_dup AS DOUBLE) FROM dup) / count(*)
                 + 1e-9, 6) AS exact_dup_rate,
           round(avg(q) + 1e-9, 6) AS mean_quality,
           round(quantile_cont(CAST(ntok AS DOUBLE), 0.5) + 1e-9, 6)
             AS p50_tokens,
           (SELECT lang FROM lt) AS top_lang,
           round((SELECT CAST(c AS DOUBLE) FROM lt) / count(*) + 1e-9, 6)
             AS top_lang_share
    FROM d
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card (sizes, composition, duplication rate,
    mean quality, median length, dominant language). Scale shape:
    one scan feeds the main aggregate; the digest-group dup count is
    its own hash-keyed aggregation; the 1-row top-lang frame rides
    TakeOrdered — every piece collapses before any join; the final
    assembly is broadcasts of 1-row frames."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.sha2(F.col("text"), 256).alias("h"),
        n_words().alias("ntok"),
        F.round(quality_raw_col() + F.lit(1e-9), 4).alias("q"),
    )
    dup = (
        d.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_dup")
        )
    )
    lt = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("c").alias("top_c"))
    )
    main = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.round(F.avg("q") + F.lit(1e-9), 6).alias("mean_quality"),
        F.round(
            F.expr("percentile(CAST(ntok AS DOUBLE), 0.5)") + F.lit(1e-9), 6
        ).alias("p50_tokens"),
    )
    return (
        main.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(lt))
        .select(
            "n_docs",
            "n_tokens",
            "n_langs",
            "n_sources",
            F.col("n_dup").alias("n_exact_dup_rows"),
            F.round(
                F.col("n_dup").cast("double") / F.col("n_docs") + F.lit(1e-9),
                6,
            ).alias("exact_dup_rate"),
            "mean_quality",
            "p50_tokens",
            "top_lang",
            F.round(
                F.col("top_c").cast("double") / F.col("n_docs") + F.lit(1e-9),
                6,
            ).alias("top_lang_share"),
        )
    )


# --------------------------------------------------------------------------
# Token burstiness (Church–Gale): cf/df per token — function words
# occur once per document (ratio ~1), topical words cluster in few
# docs (ratio >> 1). The corpus-linguistics readout behind stopword
# induction and topical-vocabulary mining. Exact integers until one
# output division; cf ties broken by the unique token string.
BURSTINESS_TOP_N = 100


@register(
    "text_token_burstiness",
    tags=("text", "burstiness", "vocabulary", "topk"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS t
      FROM documents
    ),
    a AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY 1
    )
    SELECT t AS token, cf, df,
           round(CAST(cf AS DOUBLE) / df + 1e-9, 4) AS burstiness
    FROM a
    ORDER BY cf DESC, t
    LIMIT {BURSTINESS_TOP_N}
    """,
)
def text_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, cf, df, burstiness): collection frequency over document
    frequency for the BURSTINESS_TOP_N most frequent tokens.
    Determinism: cf/df are exact integers; burstiness is one integer
    ratio (+1e-9 bias); the LIMIT rides (cf DESC, token) — token is
    unique within the aggregate. Scale shape: explode + ONE
    two-phase distinct aggregate (Spark expands count+countDistinct
    into (t, doc_id) partial dedup then the t fold — both stages
    map-side combine); the top-N rides TakeOrderedAndProject. No
    windows, no self-joins."""
    d = _spread_by(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.explode(tokens()).alias("t"))
    a = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    return (
        a.select(
            F.col("t").alias("token"),
            "cf",
            "df",
            F.round(
                F.col("cf").cast("double") / F.col("df") + F.lit(1e-9), 4
            ).alias("burstiness"),
        )
        .orderBy(F.col("cf").desc(), "token")
        .limit(BURSTINESS_TOP_N)
    )


# --------------------------------------------------------------------------
# Language x source independence: the full contingency-table
# chi-square test + Cramér's V — "is language composition the same
# across sources?" (orders_priority_drift is the per-slice
# goodness-of-fit cousin; this is the global association test a
# corpus auditor runs first). Zero-observed cells are folded in
# WITHOUT enumerating them: their (0-E)^2/E = E, and sum(E) over all
# cells = N, so chi2 = sum_present((obs-E)^2/E) + (N - sum_present(E)).
@register(
    "corpus_lang_source_independence",
    tags=("text", "chi-square", "composition", "aggregate"),
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2
    ),
    r AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS rl FROM c GROUP BY 1),
    s AS (SELECT source, CAST(sum(obs) AS BIGINT) AS cs FROM c GROUP BY 1),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          FROM c),
    term AS (
      SELECT c.obs,
             (CAST(r.rl AS DOUBLE) * s.cs) / n.total AS e,
             n.total AS total, n.n_langs AS n_langs,
             n.n_sources AS n_sources
      FROM c JOIN r ON r.lang = c.lang
             JOIN s ON s.source = c.source
             CROSS JOIN n
    )
    SELECT min(total) AS n_docs,
           min(n_langs) AS n_langs,
           min(n_sources) AS n_sources,
           CAST((min(n_langs) - 1) * (min(n_sources) - 1) AS BIGINT) AS dof,
           round(sum((obs - e) * (obs - e) / e)
                 + (min(total) - sum(e)) + 1e-9, 4) AS chi2,
           round(CASE
                   WHEN least(min(n_langs) - 1, min(n_sources) - 1) = 0
                   THEN 0.0
                   ELSE sqrt((sum((obs - e) * (obs - e) / e)
                              + (min(total) - sum(e)))
                             / (min(total)
                                * least(min(n_langs) - 1,
                                        min(n_sources) - 1)))
                 END + 1e-9, 6) AS cramers_v
    FROM term
    """,
)
def corpus_lang_source_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, n_langs, n_sources, dof, chi2, cramers_v): Pearson
    chi-square independence test of the lang x source contingency
    table with effect size. Determinism: cells/marginals are exact
    integers; each E = (rl * cs) / total is ONE double multiply
    (rl*cs <= ~1e10, exactly representable) + one division —
    identical on both engines; only the term sum is order-divergent
    (+1e-9 bias); absent cells fold in via the algebraic identity in
    the header. Scale shape: one fact-collapse to |langs x sources|
    cells, then marginal windows over that tiny frame; 1-row
    output."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    # Marginals as windows over the cell frame (|L|x|S| rows — tiny
    # at any corpus size; no second fact scan).
    c = (
        c.withColumn("rl", F.sum("obs").over(Window.partitionBy("lang")))
        .withColumn("cs", F.sum("obs").over(Window.partitionBy("source")))
        .withColumn("total", F.sum("obs").over(Window.partitionBy()))
        .withColumn(
            "n_langs",
            F.size(F.collect_set("lang").over(Window.partitionBy())),
        )
        .withColumn(
            "n_sources",
            F.size(F.collect_set("source").over(Window.partitionBy())),
        )
    )
    e = (F.col("rl").cast("double") * F.col("cs")) / F.col("total")
    term = c.select(
        "obs",
        e.alias("e"),
        "total",
        "n_langs",
        "n_sources",
    )
    chi2 = F.sum((F.col("obs") - F.col("e")) * (F.col("obs") - F.col("e")) / F.col("e")) + (
        F.min("total") - F.sum("e")
    )
    kmin = F.least(F.min("n_langs") - 1, F.min("n_sources") - 1)
    return term.agg(
        F.min("total").cast("bigint").alias("n_docs"),
        F.min("n_langs").cast("bigint").alias("n_langs"),
        F.min("n_sources").cast("bigint").alias("n_sources"),
        ((F.min("n_langs") - 1) * (F.min("n_sources") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round(chi2 + F.lit(1e-9), 4).alias("chi2"),
        # Degenerate-table guard (ADVICE r10): a 1-lang or 1-source
        # corpus makes kmin = 0 and Cramér's V 0/0 = NaN; a
        # single-row/column table is trivially independent, so define
        # V = 0 there (identical CASE on the oracle side).
        F.round(
            F.when(kmin == 0, F.lit(0.0)).otherwise(
                F.sqrt(chi2 / (F.min("total") * kmin))
            )
            + F.lit(1e-9),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between source unigram
# distributions — the symmetric, bounded (<= ln 2) cousin of
# corpus_source_kl: which source PAIRS carry the same kind of text?
# The mixture-design input when deciding which sources are
# interchangeable vs complementary. Absent-token mass folds in
# ALGEBRAICALLY (the chi-square zero-cell trick): a token present in
# a with share p and absent in b contributes 0.5*p*ln 2, and
# sum(p) over a-only tokens = 1 - (a's shared mass), so
# JSD = sum_shared + 0.5*ln2*(2 - shared_mass_a - shared_mass_b) —
# inner join only, no outer-join null handling.
@register(
    "text_source_js_divergence",
    tags=("text", "jsd", "composition", "drift"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("source", "c_st")}),
    s AS (
      SELECT source, t, c_st,
             CAST(sum(c_st) OVER (PARTITION BY source) AS BIGINT) AS n_s
      FROM c
    ),
    pair AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(a.c_st AS DOUBLE) / a.n_s AS p,
             CAST(b.c_st AS DOUBLE) / b.n_s AS q
      FROM s a JOIN s b ON a.t = b.t AND a.source < b.source
    ),
    agg AS (
      SELECT source_a, source_b,
             CAST(count(*) AS BIGINT) AS n_shared_terms,
             round(sum(0.5 * p * ln(2 * p / (p + q))
                       + 0.5 * q * ln(2 * q / (p + q)))
                   + 0.5 * ln(CAST(2 AS DOUBLE)) * (2 - sum(p) - sum(q))
                   + 1e-9, 6) AS jsd_nats
      FROM pair GROUP BY source_a, source_b
    ),
    sp AS (SELECT DISTINCT source FROM documents)
    SELECT x.source AS source_a, y.source AS source_b,
           COALESCE(agg.n_shared_terms, CAST(0 AS BIGINT))
             AS n_shared_terms,
           COALESCE(agg.jsd_nats,
                    round(ln(CAST(2 AS DOUBLE)) + 1e-9, 6)) AS jsd_nats
    FROM sp x JOIN sp y ON x.source < y.source
    LEFT JOIN agg ON agg.source_a = x.source AND agg.source_b = y.source
    """,
)
def text_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_shared_terms, jsd_nats): JSD between
    EVERY source pair's token unigram distribution — pairs with zero
    shared tokens (fully complementary sources) are emitted at
    jsd = ln 2 via a source-pair spine left-joined onto the
    shared-term aggregate (ADVICE r11: the inner join alone silently
    dropped exactly the pairs the query exists to surface);
    absent-mass on shared-vocab pairs folded in algebraically (see
    header).

    Determinism: p/q are exact-integer divisions (identical doubles
    cross-engine); each shared term is one fixed IEEE op tree; only
    the per-pair vocab sums are order-divergent and JSD is O(1), so
    +1e-9 after the 6dp round covers the ulp noise; the ln 2 fill
    constant is each engine's round(ln 2 + 1e-9, 6) — a rounded
    transcendental, never on a 6dp boundary. Scale shape: one
    tokenize lineage -> (source, t) counts with the per-source total
    as a WINDOW over the grouped frame (no agg-then-rejoin, r6
    rule). The (source, t, p) frame feeds BOTH sides of the pair
    join; a broadcast-hash build side does NOT runtime-reuse the
    probe's exchange (ADVICE r11 — the executed plan re-ran tokenize
    on the build side), so the frame is lazy-PERSISTED
    (dependency-ordered consumers, gotcha #9: the build side
    materializes the cache, the probe and the pair spine read it) —
    the corpus is tokenized exactly once, pinned by the zero-rescan
    executed-plan test. The pair join produces O(vocab * sources^2)
    rows, never O(corpus); the JSD fold partial-aggregates per pair;
    the spine and its non-equi pair frame are O(|sources|) /
    O(|sources|^2) broadcast-size."""
    c = _term_counts(_spread(load_table(spark, sf_dir, "documents")), "source", "c_st")

    s = c.withColumn(
        "n_s", F.sum("c_st").over(Window.partitionBy("source"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = s.select(
        F.col("source").alias("source_a"),
        F.col("t").alias("t"),
        (F.col("c_st").cast("double") / F.col("n_s")).alias("p"),
    )
    b = s.select(
        F.col("source").alias("source_b"),
        F.col("t").alias("tb"),
        (F.col("c_st").cast("double") / F.col("n_s")).alias("q"),
    )
    pair = a.join(
        b, (F.col("t") == F.col("tb")) & (F.col("source_a") < F.col("source_b"))
    )
    term = F.lit(0.5) * F.col("p") * F.log(
        F.lit(2) * F.col("p") / (F.col("p") + F.col("q"))
    ) + F.lit(0.5) * F.col("q") * F.log(
        F.lit(2) * F.col("q") / (F.col("p") + F.col("q"))
    )
    ln2 = F.log(F.lit(2.0))
    agg = pair.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
        F.round(
            F.sum(term)
            + F.lit(0.5) * ln2 * (F.lit(2) - F.sum("p") - F.sum("q"))
            + F.lit(1e-9),
            6,
        ).alias("jsd_nats"),
    )
    sp = s.select("source").distinct()
    pairs = sp.select(F.col("source").alias("source_a")).join(
        sp.select(F.col("source").alias("source_b")),
        F.col("source_a") < F.col("source_b"),
    )
    return pairs.join(agg, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n_shared_terms"), F.lit(0).cast("bigint")).alias(
            "n_shared_terms"
        ),
        F.coalesce(
            F.col("jsd_nats"), F.round(ln2 + F.lit(1e-9), 6)
        ).alias("jsd_nats"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation of the shared quality score vs document
# length, per language — the RANK-robust twin of
# text_quality_length_corr's Pearson: monotone association that heavy
# tails and the score's saturating min() terms cannot distort. The
# statistic is Spearman over the 6dp-QUANTIZED score (the same
# round-with-bias grid both engines), with tie-averaged ranks.
#
# Scale shape: ranks are never computed per document. Each variable
# collapses to its per-(lang, value) HISTOGRAM first — the quality
# grid has at most 1e6+1 cells (score lives in [0,1] at 6dp) and the
# length histogram at most max-doc-length cells, both
# volume-INDEPENDENT — the tie-averaged rank is a window over that
# bounded histogram (partitioned by lang, never a fact sort), and the
# fact rejoins its two rank maps on (lang, value). Determinism:
# 2*avg_rank = 2*cum_before + cnt + 1 is INTEGER, the five moment
# sums are exact (decimal(38,0) / HUGEINT — rank products pass 2^63
# near ~2e9 docs/lang), and the one double closed form is the
# identical six-sum Pearson tree both engines; nullif guards the
# zero-variance lang (all-equal quality or all-equal length).
@register(
    "text_quality_length_spearman",
    tags=("text", "quality", "correlation", "rank", "validity"),
    oracle=f"""
    WITH d AS (
      SELECT lang,
             round({QUALITY_RAW_SQL} + 1e-9, 6) AS qg,
             n_chars
      FROM documents
    ),
    qh AS (
      SELECT lang, qg, CAST(count(*) AS BIGINT) AS cnt
      FROM d GROUP BY 1, 2
    ),
    qr AS (
      SELECT lang, qg,
             2 * COALESCE(sum(cnt) OVER (
               PARTITION BY lang ORDER BY qg
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + cnt + 1 AS ra2
      FROM qh
    ),
    lh AS (
      SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS cnt
      FROM d GROUP BY 1, 2
    ),
    lr AS (
      SELECT lang, n_chars,
             2 * COALESCE(sum(cnt) OVER (
               PARTITION BY lang ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + cnt + 1 AS rb2
      FROM lh
    ),
    j AS (
      SELECT d.lang, qr.ra2, lr.rb2
      FROM d
      JOIN qr ON qr.lang = d.lang AND qr.qg = d.qg
      JOIN lr ON lr.lang = d.lang AND lr.n_chars = d.n_chars
    ),
    s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(ra2 AS HUGEINT)) AS sa,
             sum(CAST(rb2 AS HUGEINT)) AS sb,
             sum(CAST(ra2 AS HUGEINT) * ra2) AS saa,
             sum(CAST(rb2 AS HUGEINT) * rb2) AS sbb,
             sum(CAST(ra2 AS HUGEINT) * rb2) AS sab
      FROM j GROUP BY 1
    )
    SELECT lang, n AS n_docs,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / nullif(sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                          * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)),
                          0.0)
                 + 1e-9, 6) + 0.0 AS spearman_rho
    FROM s
    """,
)
def text_quality_length_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(lang, n_docs, spearman_rho): per-language Spearman rank
    correlation between the 6dp-quantized shared quality score and
    n_chars, tie-averaged ranks via the bounded value-histogram
    window, Pearson six-sum closed form on the integer 2x ranks."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.round(quality_raw_col() + F.lit(1e-9), 6).alias("qg"),
        "n_chars",
    )
    dec = "decimal(38,0)"

    def _rank_map(hist_key: str, out: str) -> DataFrame:
        h = d.groupBy("lang", hist_key).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        w = (
            Window.partitionBy("lang")
            .orderBy(hist_key)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return h.select(
            "lang",
            hist_key,
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    j = d.join(_rank_map("qg", "ra2"), ["lang", "qg"]).join(
        _rank_map("n_chars", "rb2"), ["lang", "n_chars"]
    )
    s = j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ra2").cast(dec)).alias("sa"),
        F.sum(F.col("rb2").cast(dec)).alias("sb"),
        F.sum(F.col("ra2").cast(dec) * F.col("ra2")).alias("saa"),
        F.sum(F.col("rb2").cast(dec) * F.col("rb2")).alias("sbb"),
        F.sum(F.col("ra2").cast(dec) * F.col("rb2")).alias("sab"),
    )
    n = F.col("n").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    sab = F.col("sab").cast("double")
    return s.select(
        "lang",
        F.col("n").alias("n_docs"),
        (
            F.round(
                (n * sab - sa * sb)
                / F.nullif(
                    F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb),
                    F.lit(0.0),
                )
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Good-Turing coverage: per language, the frequency-of-frequencies
# diagnostics a corpus team reads before claiming "we've seen this
# language" — unseen-probability mass p0 = N1/N (Good-Turing: the
# total probability of tokens NEVER observed equals the hapax share
# of tokens), dis-legomena count (the next estimator term), and the
# Simpson repeat rate sum c(c-1)/(N(N-1)) (the chance two random
# tokens are the same type — the diversity twin). text_hapax_ratio
# reports the hapax share of each SOURCE's vocabulary; this is the
# missing-mass ESTIMATOR per language over token mass.
#
# Determinism: every statistic is integer-derived — counts, hapax /
# dis flags, and sum c(c-1) as decimal(38,0)/HUGEINT (c^2 passes
# 2^63 near 3e9-token types); the two divisions are exact-integer
# quotients with the rational-boundary bias (gotcha #3); nullif
# guards a single-token language. Scale shape: explode -> ONE
# shuffle on (lang, token) with map-side partial counts; the lang
# report re-aggregates the (lang, token) frame on its own
# partitioning prefix (the hapax_ratio shape).
@register(
    "text_good_turing_coverage",
    tags=("text", "coverage", "good-turing", "diversity", "aggregate"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("lang", "n")}),
    a AS (
      SELECT lang,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis_legomena,
             sum(CAST(n AS HUGEINT) * (n - 1)) AS rep2
      FROM c GROUP BY 1
    )
    SELECT lang, n_tokens, vocab, hapax, dis_legomena,
           round(CAST(hapax AS DOUBLE) / n_tokens + 1e-9, 6)
             AS gt_unseen_mass,
           round(1.0 - CAST(hapax AS DOUBLE) / n_tokens + 1e-9, 6)
             AS gt_coverage,
           round(CAST(rep2 AS DOUBLE)
                 / nullif(CAST(n_tokens AS DOUBLE) * (n_tokens - 1), 0.0)
                 + 1e-9, 6) AS simpson_repeat
    FROM a
    """,
)
def text_good_turing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_tokens, vocab, hapax, dis_legomena, gt_unseen_mass,
    gt_coverage, simpson_repeat): Good-Turing missing-mass and
    Simpson repeat-rate per language (see header)."""
    d = load_table(spark, sf_dir, "documents")
    c = _term_counts(d, "lang", "n")
    dec = "decimal(38,0)"
    a = c.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("dis_legomena"),
        F.sum(F.col("n").cast(dec) * (F.col("n") - 1).cast(dec)).alias(
            "rep2"
        ),
    )
    hm = F.col("hapax").cast("double") / F.col("n_tokens")
    return a.select(
        "lang",
        "n_tokens",
        "vocab",
        "hapax",
        "dis_legomena",
        F.round(hm + F.lit(1e-9), 6).alias("gt_unseen_mass"),
        F.round(F.lit(1.0) - hm + F.lit(1e-9), 6).alias("gt_coverage"),
        F.round(
            F.col("rep2").cast("double")
            / F.nullif(
                F.col("n_tokens").cast("double")
                * (F.col("n_tokens") - F.lit(1)),
                F.lit(0.0),
            )
            + F.lit(1e-9),
            6,
        ).alias("simpson_repeat"),
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010, simplified to the
# word-score core): split each document into candidate phrases at
# stopword boundaries, then score every content word by
# degree/frequency — degree counts the word's phrase co-occupancy
# (sum of the lengths of every phrase it appears in, itself
# included), so words that anchor LONG multi-word phrases outrank
# equally-frequent words that appear alone. The classic cheap
# keyword/phrase miner for corpus exploration.
#
# Determinism: tokenization is the shared single-space split; the
# stopword set is ONE Python tuple interpolated into both engines;
# chunk ids are integer running counts of stopword positions; phrase
# lengths, frequencies and degrees are exact integer counts; the
# score is scaled integer division degree * 1e6 div freq (exact,
# order-free) with the (score_u DESC, tok) unique tiebreak on the
# LIMIT (the top-k rule).
#
# Scale shape: tokenize once (spread first — single-file input,
# gotcha #6); the chunk cum-sum and the phrase-length count are two
# windows over ONE doc_id exchange (hash(doc_id) satisfies the
# (doc_id, chunk) clustering); one vocabulary-bounded aggregate; the
# final top-k is TakeOrdered, never a global sort.
RAKE_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in",
                  "is", "on", "for", "with")
RAKE_MIN_FREQ = 5
RAKE_TOP_N = 50
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)


@register(
    "text_keyword_rake",
    tags=("text", "keywords", "rake", "window"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest([{{'pos': i, 'tok': toks[i]}}
                       FOR i IN range(1, len(toks) + 1)]) AS u
        FROM t
      )
    ),
    c AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN ({_RAKE_STOP_SQL}) OR tok = ''
                  THEN 1 ELSE 0 END AS stop,
             sum(CASE WHEN tok IN ({_RAKE_STOP_SQL}) OR tok = ''
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS chunk
      FROM tok
    ),
    p AS (
      SELECT doc_id, chunk, tok,
             CAST(count(*) OVER (PARTITION BY doc_id, chunk) AS BIGINT)
               AS plen
      FROM c WHERE stop = 0
    ),
    g AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree
      FROM p GROUP BY tok
    )
    SELECT tok, freq, degree,
           CAST(degree * 1000000 // freq AS BIGINT) AS score_u,
           round(CAST(degree AS DOUBLE) / freq + 1e-9, 6) AS rake_score
    FROM g
    WHERE freq >= {RAKE_MIN_FREQ}
    ORDER BY degree * 1000000 // freq DESC, tok
    LIMIT {RAKE_TOP_N}
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tok, freq, degree, score_u, rake_score): RAKE degree/frequency
    keyword scores over stopword-delimited chunks, top RAKE_TOP_N by
    the exact-integer scaled score (see header)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = _spread_by(d, "doc_id").select(
        "doc_id",
        F.posexplode(tokens()).alias("pos", "tok"),
    )
    is_stop = F.col("tok").isin(*RAKE_STOPWORDS) | (F.col("tok") == "")
    w_pos = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = tok.select(
        "doc_id",
        "pos",
        "tok",
        F.when(is_stop, 1).otherwise(0).alias("stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(w_pos).alias("chunk"),
    )
    p = (
        c.filter(F.col("stop") == 0)
        .withColumn(
            "plen",
            F.count(F.lit(1))
            .over(Window.partitionBy("doc_id", "chunk"))
            .cast("bigint"),
        )
    )
    g = p.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    return (
        g.filter(F.col("freq") >= RAKE_MIN_FREQ)
        .withColumn(
            "score_u",
            F.expr("degree * 1000000 div freq").cast("bigint"),
        )
        .orderBy(F.desc("score_u"), "tok")
        .limit(RAKE_TOP_N)
        .select(
            "tok",
            "freq",
            "degree",
            "score_u",
            F.round(
                F.col("degree").cast("double") / F.col("freq") + F.lit(1e-9),
                6,
            ).alias("rake_score"),
        )
    )


# --------------------------------------------------------------------------
# Burrows' Delta authorship distance between sources: for the top-K
# corpus words, z-score each source's word frequency across sources,
# then Delta(a, b) = mean_w |z_a(w) - z_b(w)| — the classic
# stylometry readout ("which crawl sources write alike?"), run before
# attributing near-dups or contamination to a shared upstream author
# (Burrows 2002 / Argamon 2008).
#
# Determinism: per-source word frequencies are exact integer
# micro-units (cnt * 1e6 div total — the quality-classifier
# discipline); the z-score clears the mean denominator into exact
# integers, z = (fu*S - sum_f) / sqrt(S*sum_f2 - sum_f^2), so the
# only float ops are ONE correctly-rounded sqrt of an exact integer
# and ONE division — identical IEEE trees both engines — then z is
# 6dp-LOCKED before the pair stage (the BH p-value discipline).
# Zero-variance words (disc = 0) are excluded on both engines by an
# exact integer comparison; n_words records the surviving count. The
# per-pair fold adds identical doubles in identical token order over
# a <= K-row frame (gotcha #15 size bound; |z6| is O(sqrt(S)) so the
# magnitude bound is never in play). The K-th-rank vocabulary cutoff
# uses the unique (count DESC, token) order (the OOV idiom). The
# disc product S*sum_f2 runs in decimal(38,0)/HUGEINT: sum_f2 <=
# S*1e12, so bigint would overflow past ~3k sources (documented
# bound lifted the CUPED way).
#
# Scale shape: ONE tokenize lineage collapses to the (source, token)
# count aggregate, checkpointed (it feeds the per-source totals, the
# global top-K vocabulary and the spine probe — three differently-
# shaped siblings, gotcha #14; the text_distinctive_terms
# precedent); everything downstream runs on the bounded
# |sources| x K spine (vocab and word moments broadcast). The
# |pairs| x K compare stage is |sources|^2-bounded — sources are a
# bounded dimension in this corpus (20), never fact-proportional.
BURROWS_TOP_K = 40


@register(
    "text_burrows_delta",
    tags=("text", "stylometry", "burrows", "delta", "window"),
    oracle=f"""
    WITH stc AS ({_term_counts_sql("source")}),
    tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS total FROM stc GROUP BY 1
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY sum(c) DESC, t) AS rk
        FROM stc GROUP BY t
      ) WHERE rk <= {BURROWS_TOP_K}
    ),
    f AS (
      SELECT tot.source, v.t,
             CAST(CAST(coalesce(s.c, 0) AS BIGINT) * 1000000 // tot.total
                  AS BIGINT) AS fu
      FROM tot CROSS JOIN vocab v
      LEFT JOIN stc s ON s.source = tot.source AND s.t = v.t
    ),
    wm AS (
      SELECT t, CAST(count(*) AS BIGINT) AS s_n,
             CAST(sum(fu) AS BIGINT) AS sumf,
             CAST(sum(fu * fu) AS BIGINT) AS sumf2
      FROM f GROUP BY t
    ),
    z AS (
      SELECT f.source, f.t,
             round(CAST(f.fu * wm.s_n - wm.sumf AS DOUBLE)
                   / sqrt(CAST(CAST(wm.s_n AS HUGEINT)
                                 * CAST(wm.sumf2 AS HUGEINT)
                               - CAST(wm.sumf AS HUGEINT)
                                 * CAST(wm.sumf AS HUGEINT)
                          AS DOUBLE)) + 1e-9, 6) AS z6
      FROM f JOIN wm ON wm.t = f.t
      WHERE CAST(wm.s_n AS HUGEINT) * CAST(wm.sumf2 AS HUGEINT)
            - CAST(wm.sumf AS HUGEINT) * CAST(wm.sumf AS HUGEINT) > 0
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, a.t,
             abs(a.z6 - b.z6) AS d
      FROM z a JOIN z b ON a.t = b.t AND a.source < b.source
    ),
    fold AS ({ordered_fold_sql("pairs", "t", {"cd": "d"}, by="source_a, source_b")})
    SELECT source_a, source_b, CAST(k AS BIGINT) AS n_words,
           round(cd / k + 1e-9, 6) AS delta
    FROM fold
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_words, delta): Burrows' Delta stylometric
    distance between every source pair over the corpus top-K words
    (see header; z-scores clear denominators into exact integers, the
    pair fold runs over a <= K-row frame)."""
    stc = _term_counts(_spread(load_table(spark, sf_dir, "documents")), "source")
    # Three differently-shaped sibling consumers (totals, vocabulary,
    # spine probe) — checkpoint the tokenize aggregate once
    # (gotcha #14; the text_distinctive_terms precedent).
    stc = stc.localCheckpoint(eager=True)
    tot = stc.groupBy("source").agg(F.sum("c").cast("bigint").alias("total"))
    vocab = (
        stc.groupBy("t")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.col("gc").desc(), "t")
        .limit(BURROWS_TOP_K)
        .select("t")
    )
    fu = (
        tot.crossJoin(F.broadcast(vocab))
        .join(
            stc.select(
                F.col("source").alias("s2"), F.col("t").alias("t2"), "c"
            ),
            (F.col("source") == F.col("s2")) & (F.col("t") == F.col("t2")),
            "left",
        )
        .select(
            "source",
            "t",
            F.expr("coalesce(c, 0) * 1000000 div total")
            .cast("bigint")
            .alias("fu"),
        )
    )
    # The bounded |sources| x K spine feeds the word-moment aggregate
    # AND the z probe — checkpoint (<= S*K rows, gotcha #9).
    fu = fu.localCheckpoint(eager=True)
    wm = fu.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_n"),
        F.sum("fu").cast("bigint").alias("sumf"),
        F.sum(F.col("fu") * F.col("fu")).cast("bigint").alias("sumf2"),
    )
    disc = (
        F.col("s_n").cast("decimal(38,0)") * F.col("sumf2").cast("decimal(38,0)")
        - F.col("sumf").cast("decimal(38,0)") * F.col("sumf").cast("decimal(38,0)")
    )
    zf = (
        fu.join(F.broadcast(wm), "t")
        .filter(disc > 0)
        .select(
            "source",
            "t",
            F.round(
                (F.col("fu") * F.col("s_n") - F.col("sumf")).cast("double")
                / F.sqrt(disc.cast("double"))
                + F.lit(1e-9),
                6,
            ).alias("z6"),
        )
    )
    # Self-join of an aggregated frame never runtime-reuses
    # (gotcha #14 r7 refinement) — checkpoint the <= S*K-row z frame.
    zf = zf.localCheckpoint(eager=True)
    a = zf.select(
        F.col("source").alias("source_a"),
        F.col("t").alias("ta"),
        F.col("z6").alias("za"),
    )
    b = zf.select(
        F.col("source").alias("source_b"),
        F.col("t").alias("tb"),
        F.col("z6").alias("zb"),
    )
    pairs = a.join(
        b, (F.col("ta") == F.col("tb")) & (F.col("source_a") < F.col("source_b"))
    ).select(
        "source_a",
        "source_b",
        F.col("ta").alias("t"),
        F.abs(F.col("za") - F.col("zb")).alias("d"),
    )
    folded = ordered_fold(pairs, ["t"], {"cd": "d"}, by=["source_a", "source_b"])
    return folded.select(
        "source_a",
        "source_b",
        F.col("k").cast("bigint").alias("n_words"),
        F.round(F.col("cd") / F.col("k") + F.lit(1e-9), 6).alias("delta"),
    )


# --------------------------------------------------------------------------
# Yule's K vocabulary-richness per language: K = 1e4 * (S2 - S1) / S1^2
# over the token-frequency spectrum (S1 = total tokens, S2 = sum of
# squared type counts) — the length-robust repetitiveness readout
# (Yule 1944; high K = formulaic/boilerplate text, low K = rich
# vocabulary), the corpus-health companion to text_token_entropy
# (per-doc) at the language level.
#
# Determinism: S1, n_types and S2 are EXACT integers; S2 accumulates
# in decimal(38,0)/HUGEINT (cnt^2 per term can pass 2^63 once a
# stop-word's count reaches ~3e9 at crawl scale — the CUPED
# discipline); K is ONE division of exact-integer-derived doubles in
# an identical tree (+1e-9 bias, 6dp).
#
# Scale shape: one tokenize lineage -> (lang, token) partial-
# aggregated counts -> a |langs|-row rollup; single chain, no sibling
# consumers, no joins, no folds.
@register(
    "text_yule_k",
    tags=("text", "vocabulary", "richness", "yule"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("lang")}),
    s AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS s1,
             CAST(count(*) AS BIGINT) AS n_types,
             sum(CAST(c AS HUGEINT) * c) AS s2
      FROM c GROUP BY 1
    )
    SELECT lang, s1 AS n_tokens, n_types,
           round(CAST(s2 - s1 AS DOUBLE) * 10000
                 / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) + 1e-9, 6)
             AS yule_k
    FROM s
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_tokens, n_types, yule_k): Yule's K repetitiveness of
    the token-frequency spectrum per language (see header; exact
    integer spectrum sums, one identical division)."""
    c = _term_counts(_spread(load_table(spark, sf_dir, "documents")), "lang")
    s = c.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("s1"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    return s.select(
        "lang",
        F.col("s1").alias("n_tokens"),
        "n_types",
        F.round(
            (F.col("s2") - F.col("s1")).cast("double")
            * F.lit(10000)
            / (F.col("s1").cast("double") * F.col("s1").cast("double"))
            + F.lit(1e-9),
            6,
        ).alias("yule_k"),
    )


# --------------------------------------------------------------------------
# Type-token ratio growth curve per language: vocabulary size (and
# TTR, Herdan's C) at fixed token budgets over the canonical corpus
# token order — the standard corpus-linguistics richness curve that,
# unlike a single whole-corpus TTR, is COMPARABLE across languages
# and scale factors because every point conditions on the same token
# budget (the Yule's K companion: K is length-robust repetitiveness,
# the TTR curve is richness growth).
#
# Determinism: the token order is the unique (doc_id, pos) key within
# each language, so the global per-lang position is
# partition-deterministic; types_at_budget is an exact integer count
# of first-occurrence positions <= budget; ttr is ONE division of
# exact integers and herdan_c one ln/ln of exact integers — identical
# IEEE trees cross-engine (+1e-9, 6dp). Budgets are shared Python
# literals (the Benford rule).
#
# Scale shape: the ONLY fact-proportional ordered op is the grouped
# two-pass rank (functions/scale.py::two_pass_cumsum of F.lit(1) with
# group_cols=[lang] — range-partition on (lang, doc_id, pos), no
# one-lang-one-partition sort); first-occurrence collapses to the
# vocab-bounded (lang, type) frame; the budget spine is a bounded
# |budgets|-row broadcast BNLJ; the final agg is |langs| x |budgets|.
TTR_BUDGETS = (100, 300, 1000, 3000, 10000, 30000, 100000, 300000)
_TTR_BUDGET_LIST = ", ".join(str(b) for b in TTR_BUDGETS)

# The TTR growth-curve CTE tower, shared verbatim by the
# text_ttr_curve oracle and the text_heaps_law_fit oracle (the
# QUALITY_RAW_SQL factoring rule: consumers can't drift). `agg`
# carries (lang, budget, types_at_budget).
_TTR_CURVE_CTES = f"""tok AS (
      SELECT lang, doc_id,
             unnest({TOKENS_SQL}) AS t,
             generate_subscripts({TOKENS_SQL}, 1) AS pos
      FROM documents
    ),
    r AS (
      SELECT lang, t,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id, pos)
               AS gpos
      FROM tok
    ),
    nt AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY lang
    ),
    fp AS (
      SELECT lang, t, min(gpos) AS first_pos FROM r GROUP BY lang, t
    ),
    b AS (SELECT unnest([{_TTR_BUDGET_LIST}]) AS budget),
    agg AS (
      SELECT fp.lang, CAST(b.budget AS BIGINT) AS budget,
             CAST(sum(CASE WHEN fp.first_pos <= b.budget THEN 1 ELSE 0 END)
                  AS BIGINT) AS types_at_budget
      FROM fp
      JOIN nt ON fp.lang = nt.lang
      JOIN b ON b.budget <= nt.n_tok
      GROUP BY 1, 2
    )"""


@register(
    "text_ttr_curve",
    tags=("text", "vocabulary", "richness", "ttr", "two-pass-rank"),
    oracle=f"""
    WITH {_TTR_CURVE_CTES}
    SELECT lang, budget, types_at_budget,
           round(CAST(types_at_budget AS DOUBLE) / budget + 1e-9, 6) AS ttr,
           round(ln(CAST(types_at_budget AS DOUBLE))
                 / ln(CAST(budget AS DOUBLE)) + 1e-9, 6) AS herdan_c
    FROM agg
    """,
)
def text_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, budget, types_at_budget, ttr, herdan_c): vocabulary
    growth at fixed token budgets per language over the canonical
    (doc_id, pos) token order (see header; budgets beyond a
    language's token count are not emitted)."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "lang",
        "doc_id",
        F.posexplode(tokens()).alias("pos", "t"),
    )
    ranked = two_pass_cumsum(
        tok, ["doc_id", "pos"], F.lit(1), "gpos", total_col="n_tok", group_cols=["lang"]
    )
    fp = ranked.groupBy("lang", "t").agg(
        F.min("gpos").alias("first_pos"), F.max("n_tok").alias("n_tok")
    )
    budgets = spark.createDataFrame(
        [(b,) for b in TTR_BUDGETS], "budget bigint"
    )
    agg = (
        fp.join(F.broadcast(budgets), F.col("budget") <= F.col("n_tok"))
        .groupBy("lang", "budget")
        .agg(
            F.sum(
                F.when(F.col("first_pos") <= F.col("budget"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("types_at_budget")
        )
    )
    return agg.select(
        "lang",
        "budget",
        "types_at_budget",
        F.round(
            F.col("types_at_budget").cast("double") / F.col("budget")
            + F.lit(1e-9),
            6,
        ).alias("ttr"),
        F.round(
            F.log(F.col("types_at_budget").cast("double"))
            / F.log(F.col("budget").cast("double"))
            + F.lit(1e-9),
            6,
        ).alias("herdan_c"),
    )


# --------------------------------------------------------------------------
# Token-frequency spectrum per language: V_m = number of types seen
# exactly m times (m = 1..5) plus the hapax/dis-legomena shares — the
# lexicographer's companion readout to text_yule_k (K is a scalar of
# the same spectrum; the V_m profile is what LNRE vocabulary models
# like Zipf-Mandelbrot are fit to, and the hapax share is the
# standard OCR-garbage / boilerplate-collapse corpus-health signal).
#
# Determinism: every V_m is an EXACT integer off the (lang, type)
# count frame; the two shares are ONE division each of exact
# integers — identical IEEE doubles cross-engine (+1e-9, 6dp).
# No folds, no decimals needed (counts of types fit bigint at any
# conceivable vocabulary).
#
# Scale shape: one tokenize lineage -> (lang, token)
# partial-aggregated counts -> a |langs|-row rollup; single chain,
# no joins, no checkpoints (the yule_k shape).
@register(
    "text_freq_spectrum",
    tags=("text", "vocabulary", "spectrum", "hapax"),
    oracle=f"""
    WITH c AS ({_term_counts_sql("lang")}),
    s AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
             CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
             CAST(sum(CASE WHEN c = 5 THEN 1 ELSE 0 END) AS BIGINT) AS v5
      FROM c GROUP BY 1
    )
    SELECT lang, n_tokens, n_types, v1, v2, v3, v4, v5,
           round(CAST(v1 AS DOUBLE) / n_types + 1e-9, 6) AS hapax_share,
           round(CAST(v2 AS DOUBLE) / n_types + 1e-9, 6) AS dis_share
    FROM s
    """,
)
def text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_tokens, n_types, v1..v5, hapax_share, dis_share):
    token-frequency spectrum V_m (types seen exactly m times) per
    language with hapax/dis shares (see header; exact integers, two
    single divisions)."""
    c = _term_counts(_spread(load_table(spark, sf_dir, "documents")), "lang")
    aggs = [
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    ] + [
        F.sum(F.when(F.col("c") == m, 1).otherwise(0))
        .cast("bigint")
        .alias(f"v{m}")
        for m in range(1, 6)
    ]
    s = c.groupBy("lang").agg(*aggs)
    return s.select(
        "lang",
        "n_tokens",
        "n_types",
        "v1",
        "v2",
        "v3",
        "v4",
        "v5",
        F.round(
            F.col("v1").cast("double") / F.col("n_types") + F.lit(1e-9), 6
        ).alias("hapax_share"),
        F.round(
            F.col("v2").cast("double") / F.col("n_types") + F.lit(1e-9), 6
        ).alias("dis_share"),
    )


# --------------------------------------------------------------------------
# Heaps'-law fit per language: regress ln(vocabulary) on ln(budget)
# over the TTR growth-curve points (V(N) ~ K*N^beta) — the two-number
# summary (growth exponent beta, scale K) a corpus report quotes
# instead of the raw curve, and the standard way to EXTRAPOLATE
# vocabulary to crawl-scale token budgets. r2 reports how
# Heaps-linear the curve actually is (boilerplate-heavy corpora
# bend it).
#
# Determinism design — NO float folds anywhere (gotcha #15 by
# construction): the budget axis is the FIXED shared literal list, so
# each lang's curve pivots into <= 8 COLUMNS (max over a 1-value
# group is order-free) and every OLS sum is an UNROLLED left-assoc
# chain in fixed budget order, identical on both engines. x = ln(b)
# and x^2 are PYTHON literals (the Benford rule); y = ln(types) is
# 6dp-LOCKED before entering any chain, so even a sub-ulp cross-
# engine ln divergence collapses before arithmetic. The closed-form
# slope/intercept/r2 then operate on bit-identical inputs; term
# magnitudes are O(1e2) so the subtracted moments carry ~1e-13
# cancellation noise against 1e-6 ticks (the gotcha #17 magnitude
# bound holds with ~7 orders of margin). Langs emit a PREFIX of the
# budget list (emission rule: budget <= n_tok), and fits require
# n_points >= 3.
_HEAPS_MIN_POINTS = 3


def _heaps_terms() -> tuple[str, str, str, str, str, str]:
    """Build the six unrolled OLS-sum SQL chains in fixed budget
    order (shared structure with the Spark side below)."""
    n = " + ".join(
        f"CASE WHEN y{i} IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(len(TTR_BUDGETS))
    )
    sx = " + ".join(
        f"CASE WHEN y{i} IS NOT NULL THEN {math.log(b)!r} ELSE 0.0 END"
        for i, b in enumerate(TTR_BUDGETS)
    )
    sy = " + ".join(f"coalesce(y{i}, 0.0)" for i in range(len(TTR_BUDGETS)))
    sxx = " + ".join(
        f"CASE WHEN y{i} IS NOT NULL THEN {math.log(b) * math.log(b)!r} "
        "ELSE 0.0 END"
        for i, b in enumerate(TTR_BUDGETS)
    )
    sxy = " + ".join(
        f"CASE WHEN y{i} IS NOT NULL THEN {math.log(b)!r} * y{i} "
        "ELSE 0.0 END"
        for i, b in enumerate(TTR_BUDGETS)
    )
    syy = " + ".join(
        f"coalesce(y{i} * y{i}, 0.0)" for i in range(len(TTR_BUDGETS))
    )
    return n, sx, sy, sxx, sxy, syy


def _heaps_oracle() -> str:
    n, sx, sy, sxx, sxy, syy = _heaps_terms()
    piv = ",\n             ".join(
        f"max(CASE WHEN budget = {b} THEN y END) AS y{i}"
        for i, b in enumerate(TTR_BUDGETS)
    )
    return f"""
    WITH {_TTR_CURVE_CTES},
    yv AS (
      SELECT lang, budget,
             round(ln(CAST(types_at_budget AS DOUBLE)) + 1e-9, 6) AS y
      FROM agg
    ),
    p AS (
      SELECT lang,
             {piv}
      FROM yv GROUP BY lang
    ),
    m AS (
      SELECT lang,
             CAST({n} AS BIGINT) AS n_points,
             {sx} AS sx,
             {sy} AS sy,
             {sxx} AS sxx,
             {sxy} AS sxy,
             {syy} AS syy
      FROM p
    ),
    d AS (
      SELECT lang, n_points,
             CAST(n_points AS DOUBLE) * sxy - sx * sy AS num,
             CAST(n_points AS DOUBLE) * sxx - sx * sx AS den,
             CAST(n_points AS DOUBLE) * syy - sy * sy AS deny,
             sx, sy
      FROM m
    )
    SELECT lang, n_points,
           round(num / den + 1e-9, 6) AS beta,
           round(exp((sy - ((num / den) * sx)) / CAST(n_points AS DOUBLE))
                 + 1e-9, 4) AS k_coef,
           CASE WHEN deny > 0.0
                THEN round((num * num) / (den * deny) + 1e-9, 6)
           END AS r2
    FROM d WHERE n_points >= {_HEAPS_MIN_POINTS}
    """


@register(
    "text_heaps_law_fit",
    tags=("text", "vocabulary", "heaps-law", "ols", "fold-free"),
    oracle=_heaps_oracle(),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_points, beta, k_coef, r2): Heaps'-law log-log OLS fit
    of the TTR growth curve per language (see header; pivot-to-
    columns makes every OLS sum an unrolled fixed-order chain — no
    float folds).

    Scale shape: everything upstream is text_ttr_curve's lineage
    (grouped two-pass rank, vocab-bounded collapse, bounded budget
    BNLJ); the fit itself runs on the |langs| x |budgets| curve frame
    pivoted to |langs| rows — asymptotically free."""
    curve = text_ttr_curve(spark, sf_dir)
    yv = curve.select(
        "lang",
        "budget",
        F.round(
            F.log(F.col("types_at_budget").cast("double")) + F.lit(1e-9), 6
        ).alias("y"),
    )
    p = yv.groupBy("lang").agg(
        *[
            F.max(F.when(F.col("budget") == b, F.col("y"))).alias(f"y{i}")
            for i, b in enumerate(TTR_BUDGETS)
        ]
    )

    def chain(terms):
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    ys = [F.col(f"y{i}") for i in range(len(TTR_BUDGETS))]
    xs = [math.log(b) for b in TTR_BUDGETS]
    n = chain(
        [F.when(y.isNotNull(), 1).otherwise(0) for y in ys]
    ).cast("bigint")
    sx = chain(
        [
            F.when(y.isNotNull(), F.lit(x)).otherwise(F.lit(0.0))
            for y, x in zip(ys, xs)
        ]
    )
    sy = chain([F.coalesce(y, F.lit(0.0)) for y in ys])
    sxx = chain(
        [
            F.when(y.isNotNull(), F.lit(x * x)).otherwise(F.lit(0.0))
            for y, x in zip(ys, xs)
        ]
    )
    sxy = chain(
        [
            F.when(y.isNotNull(), F.lit(x) * y).otherwise(F.lit(0.0))
            for y, x in zip(ys, xs)
        ]
    )
    syy = chain([F.coalesce(y * y, F.lit(0.0)) for y in ys])
    m = p.select(
        "lang",
        n.alias("n_points"),
        sx.alias("sx"),
        sy.alias("sy"),
        sxx.alias("sxx"),
        sxy.alias("sxy"),
        syy.alias("syy"),
    )
    nd = F.col("n_points").cast("double")
    d = m.select(
        "lang",
        "n_points",
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (nd * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (nd * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
        "sx",
        "sy",
    )
    nd2 = F.col("n_points").cast("double")
    return d.filter(F.col("n_points") >= _HEAPS_MIN_POINTS).select(
        "lang",
        "n_points",
        F.round(F.col("num") / F.col("den") + F.lit(1e-9), 6).alias("beta"),
        F.round(
            F.exp(
                (F.col("sy") - ((F.col("num") / F.col("den")) * F.col("sx")))
                / nd2
            )
            + F.lit(1e-9),
            4,
        ).alias("k_coef"),
        F.when(
            F.col("deny") > 0.0,
            F.round(
                (F.col("num") * F.col("num"))
                / (F.col("den") * F.col("deny"))
                + F.lit(1e-9),
                6,
            ),
        ).alias("r2"),
    )
