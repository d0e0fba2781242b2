"""Training-data sampling & sequence-packing operators (SURVEY.md §2d
extension family — the selection stage of an LLM data pipeline, run
between cleaning/dedup and tokenization).

Three operators, each deliberately DETERMINISTIC (reproducible corpus
builds are table stakes; `df.sample()`'s per-partition RNG changes
with partitioning, so none of these use it):

- hash-sampling: keep a fixed fraction via an arithmetic hash of the
  key — stable under repartitioning, expressible identically in any
  engine, and trivially stratifiable by salting the hash input.
- stratified cap: at most N docs per class (language), best-quality
  first — the class-balancing step that stops a crawl's majority
  language from swamping the mixture.
- greedy sequence packing: assign consecutive docs to fixed-capacity
  token bins (context windows). Inherently sequential per class, so
  it is NOT window-expressible; implemented as an applyInPandas
  (grouped Arrow batches, one pass per class partition) and
  oracle-checked against a DuckDB RECURSIVE CTE computing the same
  fold.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grain import KNUTH, MOD_2_32, knuth_bucket
from ..functions.scale import two_pass_cumsum
from ..functions.text import NORM_TEXT_SQL, QUALITY_RAW_SQL, TOKENS_SQL, n_words
from ..functions.text import normalized_text, quality_raw_col, tokens
from ..sources import load_table
from .registry import register

# Knuth multiplicative hash over the doc key (functions/grain.py): pure
# 64-bit arithmetic, bit-identical in Spark and DuckDB (no engine hash
# functions), ANSI-safe for doc_id < 2^31 (documented; salt+fold first
# at larger ids).


@register(
    "sample_hash_deterministic",
    tags=("sampling", "deterministic"),
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * {KNUTH}) % {MOD_2_32} % 10 = 0
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample: hash(doc_id) selects the row
    independently of partitioning/ordering — rerunning on a
    repartitioned (or incrementally grown) corpus keeps every
    previously-selected doc. A narrow filter: reaches the scan, no
    shuffle, no RNG state."""
    d = load_table(spark, sf_dir, "documents")
    keep = knuth_bucket("doc_id", 10) == 0
    return d.filter(keep).select("doc_id", "lang")


@register(
    "sample_stratified_capped",
    tags=("sampling", "stratified", "window"),
    oracle=f"""
    SELECT doc_id, lang, quality
    FROM (
      SELECT doc_id, lang,
             round(0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
                 + 0.4 * (len(list_distinct({TOKENS_SQL}))
                          / CAST(len(string_split(text, ' ')) AS DOUBLE))
                 + 0.2 * least((CAST(length(text) AS DOUBLE)
                                / len(string_split(text, ' '))) / 8.0, 1.0)
                 + 1e-9, 4) AS quality,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY round(0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
                 + 0.4 * (len(list_distinct({TOKENS_SQL}))
                          / CAST(len(string_split(text, ' ')) AS DOUBLE))
                 + 0.2 * least((CAST(length(text) AS DOUBLE)
                                / len(string_split(text, ' '))) / 8.0, 1.0)
                 + 1e-9, 4) DESC, doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 100
    """,
)
def sample_stratified_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: at most 100 docs per language,
    best quality first (same quality formula as text_quality_score).
    One shuffle on the class key; per-class top-k via window — the
    k rows per class survive regardless of class skew, so a 95%-
    English crawl yields a balanced mixture."""
    d = load_table(spark, sf_dir, "documents")
    # +1e-9 pre-round: exact half-boundary guard (see text_quality_score)
    quality = F.round(quality_raw_col() + F.lit(1e-9), 4)
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id")
    return (
        d.withColumn("quality", quality)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("doc_id", "lang", "quality")
    )


PACK_CAPACITY = 2048

_PACK_SCHEMA = "doc_id long, lang string, n_tok int, bin int"
# The oracles' replay of _pack_one_class: a recursive CTE over
# t(doc_id, lang, n_tok, rn = doc_id order within lang).
_PACKED_SQL = f"""packed AS (
      SELECT doc_id, lang, n_tok, rn, 0 AS bin, n_tok AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.lang, t.n_tok, t.rn,
             CASE WHEN p.fill + t.n_tok <= {PACK_CAPACITY}
                  THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + t.n_tok <= {PACK_CAPACITY}
                  THEN p.fill + t.n_tok ELSE t.n_tok END
      FROM packed p
      JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1
    )"""


def _pack_one_class(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy sequential fill: docs in doc_id order; a doc that would
    overflow the current bin opens the next one (an over-capacity doc
    occupies a bin alone). One O(n) pass per class partition."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, fill, b = [], 0, 0
    first = True
    for n in pdf["n_tok"]:
        if not first and fill + n > PACK_CAPACITY:
            b += 1
            fill = 0
        first = False
        fill += n
        bins.append(b)
    pdf["bin"] = pd.array(bins, dtype="int32")
    return pdf[["doc_id", "lang", "n_tok", "bin"]]


@register(
    "pack_sequences_greedy",
    tags=("sampling", "packing", "pandas-udf"),
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    {_PACKED_SQL}
    SELECT doc_id, lang, n_tok, bin FROM packed
    """,
)
def pack_sequences_greedy(
    spark: SparkSession, sf_dir: str, shards: int = 1
) -> DataFrame:
    """Context-window packing: per language, docs (in doc_id order)
    fill {PACK_CAPACITY}-token bins greedily. The fold is inherently
    sequential per class — not window-expressible — so it runs as ONE
    applyInPandas pass per class (grouped Arrow batches; shuffle on
    the class key only).

    ``shards`` is the 100 TB knob: with shards=N the class key becomes
    (lang, doc_id range shard), so parallelism is langs x N and each
    Arrow group stays bounded; bins never span shards (each shard
    packs its own contiguous doc_id range independently), so packing
    is deterministic for a given shard count and bin quality degrades
    only by < 1 partially-filled bin per shard. The oracle replays the
    shards=1 fold as a DuckDB recursive CTE."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        n_words().cast("int").alias("n_tok"),
    )
    if shards <= 1:
        return d.groupBy("lang").applyInPandas(_pack_one_class, _PACK_SCHEMA)
    # Mod-sharding on doc_id: each shard greedily packs its own
    # doc_id-ordered subsequence independently — deterministic for a
    # given shard count, capacity invariant per bin unchanged, bins
    # never span shards. Bin ids are globally disambiguated by
    # interleaving with the shard id.
    sharded = d.withColumn("_shard", F.pmod(F.col("doc_id"), F.lit(shards)))

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _pack_one_class(pdf.drop(columns=["_shard"]))
        out["bin"] = out["bin"] * shards + int(pdf["_shard"].iloc[0])
        return out

    return sharded.groupBy("lang", "_shard").applyInPandas(pack_shard, _PACK_SCHEMA)


# --------------------------------------------------------------------------
# Domain-mixture sampling: per-source keep rates (the "books x3,
# web x0.3" mixing table every pretraining recipe has), applied with
# the same deterministic arithmetic hash as sample_hash_deterministic
# so the mixture is reproducible and incremental-rebuild-stable.
# Rates here: even-numbered sources keep 80%, odd keep 20%.
_RATES_SQL = """rates AS (
      SELECT source, CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                          THEN 80 ELSE 20 END AS keep_pct
      FROM (SELECT DISTINCT source FROM documents)
    )"""


def _mixture(d: DataFrame) -> DataFrame:
    """The docs of ``d`` the mixture keeps: ``d`` joined to the
    broadcast rate table (the Spark twin of ``_RATES_SQL``), filtered
    by the Knuth hash bucket against the source's keep percentage."""
    # Deriving the rate table from DISTINCT source is testdata
    # convenience (a column-pruned scan); a real deployment passes the
    # mixing recipe as a literal/config table — zero corpus scans.
    rates = (
        d.select("source")
        .distinct()
        .select(
            "source",
            F.when(
                F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(80)
            ).otherwise(F.lit(20)).alias("keep_pct"),
        )
    )
    keep = knuth_bucket("doc_id", 100) < F.col("keep_pct")
    return d.join(F.broadcast(rates), "source").filter(keep)


@register(
    "sample_weighted_mixture",
    tags=("sampling", "mixture", "deterministic"),
    oracle=f"""
    WITH {_RATES_SQL}
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE (d.doc_id * {KNUTH}) % {MOD_2_32} % 100 < r.keep_pct
    """,
)
def sample_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain downsampling: hash(doc_id) mod 100
    compared against the domain's keep percentage.

    Scale shape: the rate table is tiny (one row per domain) and
    BROADCAST onto the corpus scan — the filter evaluates inside the
    scan stage with no shuffle of corpus rows at all; changing the
    mixture recipe re-runs only this map-side filter. Hash sampling
    (not df.sample) keeps the selected set stable under
    repartitioning AND monotone under rate increases: raising a
    domain's rate from 20 to 30 keeps every previously-selected doc
    (hash mod 100 < 20 implies < 30) — incremental corpus rebuilds
    only ADD documents."""
    return _mixture(load_table(spark, sf_dir, "documents")).select("doc_id", "source")


# --------------------------------------------------------------------------
# The composed SELECTION pipeline: domain mixture -> per-language
# quality cap -> context-window packing -> per-bin stats. Unlike
# pipeline_clean_corpus (iterative clustering inside => rows-only),
# every stage here is deterministic and SQL-expressible, so the WHOLE
# composition is oracle-checked end-to-end: mixture as the arithmetic
# hash filter, the cap as a quality window, packing as the recursive
# CTE replaying the same greedy fold.
_TB_CAP = 50


@register(
    "pipeline_training_batch",
    tags=("sampling", "packing", "pipeline", "mixture"),
    oracle=f"""
    WITH RECURSIVE {_RATES_SQL},
    picked AS (
      SELECT d.doc_id, d.lang, d.text,
             round(0.4 * least(len(string_split(d.text, ' ')) / 64.0, 1.0)
                 + 0.4 * (len(list_distinct(string_split(lower(d.text), ' ')))
                          / CAST(len(string_split(d.text, ' ')) AS DOUBLE))
                 + 0.2 * least((CAST(length(d.text) AS DOUBLE)
                                / len(string_split(d.text, ' '))) / 8.0, 1.0)
                 + 1e-9, 4) AS quality
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE (d.doc_id * {KNUTH}) % {MOD_2_32} % 100 < r.keep_pct
    ),
    capped AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
             row_number() OVER (
               PARTITION BY lang ORDER BY quality DESC, doc_id
             ) AS qrn
      FROM picked
    ),
    t AS (
      SELECT doc_id, lang, n_tok,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM capped WHERE qrn <= {_TB_CAP}
    ),
    {_PACKED_SQL}
    SELECT lang, bin,
           count(*)                   AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tok
    FROM packed
    GROUP BY lang, bin
    """,
)
def pipeline_training_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted mixture -> top-50 best-quality docs per
    language -> greedy 2048-token packing -> per-(lang, bin)
    doc/token counts: the selection half of a training-data build as
    ONE composed plan, oracle-checked end-to-end.

    Scale shape: the mixture filter runs at scan speed under a
    broadcast rate table; the quality cap is one window shuffle on
    lang; packing is the applyInPandas fold on the same lang
    partitioning (AQE reuses the exchange); the stats agg is
    partial-aggregated. Nothing in the composition adds a shuffle
    beyond what the standalone stages pay, and the packing stage only
    ever sees cap x |langs| rows."""
    picked = _mixture(load_table(spark, sf_dir, "documents"))

    # +1e-9 pre-round: exact half-boundary guard (see text_quality_score)
    quality = F.round(quality_raw_col() + F.lit(1e-9), 4)
    w_q = Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id")
    capped = (
        picked.withColumn("quality", quality)
        .withColumn("qrn", F.row_number().over(w_q))
        .filter(F.col("qrn") <= _TB_CAP)
        .select("doc_id", "lang", n_words().cast("int").alias("n_tok"))
    )
    packed = capped.groupBy("lang").applyInPandas(_pack_one_class, _PACK_SCHEMA)
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tok"),
    )


# --------------------------------------------------------------------------
# Document chunking: fixed-size token windows with overlap — the
# pretraining/RAG preprocessing sibling of sequence packing (packing
# bins whole docs into context windows; chunking splits long docs
# into overlapping windows). Emits content as sha256 digests so the
# oracle compares chunk text without moving bodies through the
# driver (same trick as text_redact_terms / multimodal decode).
CHUNK_SIZE = 64
CHUNK_STRIDE = 56  # 8-token overlap


@register(
    "chunk_documents_overlap",
    tags=("text", "chunking", "explode"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest([s FOR s IN range(0, len(toks), {CHUNK_STRIDE})]) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_no,
           CAST(len(list_slice(toks, start + 1,
                               least(start + {CHUNK_SIZE}, len(toks)))) AS BIGINT)
             AS n_tokens,
           sha256(array_to_string(
             list_slice(toks, start + 1, least(start + {CHUNK_SIZE}, len(toks))),
             ' ')) AS chunk_sha
    FROM s
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_no, n_tokens, chunk_sha) for CHUNK_SIZE-token
    chunks at stride CHUNK_STRIDE (CHUNK_SIZE-CHUNK_STRIDE overlap).

    Scale shape: pure narrow generate-explode — tokenize once, build
    the start-offset array with `sequence`, posexplode, slice; no
    shuffle at all, runs at scan speed, and chunk content leaves the
    stage only as a 32-byte digest. Chunk boundaries are token
    positions, so the op is deterministic under any partitioning.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    t = d.select("doc_id", toks.alias("toks"))
    s = t.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
        ).alias("chunk_no", "start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, CHUNK_SIZE)
    return s.select(
        "doc_id",
        F.col("chunk_no").cast("bigint").alias("chunk_no"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.sha2(F.concat_ws(" ", chunk), 256).alias("chunk_sha"),
    )


# --------------------------------------------------------------------------
# Train/val/test split assignment: the everyday corpus-prep op —
# deterministic (repartition- and rerun-stable, same arithmetic hash
# as sample_hash_deterministic), stratification auditable per lang.
# 90/5/5 by hash bucket; membership is stable under corpus growth
# (a doc's split never changes when new docs arrive).
@register(
    "sample_split_assign",
    tags=("sampling", "split", "deterministic"),
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             CASE WHEN (doc_id * {KNUTH}) % {MOD_2_32} % 100 < 90 THEN 'train'
                  WHEN (doc_id * {KNUTH}) % {MOD_2_32} % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(min(doc_id) AS BIGINT) AS id_min,
           CAST(max(doc_id) AS BIGINT) AS id_max
    FROM s GROUP BY lang, split
    """,
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, split) membership summary of the deterministic
    90/5/5 assignment. The summary row set (count + id sum/min/max)
    pins the exact membership without moving per-doc rows through the
    comparator. Scale shape: narrow hash-bucket projection at scan
    speed, one partial-aggregated groupBy — assignment itself is a
    zero-shuffle map, and reruns on appended corpora only add rows
    (existing docs never switch split)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = knuth_bucket("doc_id", 100)
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"), "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.min("doc_id").cast("bigint").alias("id_min"),
            F.max("doc_id").cast("bigint").alias("id_max"),
        )
    )


# --------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement, distributed: the
# Efraimidis–Spirakis priority trick (Inf. Proc. Letters 97(5), 2006).
# Each doc draws u ~ Uniform(0,1) and gets priority u^(1/w) — the
# top-k priorities ARE an exact weighted sample without replacement.
# Priorities are independent per row, so the global top-k is a
# TakeOrdered (per-partition heap + driver merge of k·P candidates),
# never a global sort — THE distributed shape for reservoir-style
# selection. Determinism: u comes from a sha256 hash of doc_id
# (engine-identical, partitioning-independent), so the sample is
# reproducible and growth-stable; we rank by ln(u)/w (monotone in
# u^(1/w), better-conditioned near u→1).
SAMPLE_WR_K = 100
_HASH_SPACE = 16777216  # 2^24: first 6 hex digits of sha256


@register(
    "sample_weighted_priority",
    tags=("sampling", "weighted", "reservoir", "deterministic"),
    oracle=f"""
    WITH p AS (
      SELECT doc_id, lang, n_chars,
             ln((CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 6))
                      AS BIGINT) + 0.5) / {_HASH_SPACE}.0)
               / n_chars AS priority
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           round(priority, 8) AS priority
    FROM p
    ORDER BY priority DESC, doc_id
    LIMIT {SAMPLE_WR_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-SAMPLE_WR_K docs by Efraimidis–Spirakis priority with
    weight = n_chars: an exact, deterministic weighted sample without
    replacement (long docs proportionally more likely, every doc
    eligible). ln(u)/w is transcendental so the 8dp display round
    never sits on a boundary; ordering uses the unrounded double with
    doc_id as the unique LIMIT tiebreak (oracle rule #3).

    Scale shape: zero-shuffle scan-speed projection (hash + ln), then
    global top-k as TakeOrderedAndProject — k·P candidate rows to the
    driver, no global sort, no window. Rerunning on an appended
    corpus re-ranks but never reshuffles history: priorities are
    pure row-local functions of (doc_id, n_chars)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 6), 16, 10)
    u = (h.cast("bigint") + F.lit(0.5)) / F.lit(float(_HASH_SPACE))
    pri = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            pri.alias("_pri"),
        )
        .orderBy(F.col("_pri").desc(), "doc_id")
        .limit(SAMPLE_WR_K)
        .select(
            "doc_id", "lang", "n_chars", F.round("_pri", 8).alias("priority")
        )
    )


# --------------------------------------------------------------------------
# Temperature-scaled language mixture: keep probability per language
# ∝ n_lang^α / n_lang with α = 0.5 — the standard multilingual
# rebalancing (upsample the tail, downsample the head) at half the
# corpus budget. α = 0.5 is deliberately sqrt: IEEE requires sqrt to
# be CORRECTLY ROUNDED, so both engines derive the identical rate
# table (pow() is not so guaranteed — an α = 0.3 variant would need
# rate rounding on both sides).
TEMPERATURE_BUDGET = 0.5  # target fraction of the corpus
_TEMP_RES = 1_000_000  # hash-bucket resolution for the keep compare


@register(
    "sample_temperature_mixture",
    tags=("sampling", "mixture", "temperature", "deterministic"),
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    z AS (
      SELECT sum(sqrt(n)) AS z, CAST(sum(n) AS BIGINT) AS total FROM counts
    ),
    thr AS (
      SELECT c.lang,
             CAST(floor({TEMPERATURE_BUDGET} * z.total * sqrt(c.n)
                        / (z.z * c.n) * {_TEMP_RES}) AS BIGINT) AS keep_thr
      FROM counts c CROSS JOIN z
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr t ON t.lang = d.lang
    WHERE (d.doc_id * {KNUTH}) % {MOD_2_32} % {_TEMP_RES} < t.keep_thr
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang): the documents kept by a temperature-α=0.5
    language rebalance at a 50% corpus budget — tail languages keep a
    larger share than head languages (keep_prob ∝ 1/sqrt(n_lang)).

    Scale shape: unlike sample_weighted_mixture (fixed recipe), the
    rate table is DERIVED from corpus stats — one column-pruned
    partial-aggregated count per lang, one 1-row normalizer, both
    broadcast back onto the scan; the keep decision is then a
    map-side integer-threshold hash compare with ZERO shuffle of
    corpus rows. Deterministic + monotone under budget increases
    (same arithmetic-hash argument as sample_weighted_mixture);
    rank-free, so no per-lang global sort anywhere. The float
    threshold is floored to an integer bucket count once per lang —
    cross-engine it can differ only if Σ√n̄ summation order shifts
    the rate by ~1 ulp EXACTLY at an integer boundary (measure-zero;
    sqrt itself is correctly rounded by IEEE)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # ≤ languages rows, but TWO consumers (normalizer + rate table) —
    # differently-pruned sibling aggregates never exchange-reuse
    # (gotcha #14), so without the checkpoint the corpus is scanned
    # three times instead of twice (pinned by the plan test).
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    z = counts.agg(
        F.sum(F.sqrt("n")).alias("z"), F.sum("n").cast("bigint").alias("total")
    )
    thr = counts.join(F.broadcast(z)).select(
        "lang",
        F.floor(
            F.lit(TEMPERATURE_BUDGET)
            * F.col("total")
            * F.sqrt("n")
            / (F.col("z") * F.col("n"))
            * F.lit(_TEMP_RES)
        )
        .cast("bigint")
        .alias("keep_thr"),
    )
    keep = knuth_bucket("doc_id", F.lit(_TEMP_RES)) < F.col("keep_thr")
    return d.join(F.broadcast(thr), "lang").filter(keep).select("doc_id", "lang")


# --------------------------------------------------------------------------
# Epoch/repetition planning for a token-budget training mix: given a
# total token budget (a multiple of the corpus) and temperature-α=0.5
# source weights, how many epochs of each source does the mix imply,
# and how much of the target is unreachable under a max-epoch cap
# (the "repeat up to ~4 epochs" data-constrained scaling rule)?
# This is the planning table a data-mixing pipeline materializes
# before sampling; sample_temperature_mixture is the corresponding
# row-level filter.
EPOCH_BUDGET_MULT = 3
EPOCH_CAP = 4


@register(
    "sample_epoch_mixture_plan",
    tags=("sampling", "mixture", "planning", "tokens"),
    oracle=f"""
    WITH counts AS (
      SELECT source,
             CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    z AS (
      SELECT sum(sqrt(n_tokens)) AS z,
             CAST(sum(n_tokens) AS BIGINT) AS total
      FROM counts
    )
    SELECT c.source, c.n_tokens,
           round(sqrt(c.n_tokens) / z.z + 1e-9, 6) AS mix_weight,
           CAST(floor({EPOCH_BUDGET_MULT} * z.total * sqrt(c.n_tokens) / z.z)
                AS BIGINT) AS target_tokens,
           round(least(CAST({EPOCH_CAP} AS DOUBLE),
                       floor({EPOCH_BUDGET_MULT} * z.total * sqrt(c.n_tokens) / z.z)
                       / c.n_tokens) + 1e-9, 4) AS epochs,
           CAST(greatest(0, CAST(floor({EPOCH_BUDGET_MULT} * z.total
                                       * sqrt(c.n_tokens) / z.z) AS BIGINT)
                            - {EPOCH_CAP} * c.n_tokens) AS BIGINT)
             AS capped_shortfall
    FROM counts c CROSS JOIN z
    """,
)
def sample_epoch_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, mix_weight, target_tokens, epochs,
    capped_shortfall): per-source repetition plan for a
    EPOCH_BUDGET_MULT× token budget under α=0.5 weights and an
    EPOCH_CAP-epoch ceiling.

    Scale shape: ONE partial-aggregated shuffle (token counts per
    source — the count is a codegen'd size(split()) at scan speed,
    documents never leave the map side); the normalizer is a 1-row
    broadcast; everything after is per-source arithmetic on ≤
    |sources| rows. Numerics: α=0.5 via sqrt (IEEE correctly-rounded
    — pow is NOT, the temperature-mixture precedent); target_tokens
    is floored ONCE to an integer both engines share, so epochs and
    the integer capped_shortfall derive from identical inputs; the
    near-boundary floor divergence argument is the same measure-zero
    one sample_temperature_mixture documents."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.size(tokens()).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
        .localCheckpoint(eager=True)  # two consumers: normalizer + plan
    )
    z = counts.agg(
        F.sum(F.sqrt("n_tokens")).alias("z"),
        F.sum("n_tokens").cast("bigint").alias("total"),
    )
    target = F.floor(
        F.lit(EPOCH_BUDGET_MULT) * F.col("total") * F.sqrt("n_tokens") / F.col("z")
    ).cast("bigint")
    return counts.join(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(F.sqrt("n_tokens") / F.col("z") + F.lit(1e-9), 6).alias("mix_weight"),
        target.alias("target_tokens"),
        F.round(
            F.least(
                F.lit(float(EPOCH_CAP)),
                target.cast("double") / F.col("n_tokens"),
            )
            + F.lit(1e-9),
            4,
        ).alias("epochs"),
        F.greatest(
            F.lit(0).cast("bigint"),
            target - F.lit(EPOCH_CAP) * F.col("n_tokens"),
        ).alias("capped_shortfall"),
    )


# --------------------------------------------------------------------------
# Repetition-aware sampling weights — the "count-based downweighting"
# alternative to hard dedup: instead of dropping duplicates, give
# every member of a duplicate cluster weight 1/k where k is the
# cluster size, so the CLUSTER (not each copy) contributes one unit
# to the training mixture. Cluster key = sha256 of the first 200
# normalized chars (the head fingerprint; raw full-text digests are
# degenerate below sf0.1 on this corpus — the
# dedup_cross_source_matrix finding — while head clusters of size
# 2-4 exist at every sf). Downstream samplers multiply these into
# their keep probabilities; per-source effective sizes follow by
# summing weight.
@register(
    "sample_dedup_aware_weights",
    tags=("sampling", "dedup", "weights"),
    oracle=f"""
    WITH k AS (
      SELECT doc_id, source,
             count(*) OVER (PARTITION BY sha256(substr({NORM_TEXT_SQL}, 1, 200)))
               AS dup_count
      FROM documents
    )
    SELECT doc_id, source,
           CAST(dup_count AS BIGINT) AS dup_count,
           round(CAST(1 AS DOUBLE) / dup_count, 6) AS weight
    FROM k
    """,
)
def sample_dedup_aware_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, dup_count, weight): per-doc training weight =
    1 / head-fingerprint-cluster size. Determinism: dup_count is an
    integer window count; 1/k is a single correctly-rounded double
    division — identical cross-engine. Scale shape: ONE shuffle on
    the 32-byte head digest (an unbounded count-over-partition needs
    no sort); the text column is consumed by the pre-exchange digest
    projection and never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalized_text()
    w = Window.partitionBy(F.sha2(F.substring(norm, 1, 200), 256))
    return d.select(
        "doc_id",
        "source",
        F.count(F.lit(1)).over(w).cast("bigint").alias("dup_count"),
    ).withColumn(
        "weight", F.round(F.lit(1.0) / F.col("dup_count"), 6)
    )


# --------------------------------------------------------------------------
# Curriculum interleave — the training-order builder: within each
# language, rank docs best-quality-first (the shared quality closed
# form), then round-robin across languages so position p in the
# final curriculum is (rank-1)*n_langs + lang_index. Every epoch
# prefix is then simultaneously quality-sorted AND language-balanced
# — the property curriculum schedules want from a streaming-friendly
# deterministic order (no shuffle files, no RNG).
@register(
    "sample_curriculum_interleave",
    tags=("sampling", "curriculum", "window"),
    oracle=f"""
    WITH l AS (
      SELECT lang, row_number() OVER (ORDER BY lang) AS lang_idx,
             count(*) OVER () AS n_langs
      FROM (SELECT DISTINCT lang FROM documents)
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {QUALITY_RAW_SQL} DESC, doc_id
             ) AS rank_in_lang
      FROM documents
    )
    SELECT r.doc_id, r.lang,
           CAST(l.lang_idx AS BIGINT) AS lang_idx,
           CAST(r.rank_in_lang AS BIGINT) AS rank_in_lang,
           CAST((r.rank_in_lang - 1) * l.n_langs + l.lang_idx AS BIGINT)
             AS global_pos
    FROM r JOIN l ON l.lang = r.lang
    """,
)
def sample_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, lang_idx, rank_in_lang, global_pos): quality-
    descending round-robin curriculum order. Determinism: the rank
    key is the shared quality closed form (identical per-row doubles
    cross-engine — per-row scalar arithmetic, no fold) with doc_id
    tiebreak; everything else is integer. Scale shape: ONE shuffle
    on lang for the rank window; the language dim is a bounded
    distinct (its row_number runs on a |langs|-row frame — fine
    through one partition) broadcast back; global_pos is arithmetic,
    so the "interleave" costs no global sort — consumers ORDER BY
    global_pos only when they stream the curriculum out."""
    d = load_table(spark, sf_dir, "documents")
    langs = d.select("lang").distinct()
    lw = Window.orderBy("lang")
    ldim = langs.select(
        "lang", F.row_number().over(lw).alias("lang_idx")
    ).crossJoin(F.broadcast(langs.agg(F.count(F.lit(1)).alias("n_langs"))))
    rw = Window.partitionBy("lang").orderBy(
        quality_raw_col().desc(), F.col("doc_id")
    )
    r = d.select(
        "doc_id", "lang", "text"
    ).withColumn("rank_in_lang", F.row_number().over(rw)).drop("text")
    return r.join(F.broadcast(ldim), "lang").select(
        "doc_id",
        "lang",
        F.col("lang_idx").cast("bigint").alias("lang_idx"),
        F.col("rank_in_lang").cast("bigint").alias("rank_in_lang"),
        ((F.col("rank_in_lang") - 1) * F.col("n_langs") + F.col("lang_idx"))
        .cast("bigint")
        .alias("global_pos"),
    )


# --------------------------------------------------------------------------
# Recency-decay sampling: keep an event with probability 2^-w where
# w = full WEEKS of age at the corpus frontier — the deterministic
# "forgetting" sampler behind replay buffers and sliding training
# corpora (fresh data kept whole, history thinned geometrically).
# PURE-INTEGER acceptance: h < 2^24 is the sha-uniform
# (sample_weighted_priority idiom) and the test is
# h * 2^w < 2^24 — exact bigints, no float anywhere, so the kept SET
# is bit-identical cross-engine (contrast exp()-thresholded designs,
# where a 1-ulp libm divergence can flip a row).
RECENCY_HALF_LIFE_DAYS = 7
RECENCY_MAX_W = 20  # cap the shift so h * 2^w stays far under 2^63


@register(
    "sample_recency_decay",
    tags=("sampling", "recency", "deterministic", "aggregate"),
    oracle=f"""
    WITH mx AS (
      SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx_us FROM events
    ),
    e AS (
      SELECT event_type,
             least((mx.mx_us - epoch_us(CAST(ts AS TIMESTAMP)))
                   // (86400000000 * {RECENCY_HALF_LIFE_DAYS}),
                   {RECENCY_MAX_W}) AS w,
             CAST(concat('0x', substr(sha256(CAST(event_id AS VARCHAR)), 1, 6))
                  AS BIGINT) AS h
      FROM events CROSS JOIN mx
    )
    SELECT event_type, CAST(w AS BIGINT) AS age_weeks,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN h * (1 << w) < {_HASH_SPACE} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           round(CAST(sum(CASE WHEN h * (1 << w) < {_HASH_SPACE}
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1e-9, 6)
             AS kept_rate,
           round(1.0 / (1 << w) + 1e-9, 6) AS expected_rate
    FROM e GROUP BY event_type, w
    """,
)
def sample_recency_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, age_weeks, n_total, n_kept, kept_rate,
    expected_rate): geometric thinning by age bucket, anchored at the
    corpus max timestamp (the decayed-score convention).
    Determinism: integer week buckets, integer hash acceptance
    (header note), shares are single divisions of exact integers.
    Scale shape: 1-row max-ts broadcast; acceptance is a scan-speed
    row-local predicate (the sampler itself needs NO shuffle at all —
    this readout adds one bounded (type, week) aggregation)."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.expr("unix_micros(ts)")).alias("mx_us"))
    x = e.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.least(
            F.expr(
                f"(mx_us - unix_micros(ts)) div "
                f"{86400000000 * RECENCY_HALF_LIFE_DAYS}"
            ),
            F.lit(RECENCY_MAX_W),
        ).alias("w"),
        F.conv(
            F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 6),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    kept = F.expr(
        f"h * shiftleft(CAST(1 AS BIGINT), CAST(w AS INT)) < {_HASH_SPACE}"
    )
    g = x.groupBy(
        "event_type", F.col("w").cast("bigint").alias("age_weeks")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )
    return g.select(
        "event_type",
        "age_weeks",
        "n_total",
        "n_kept",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_total") + F.lit(1e-9),
            6,
        ).alias("kept_rate"),
        F.round(
            F.lit(1.0)
            / F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(age_weeks AS INT))"
            ).cast("double")
            + F.lit(1e-9),
            6,
        ).alias("expected_rate"),
    )


# --------------------------------------------------------------------------
# Class-balanced sampling: equalize per-language doc counts to the
# smallest class by keeping each language's n_min smallest-hash docs
# — the deterministic downsampling a multilingual training mix uses
# to stop the head language drowning the tail. Acceptance is a
# rank over the sha-uniform (integer hash, doc_id tiebreak), so the
# kept set is exact and re-runnable; the readout reports per-lang
# kept counts (all == n_min) and the hash cutoff.
@register(
    "sample_balanced_langs",
    tags=("sampling", "balanced", "deterministic"),
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) AS h
      FROM documents
    ),
    szs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    nmin AS (SELECT min(n) AS n_min FROM szs),
    ranked AS (
      SELECT d.*, row_number() OVER (
        PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM d
    ),
    kept AS (
      SELECT ranked.* FROM ranked CROSS JOIN nmin
      WHERE rk <= nmin.n_min
    )
    SELECT k.lang,
           szs.n AS n_before,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(k.h) AS BIGINT) AS max_hash_kept,
           round(CAST(count(*) AS DOUBLE) / szs.n + 1e-9, 6) AS keep_rate
    FROM kept k JOIN szs ON szs.lang = k.lang
    GROUP BY k.lang, szs.n
    """,
)
def sample_balanced_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_before, n_kept, max_hash_kept, keep_rate): per-lang
    counts after balancing every language down to the smallest one.
    Determinism: integer sha-hash ranking with doc_id tiebreak; the
    1-row n_min broadcast. Scale shape: one lang-keyed window sort
    (per-lang top-n_min could also ride WindowGroupLimit if n_min
    were a literal; it is data-dependent, so the rank filter follows
    the broadcast), aggregation on the kept frame."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 6), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    szs = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nmin = szs.agg(F.min("n").alias("n_min"))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = d.withColumn("rk", F.row_number().over(w))
    kept = ranked.crossJoin(F.broadcast(nmin)).filter(
        F.col("rk") <= F.col("n_min")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.max("h").cast("bigint").alias("max_hash_kept"),
        )
        .join(F.broadcast(szs), "lang")
        .select(
            "lang",
            F.col("n").alias("n_before"),
            "n_kept",
            "max_hash_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n") + F.lit(1e-9), 6
            ).alias("keep_rate"),
        )
    )


# --------------------------------------------------------------------------
# Neyman allocation: the optimal stratified-sampling design table —
# allocate a fixed sample budget across strata proportional to
# N_h * S_h (stratum size x stratum std), the variance-minimizing
# split. The design readout a data pipeline computes BEFORE drawing
# a stratified eval set (sample_stratified draws; this sizes).
NEYMAN_SAMPLE_N = 1000


@register(
    "sample_neyman_allocation",
    tags=("sampling", "stratified", "design", "aggregate"),
    oracle=f"""
    WITH m AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY 1
    ),
    s AS (
      SELECT lang, n_h,
             round(n_h * sqrt(greatest(
               CAST(s2 AS DOUBLE) / n_h
               - (CAST(s1 AS DOUBLE) / n_h) * (CAST(s1 AS DOUBLE) / n_h),
               0.0)), 6) AS w_h
      FROM m
    ),
    t AS (SELECT sum(w_h) AS w FROM s)
    SELECT lang, n_h AS n_docs,
           round(w_h + 1e-9, 4) AS neyman_weight,
           round(CASE WHEN t.w = 0 THEN 0.0 ELSE w_h / t.w END + 1e-9, 6)
             AS alloc_share,
           CAST(floor({NEYMAN_SAMPLE_N} * round(
                CASE WHEN t.w = 0 THEN 0.0 ELSE w_h / t.w END + 1e-9, 6)
                + 1e-6)
                AS BIGINT) AS alloc_n
    FROM s CROSS JOIN t
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, neyman_weight, alloc_share, alloc_n): optimal
    allocation of a NEYMAN_SAMPLE_N-doc budget across language
    strata, weighted by N_h * population-std of doc length.
    Determinism: moments are exact integer sums (never engine-native
    stddev — Welford vs naive differ, gotcha r8); the variance is
    s2/n - (s1/n)^2 with each division correctly rounded over
    identical integers, so S_h is the identical double (sqrt is
    IEEE; greatest(...,0) guards the zero-variance stratum's tiny
    negative float residue); w_h is 6dp-LOCKED before the share sum
    so only the 5-term total diverges (+1e-9 bias); alloc_n floors
    the 6dp-locked share (+1e-6 nudge absorbs the
    float-under-integer representation of exact multiples).
    Scale shape: ONE partial-aggregated fact collapse to |langs|
    rows; the share total is a window over that tiny frame."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("s2"),
    )
    var = F.greatest(
        F.col("s2").cast("double") / F.col("n_h")
        - (F.col("s1").cast("double") / F.col("n_h"))
        * (F.col("s1").cast("double") / F.col("n_h")),
        F.lit(0.0),
    )
    s = m.select(
        "lang",
        "n_h",
        F.round(F.col("n_h") * F.sqrt(var), 6).alias("w_h"),
    )
    wtot = F.sum("w_h").over(Window.partitionBy())
    # Degenerate all-zero-variance corpus guard (ADVICE r10): wtot=0
    # would make every share 0/0 = NaN on both engines; define the
    # share as 0.0 there instead (identical CASE on the oracle side).
    share = F.round(
        F.when(wtot == 0, F.lit(0.0)).otherwise(F.col("w_h") / wtot)
        + F.lit(1e-9),
        6,
    )
    return s.select(
        "lang",
        F.col("n_h").alias("n_docs"),
        F.round(F.col("w_h") + F.lit(1e-9), 4).alias("neyman_weight"),
        share.alias("alloc_share"),
        F.floor(NEYMAN_SAMPLE_N * share + F.lit(1e-6))
        .cast("bigint")
        .alias("alloc_n"),
    )


# --------------------------------------------------------------------------
# Importance reweighting to a uniform language target: the design
# table for training on a skewed corpus WITHOUT resampling it —
# per-lang weight = target_share / observed_share, plus the effective
# sample size (Kish ESS) the weighted corpus is worth. The companion
# to sample_balanced_langs (which drops rows; this keeps them all and
# reweights the loss).
@register(
    "sample_importance_reweight",
    tags=("sampling", "reweighting", "design", "aggregate"),
    oracle="""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_l
      FROM documents GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(n_l) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS l
      FROM c
    ),
    w AS (
      SELECT c.lang, c.n_l, t.n, t.l,
             (CAST(t.n AS DOUBLE) / t.l) / c.n_l AS w_l
      FROM c CROSS JOIN t
    ),
    e AS (
      SELECT sum(n_l * w_l) AS sw, sum(n_l * w_l * w_l) AS sw2 FROM w
    )
    SELECT lang, n_l AS n_docs,
           round(CAST(n_l AS DOUBLE) / n + 1e-9, 6) AS obs_share,
           round(1.0 / l + 1e-9, 6) AS target_share,
           round(w_l + 1e-9, 6) AS weight,
           round(e.sw * e.sw / e.sw2 + 1e-9, 4) AS ess
    FROM w CROSS JOIN e
    """,
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, obs_share, target_share, weight, ess): per-lang
    importance weights that re-target the corpus to a UNIFORM
    language mixture, and the Kish effective sample size
    (sum w)^2 / sum w^2 of the weighted corpus (replicated per row —
    the single corpus-level design scalar).

    Determinism: counts are exact integers; w_l = (N/L)/n_l is an
    identical two-division IEEE tree; only the |langs|-term ESS sums
    are order-divergent (+1e-9 bias after the 4dp round — the sums
    are O(N), the ratio O(N), ulp noise ~1e-12). Scale shape: ONE
    partial-aggregated fact collapse to |langs| rows; everything
    else runs on that tiny frame with broadcast scalars."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_l"))
    t = c.agg(
        F.sum("n_l").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    w = c.crossJoin(F.broadcast(t)).withColumn(
        "w_l", (F.col("n").cast("double") / F.col("l")) / F.col("n_l")
    )
    e = w.agg(
        F.sum(F.col("n_l") * F.col("w_l")).alias("sw"),
        F.sum(F.col("n_l") * F.col("w_l") * F.col("w_l")).alias("sw2"),
    )
    return w.crossJoin(F.broadcast(e)).select(
        "lang",
        F.col("n_l").alias("n_docs"),
        F.round(F.col("n_l").cast("double") / F.col("n") + F.lit(1e-9), 6).alias(
            "obs_share"
        ),
        F.round(F.lit(1.0) / F.col("l") + F.lit(1e-9), 6).alias("target_share"),
        F.round(F.col("w_l") + F.lit(1e-9), 6).alias("weight"),
        F.round(
            F.col("sw") * F.col("sw") / F.col("sw2") + F.lit(1e-9), 4
        ).alias("ess"),
    )


# --------------------------------------------------------------------------
# PPS systematic sampling: draw PPS_N orders with probability
# proportional to order value (cents) by the classic systematic
# method — lay the weights end to end in a deterministic hash order,
# place PPS_N equally-spaced points starting at a hash-derived
# offset, keep the orders whose weight interval contains a point.
# The weighted-sampling workhorse for audit/estimation pipelines
# (every selected row estimates total/[n*w_i] units).
#
# PURE-INTEGER acceptance (the recency_decay discipline): cumulative
# cents are exact bigints in a pinned (h, o_orderkey) permutation;
# the point-count below a boundary c is ceil((c - u) * n / W)
# computed entirely in shifted integer arithmetic
# ((c*n - u*n + W*n + W - 1) // W - n, operands kept POSITIVE so
# truncating vs floor division cannot differ), and an item's hit
# count is the difference of two such counts — no float anywhere, so
# the kept multiset is bit-identical cross-engine and
# sum(n_hits) == PPS_N exactly (pinned by the pytest gate). u is a
# constant sha256 literal reduced mod W in-plan.
#
# Scale shape: the global running sum uses two_pass_cumsum (range
# partition + per-partition offsets) — never a single-partition fact
# sort; the acceptance test is a row-local predicate on the summed
# frame. The oracle mirrors with a plain window cum-sum.
PPS_N = 200
_PPS_SEED_HEX_LEN = 12  # 48-bit start offset

# The PPS systematic sample CTE tower, shared verbatim by the
# sample_pps_systematic oracle and the sample_horvitz_thompson
# oracle (the QUALITY_RAW_SQL factoring rule: consumers can't
# drift). `hits` carries (o_orderkey, wc, cum, tot, n_hits).
_PPS_HITS_CTES = f"""w AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS wc,
             CAST(concat('0x', substr(sha256(CAST(o_orderkey AS VARCHAR)),
                                      1, 6)) AS BIGINT) AS h
      FROM orders
    ),
    c AS (
      SELECT o_orderkey, wc, h,
             CAST(sum(wc) OVER (ORDER BY h, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(wc) OVER () AS BIGINT) AS tot
      FROM w
    ),
    u AS (
      SELECT CAST(concat('0x', substr(sha256('pps_systematic_seed'),
                                      1, {_PPS_SEED_HEX_LEN})) AS BIGINT)
             % (SELECT CAST(sum(wc) AS BIGINT) FROM w) AS u0
    ),
    hits AS (
      SELECT o_orderkey, wc, cum, tot,
             ((cum * {PPS_N} - u0 * {PPS_N} + tot * {PPS_N} + tot - 1)
              // tot - {PPS_N})
             - (((cum - wc) * {PPS_N} - u0 * {PPS_N} + tot * {PPS_N}
                 + tot - 1) // tot - {PPS_N}) AS n_hits
      FROM c CROSS JOIN u
    )"""


@register(
    "sample_pps_systematic",
    tags=("sampling", "pps", "systematic", "deterministic", "window"),
    oracle=f"""
    WITH {_PPS_HITS_CTES}
    SELECT o_orderkey, CAST(wc AS BIGINT) AS weight_cents,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(CAST(wc AS DOUBLE) * {PPS_N} / tot + 1e-9, 6)
             AS expected_hits
    FROM hits WHERE n_hits >= 1
    """,
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, weight_cents, n_hits, expected_hits): the PPS_N
    systematic probability-proportional-to-size sample of orders by
    cent value (see header)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("wc"),
        F.conv(
            F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 6),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    c = two_pass_cumsum(
        o, [F.col("h"), F.col("o_orderkey")], "wc", "cum", total_col="tot"
    )
    u0 = (
        F.conv(
            F.substring(F.sha2(F.lit("pps_systematic_seed"), 256), 1,
                        _PPS_SEED_HEX_LEN),
            16,
            10,
        ).cast("bigint")
        % F.col("tot")
    )
    hits = c.withColumn("u0", u0).withColumn(
        "n_hits",
        F.expr(
            f"((cum * {PPS_N} - u0 * {PPS_N} + tot * {PPS_N} + tot - 1) "
            f"div tot - {PPS_N}) "
            f"- (((cum - wc) * {PPS_N} - u0 * {PPS_N} + tot * {PPS_N} "
            f"+ tot - 1) div tot - {PPS_N})"
        ).cast("bigint"),
    )
    return hits.filter(F.col("n_hits") >= 1).select(
        "o_orderkey",
        F.col("wc").alias("weight_cents"),
        "n_hits",
        F.round(
            F.col("wc").cast("double") * F.lit(float(PPS_N)) / F.col("tot")
            + F.lit(1e-9),
            6,
        ).alias("expected_hits"),
    )


# --------------------------------------------------------------------------
# Horvitz-Thompson / Hansen-Hurwitz audit estimator over the PPS
# systematic sample: estimate the corpus-wide total of a DIFFERENT
# study variable (total shipped quantity, from lineitem) using only
# the PPS_N value-weighted order draws, and report the relative
# error against the exact census total plus the Hansen-Hurwitz
# relative standard error — the audit-sampling readout that tells a
# data platform how much a 200-order sample can say about the whole
# book. (Design note in registry.py: the variance is shipped in its
# FOLD-FREE with-replacement Hansen-Hurwitz form; joint-inclusion
# Sen-Yates-Grundy terms are quadratic and the subtracted textbook
# residual is exactly the cancelled shape gotcha #17 forbids.)
#
# Exact-integer discipline (the pps/recency integer idiom):
# z_i = y_i/p_i in milli-units is ONE truncating integer division
# (y_i * tot * HT_SCALE) div wc_i per sampled order (numerator in
# decimal(38,0)/HUGEINT; quotient fits bigint — ~1.5e14 at sf0.1,
# rescale HT_SCALE past a ~1e15-order corpus). The estimator
# A = sum(n_hits * z_i) and the variance pieces d_i = PPS_N*z_i - A,
# S = sum(n_hits * d_i^2) (decimal(38,0): |d| <= ~6e16 at sf0.1 so
# d^2 <= 4e33, x200 well under 1e38) are exact integers — both
# engines assemble identical values, THEN the two outputs are single
# float chains: rel_err = th/(tt*HT_SCALE) - 1 (signed near-zero ->
# the +0.0 guard) and rel_se = sqrt(S/(n(n-1)))/A (one sqrt, one
# division of identical doubles; v(T_hat) = S/(n^3(n-1)) and
# T_hat = A/n, so se/T_hat clears to exactly this). No float folds
# anywhere (gotchas #15/#17 by construction).
HT_SCALE = 1000  # milli-units of the study variable


@register(
    "sample_horvitz_thompson",
    tags=("sampling", "pps", "estimator", "variance", "audit"),
    oracle=f"""
    WITH {_PPS_HITS_CTES},
    s AS (
      SELECT o_orderkey, wc, tot, n_hits
      FROM hits WHERE n_hits >= 1
    ),
    yy AS (
      SELECT l_orderkey AS o_orderkey,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ),
    z AS (
      SELECT s.o_orderkey, s.n_hits, s.tot,
             CAST(CAST(coalesce(yy.y, 0) AS HUGEINT) * s.tot * {HT_SCALE}
                  // s.wc AS BIGINT) AS z
      FROM s LEFT JOIN yy USING (o_orderkey)
    ),
    a AS (
      SELECT CAST(sum(n_hits * z) AS BIGINT) AS a,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM z
    ),
    v AS (
      SELECT CAST(sum(CAST(z.n_hits AS HUGEINT)
                      * (CAST({PPS_N} AS HUGEINT) * z.z - a.a)
                      * (CAST({PPS_N} AS HUGEINT) * z.z - a.a))
                  AS DOUBLE) AS s2,
             min(a.a) AS a, min(a.n_distinct) AS n_distinct
      FROM z CROSS JOIN a
    ),
    t AS (
      SELECT CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
             AS t_true_qty
      FROM lineitem
    )
    SELECT CAST({PPS_N} AS BIGINT) AS n_draws,
           v.n_distinct,
           t.t_true_qty,
           CAST(v.a // {PPS_N} AS BIGINT) AS t_hat_milli,
           round(CAST(v.a // {PPS_N} AS DOUBLE)
                 / (CAST(t.t_true_qty AS DOUBLE) * {HT_SCALE}.0)
                 - 1.0 + 1e-9, 6) + 0.0 AS rel_err,
           round(sqrt(v.s2 / ({PPS_N} * ({PPS_N} - 1))) / CAST(v.a AS DOUBLE)
                 + 1e-9, 6) AS rel_se
    FROM v CROSS JOIN t
    """,
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_draws, n_distinct, t_true_qty, t_hat_milli, rel_err,
    rel_se): Hansen-Hurwitz estimate of total shipped quantity from
    the PPS_N value-weighted order sample, vs the exact census total
    (see header for the exact-integer discipline).

    Scale shape: the sample frame reuses sample_pps_systematic's
    lineage (two_pass_cumsum — no single-partition fact sort) and is
    ~PPS_N rows; the study variable comes from ONE lineitem scan
    pre-aggregated per orderkey after a broadcast semi-join on the
    sampled keys (fact rows never shuffle — the ~200-key set prunes
    map-side), plus one census agg scan for t_true. The enriched
    sample is eager-checkpointed (gotcha #9: the A aggregate and the
    variance fold are sibling consumers under the final cross join);
    everything downstream is 1-to-200-row frames and 1x1 BNLJs."""
    smp = sample_pps_systematic(spark, sf_dir).select(
        "o_orderkey", F.col("weight_cents").alias("wc"), "n_hits"
    )
    o = load_table(spark, sf_dir, "orders")
    tot = o.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("tot")
    )
    li = load_table(spark, sf_dir, "lineitem")
    keys = smp.select(F.col("o_orderkey").alias("l_orderkey"))
    y = (
        li.join(F.broadcast(keys), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.round("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    z = (
        smp.join(y, smp["o_orderkey"] == y["l_orderkey"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderkey",
            "n_hits",
            "tot",
            (
                F.coalesce(F.col("y"), F.lit(0)).cast("decimal(38,0)")
                * F.col("tot")
                * F.lit(HT_SCALE)
            )
            .cast("decimal(38,0)")
            .alias("num"),
            F.col("wc"),
        )
        .withColumn("z", F.expr("num div wc").cast("bigint"))
        .drop("num", "wc")
        .localCheckpoint(eager=True)
    )
    a = z.agg(
        F.sum(F.col("n_hits") * F.col("z")).cast("bigint").alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    d = F.lit(PPS_N).cast("bigint") * F.col("z") - F.col("a")
    v = (
        z.crossJoin(F.broadcast(a))
        .select(
            "n_hits",
            "a",
            "n_distinct",
            (d.cast("decimal(38,0)") * d * F.col("n_hits")).alias("dd"),
        )
        .agg(
            F.sum("dd").cast("double").alias("s2"),
            F.min("a").alias("a"),
            F.min("n_distinct").alias("n_distinct"),
        )
    )
    t = li.agg(
        F.sum(F.round("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("t_true_qty")
    )
    th = F.expr(f"a div {PPS_N}").cast("bigint")
    return v.crossJoin(t).select(
        F.lit(PPS_N).cast("bigint").alias("n_draws"),
        "n_distinct",
        "t_true_qty",
        th.alias("t_hat_milli"),
        (
            F.round(
                th.cast("double")
                / (F.col("t_true_qty").cast("double") * F.lit(float(HT_SCALE)))
                - F.lit(1.0)
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("rel_err"),
        F.round(
            F.sqrt(F.col("s2") / F.lit(float(PPS_N * (PPS_N - 1))))
            / F.col("a").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("rel_se"),
    )


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence interval for mean order value per
# priority — THE production bootstrap at scale: classic multinomial
# resampling needs the global n per draw, but with n large the
# per-row resample count is ~Poisson(1) INDEPENDENTLY per row, so
# every replicate is a row-local weighting and all B replicates ride
# ONE pass (Kleiner et al.'s scalable-bootstrap observation; the
# shape used by production metric pipelines for CI bands).
#
# PURE-INTEGER weights (the recency_decay/pps discipline): the
# per-(order, replicate) uniform is the 24-bit sha256 hash of
# "orderkey_b", compared against PRE-COMPUTED integer thresholds
# floor(PoissonCDF_1(k) * 2^24) (python literals, the Benford rule)
# — the weight w in 0..5 is a pure integer function of the hash, no
# float anywhere in the resample. Replicate sums are exact bigints
# (w <= 5 so w*cents stays ~5e17 even at 1e9 orders); each replicate
# mean is ONE division of exact integers; the CI bounds ride the
# bit-exact Spark percentile == DuckDB quantile_cont parity over the
# B replicate means. Truncating the Poisson tail at w=5 drops 0.06%
# of the mass — a bootstrap-noise-level bias, and identically on
# both engines.
POISSON_BOOT_B = 64
_POISSON_T = (6171992, 12343985, 15429982, 16458647, 16715813)
_POISSON_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN h < {t} THEN {k}" for k, t in enumerate(_POISSON_T))
    + " ELSE 5 END"
)


@register(
    "orders_bootstrap_ci",
    tags=("sampling", "bootstrap", "poisson", "ci", "percentile"),
    oracle=f"""
    WITH e AS (
      SELECT o_orderkey, o_orderpriority AS pr,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    rep AS (
      SELECT e.pr, e.cents, b.b,
             CAST(concat('0x', substr(sha256(concat(
               CAST(e.o_orderkey AS VARCHAR), '_', CAST(b.b AS VARCHAR))),
               1, 6)) AS BIGINT) AS h
      FROM e CROSS JOIN (SELECT unnest(range(0, {POISSON_BOOT_B})) AS b) b
    ),
    w AS (
      SELECT pr, b, cents, {_POISSON_CASE_SQL} AS w FROM rep
    ),
    g AS (
      SELECT pr, b,
             CAST(sum(w * cents) AS BIGINT) AS s,
             CAST(sum(w) AS BIGINT) AS n
      FROM w GROUP BY 1, 2
    ),
    mb AS (
      SELECT pr, b,
             CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / n END AS mean_b
      FROM g
    ),
    cen AS (
      SELECT pr, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS s
      FROM e GROUP BY pr
    )
    SELECT mb.pr AS o_orderpriority,
           min(cen.n_orders) AS n_orders,
           round(CAST(min(cen.s) AS DOUBLE) / min(cen.n_orders) + 1e-9, 4)
             AS mean_cents,
           CAST(count(mb.mean_b) AS BIGINT) AS n_replicates,
           round(quantile_cont(mb.mean_b, 0.025) + 1e-9, 4) AS ci_lo,
           round(quantile_cont(mb.mean_b, 0.975) + 1e-9, 4) AS ci_hi
    FROM mb JOIN cen USING (pr)
    GROUP BY 1
    """,
)
def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, n_orders, mean_cents, n_replicates, ci_lo,
    ci_hi): Poisson-bootstrap 95% CI for mean order value per
    priority (see header; B row-local integer-weighted replicates in
    one pass).

    Scale shape: the replicate axis EXPLODES map-side (x B rows of
    (pr, b, cents) before the partial aggregate, which collapses to
    |priorities| x B groups per partition — shuffle volume is
    group-bounded, never fact x B); the census aggregate shares the
    scan shape; everything downstream is a |priorities| x B frame
    with a per-priority holistic percentile over B values. ONE fact
    shuffle each for replicate and census aggs."""
    o = load_table(spark, sf_dir, "orders")
    e = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    rep = e.select(
        "pr",
        "cents",
        F.explode(
            F.sequence(F.lit(0), F.lit(POISSON_BOOT_B - 1))
        ).alias("b"),
        "o_orderkey",
    ).withColumn(
        "h",
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("_"),
                        F.col("b").cast("string"),
                    ),
                    256,
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    w_expr = F.when(F.col("h") < _POISSON_T[0], 0)
    for k, t in enumerate(_POISSON_T[1:], start=1):
        w_expr = w_expr.when(F.col("h") < t, k)
    w_expr = w_expr.otherwise(5)
    w = rep.select("pr", "b", "cents", w_expr.alias("w"))
    g = w.groupBy("pr", "b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("s"),
        F.sum("w").cast("bigint").alias("n"),
    )
    mb = g.select(
        "pr",
        "b",
        F.when(
            F.col("n") > 0, F.col("s").cast("double") / F.col("n")
        ).alias("mean_b"),
    )
    cen = e.groupBy("pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cs"),
    )
    return (
        mb.join(F.broadcast(cen), "pr")
        .groupBy("pr")
        .agg(
            F.min("n_orders").alias("n_orders"),
            F.round(
                F.min("cs").cast("double") / F.min("n_orders") + F.lit(1e-9),
                4,
            ).alias("mean_cents"),
            F.count("mean_b").cast("bigint").alias("n_replicates"),
            F.round(
                F.expr("percentile(mean_b, 0.025)") + F.lit(1e-9), 4
            ).alias("ci_lo"),
            F.round(
                F.expr("percentile(mean_b, 0.975)") + F.lit(1e-9), 4
            ).alias("ci_hi"),
        )
        .select(
            F.col("pr").alias("o_orderpriority"),
            "n_orders",
            "mean_cents",
            "n_replicates",
            "ci_lo",
            "ci_hi",
        )
    )
