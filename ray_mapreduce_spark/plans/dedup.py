"""Deduplication queries over ``documents`` (SURVEY.md §2d).

Five dedup families, each with the scale rationale that matters at
100 TB of crawl text:

- exact: hash-groupBy on the full text (or its digest). One shuffle
  keyed by sha256(text) — at scale, shuffle the 32-byte digest, never
  the document body.
- minhash-LSH: shingle -> minhash signature -> band -> bucket-join.
  Candidate generation touches only bucket-colliding pairs, O(n·bands)
  shuffle instead of O(n²) compare. (No SQL oracle — signature
  permutations are engine-specific; rows-only + pytest determinism.)
- simhash: 64-bit fingerprint, hamming-distance candidates via banded
  exact-match (4x16-bit bands -> any-band equality catches hamming<=3
  pairs by pigeonhole when distributed across bands).
- n-gram Jaccard: exact similarity on token shingle sets for
  candidate pairs — the verifier stage behind the LSH candidates, and
  SQL-expressible, so it doubles as the oracle-checked exact variant.
- embedding cosine near-dup: see similarity.py (shares the kernels).

Three dedup decisions recur across these queries, and each is written
once, in operators/clustering.py, for both engines: the exact keeper
(min doc_id per text digest: ``exact_keepers`` / ``EXACT_KEEP_SQL``),
the near-dup cluster label (component min id, else the doc's own id,
checked against the docs: ``cluster_labels`` / ``CLOSURE_SQL``) and
the quality survivor (best score per cluster, ties to the smaller
doc_id, with the member count: ``cluster_best``).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grain import KNUTH, MOD_2_32, knuth_bucket
from ..functions.pairs import canonical_pairs, cap_blocks, jaccard_verify, saturation_guard
from ..functions.scale import spread_by as _spread_by
from ..functions.text import NORM_TEXT_SQL, QUALITY_RAW_SQL, TOKENS_SQL, lead_chain
from ..functions.text import normalized_text, quality_raw_col, tokens
from ..operators.clustering import CLOSURE_SQL, EXACT_KEEP_SQL, cluster_best, cluster_labels
from ..operators.clustering import connected_components, dedup_cluster_survivors, exact_keepers
from ..sources import load_table
from .registry import register

# Frequency cap for dedup blocking keys (shingles / LSH band buckets):
# a key shared by k docs yields O(k²) candidate rows, and at crawl
# scale boilerplate shingles ("all rights reserved ...") make the
# self-join quadratic. Keys with document frequency above the cap are
# dropped from candidate generation — documents whose ONLY overlap is
# ultra-common boilerplate aren't near-duplicates, so recall on true
# near-dups (which share many sub-cap shingles) is preserved while the
# pair count stays bounded (see tests/test_extensions.py adversarial
# corpus). At the oracle sf the corpus is far below the cap, so the
# exact-Jaccard oracle is unaffected.
DEFAULT_DF_CAP = 1000

# Near-dup spec shared by every text-similarity operator AND the
# DuckDB oracles that re-encode it (dedup_ngram_jaccard /
# decontaminate_ngram_overlap here, hybrid_neardup_scores in
# similarity.py): word SHINGLE_K-shingles, pairs kept at jaccard >=
# JACCARD_THRESHOLD. The Spark side builds shingles with
# functions/text.py's tokens() + lead_chain(..., SHINGLE_K); every
# oracle builds them from SHINGLE_LIST_SQL (the per-doc list of
# space-joined word K-grams, wrapped in list_distinct for a shingle
# set) and keeps docs passing SHINGLE_MIN_SQL. Both are generated
# from SHINGLE_K, so changing K is this one edit.
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.6

_GRAM_INDEX = ["i"] + [f"i+{j}" for j in range(1, SHINGLE_K)]
SHINGLE_LIST_SQL = (
    "[\n"
    + " || ' ' ||\n".join(f"               {TOKENS_SQL}[{i}]" for i in _GRAM_INDEX)
    + f"\n               FOR i IN range(1, greatest(len({TOKENS_SQL}) - {SHINGLE_K - 2}, 1))"
    + "\n             ]"
)
SHINGLE_MIN_SQL = f"len({TOKENS_SQL}) >= {SHINGLE_K}"
# The oracles' shingle set, the CTE of every same-lang doc's set, and
# the pair select over it: each same-lang pair once, with its
# intersection and set sizes.
SHINGLE_SET_SQL = f"list_distinct({SHINGLE_LIST_SQL}) AS shingles"
SHINGLED_CTE_SQL = f"""shingled AS (
      SELECT doc_id, lang,
             {SHINGLE_SET_SQL}
      FROM documents
      WHERE {SHINGLE_MIN_SQL}
    )"""
SHINGLE_PAIRS_SQL = """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS n_common,
             len(a.shingles) AS n_a, len(b.shingles) AS n_b
      FROM shingled a JOIN shingled b
        ON a.lang = b.lang AND a.doc_id < b.doc_id"""


def _jaccard_at_least_sql(thr: float) -> str:
    """The oracles' twin of functions/pairs.py::jaccard_verify: the
    WHERE predicate keeping a SHINGLE_PAIRS_SQL pair whose shingle-set
    Jaccard is at least ``thr``."""
    return f"""CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= {thr}"""


# --------------------------------------------------------------------------
# Exact dedup: canonical survivor (min doc_id) per distinct text.
# Scale: group on sha2(text) so shuffle rows carry a 64-hex digest +
# (doc_id, lang, source), not document bodies; the argmin is algebraic
# (partial agg) and needs no join back (operators/clustering.py).
@register(
    "dedup_exact",
    bench=True,
    tags=("dedup", "exact"),
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN ({EXACT_KEEP_SQL}) k ON d.doc_id = k.doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_keepers(d, F.sha2(F.col("text"), 256), "lang", "source")


# Duplicate-group statistics: how much of the corpus is duplicated.
@register(
    "dedup_exact_stats",
    tags=("dedup", "exact", "aggregate"),
    oracle="""
    SELECT
      count(*)                                   AS n_docs,
      count(DISTINCT sha256(text))               AS n_distinct,
      count(*) - count(DISTINCT sha256(text))    AS n_dupes
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_dupes"),
    )


# --------------------------------------------------------------------------
# N-gram (word 3-shingle) Jaccard near-dup pairs, exact, SQL-expressible.
# Blocking on lang keeps the pair space per-language; at 100 TB the
# blocking key would be an LSH band (see dedup_minhash_pairs) with this
# exact Jaccard as the verify stage on candidates only.
# The quadratic oracle is shared verbatim with dedup_jaccard_prefixfilter:
# two independent Spark plans (inverted index w/ df cap vs AllPairs
# prefix filtering), ONE ground truth — the oracles cannot drift.
_NGRAM_JACCARD_ORACLE = f"""
    WITH {SHINGLED_CTE_SQL},
    pairs AS (
      {SHINGLE_PAIRS_SQL}
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 4) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= {JACCARD_THRESHOLD}
    """


@register(
    "dedup_ngram_jaccard",
    bench=True,
    tags=("dedup", "ngram", "jaccard"),
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index plan (NOT the naive O(n²) cross join): explode
    shingles, drop singleton shingles (df=1 can't contribute to any
    pair — exactness preserved since denominators use pre-filter
    sizes), self-join on the shingle, count common shingles per pair.
    Shuffle volume is O(shingle occurrences with df>=2), and only
    pairs sharing >=1 shingle ever materialize — pairs with zero
    overlap (jaccard 0 < threshold) are never enumerated. This is the
    plan that survives 100x the corpus; the cross-join version was
    ~100x slower at sf0.1.

    The df cap additionally drops shingles shared by more than
    DEFAULT_DF_CAP docs: the self-join on a df=k shingle
    emits O(k²) rows, so one boilerplate sentence across a crawl-scale
    corpus would otherwise be quadratic. Capped shingles are excluded
    from pair EVIDENCE only (denominators keep the full shingle
    count), so similarity never inflates; pairs whose overlap is
    entirely boilerplate drop out by design."""
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def _ngram_common_counts(d: DataFrame, df_cap: int = DEFAULT_DF_CAP) -> DataFrame:
    """Shared inverted-index core: (doc_a, doc_b, n_a, n_b, n_common)
    for every same-lang doc pair sharing >=1 sub-cap shingle.

    Single-lineage df filter (r6 rework, found by the repeated-scan
    audit): the old agg-then-self-join df_filter re-embedded the
    tokenize -> window -> distinct lineage in both the filter branch
    and the join branch, and Catalyst's column pruning made the two
    subtrees canonicalize differently, so NO exchange was ever reused
    — documents was scanned (and shingled) 4x per run. The df count
    is now a window over (s, lang): one lineage, one shuffle on the
    shingle key, and the self-join below consumes two IDENTICAL
    subtrees that AQE runtime exchange-reuse computes once (the same
    mechanism proven live in dedup_simhash_pairs / minhash's band
    join — ReusedExchange appears in the final adaptive plan). Also
    leaves the data partitioned by (s, lang), exactly the join's
    distribution, so the join adds no exchange of its own."""
    # df >= 2 pre-filter: singleton shingles cannot appear in any pair.
    ex = cap_blocks(_with_doc_size(_shingle_hashes(d)), ["s", "lang"], df_cap)
    return (
        canonical_pairs(ex, ["s", "lang"], "doc_id")
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def ngram_jaccard_pairs(d: DataFrame, df_cap: int = DEFAULT_DF_CAP) -> DataFrame:
    """Core inverted-index exact-Jaccard plan over any (doc_id, lang,
    text) frame — see ``dedup_ngram_jaccard`` for the rationale.
    Spreads its input (the shingle stage is narrow; see minhash_pairs).
    Plan shape notes live on ``_ngram_common_counts``."""
    return jaccard_verify(_ngram_common_counts(d, df_cap=df_cap), JACCARD_THRESHOLD)


# --------------------------------------------------------------------------
# Asymmetric shingle CONTAINMENT: |A∩B|/|A| (and /|B|). Near-dup
# detection by Jaccard misses subset duplication — a short doc quoted
# wholesale inside a long one has low Jaccard (the union is dominated
# by the long doc) but containment ~1 for the short side. This is the
# signal crawl pipelines use to kill quote-farms and wrapper pages.
CONTAINMENT_THRESHOLD = 0.7


@register(
    "dedup_containment_pairs",
    tags=("dedup", "ngram", "containment"),
    oracle=f"""
    WITH {SHINGLED_CTE_SQL},
    pairs AS (
      {SHINGLE_PAIRS_SQL}
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / n_a + 1e-9, 4) AS contain_ab,
           round(CAST(n_common AS DOUBLE) / n_b + 1e-9, 4) AS contain_ba
    FROM pairs
    WHERE greatest(CAST(n_common AS DOUBLE) / n_a,
                   CAST(n_common AS DOUBLE) / n_b) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, contain_ab, contain_ba) for same-lang pairs where
    either directed containment |A∩B|/|A| or |A∩B|/|B| reaches
    CONTAINMENT_THRESHOLD — catches subset/quote duplication that
    Jaccard's union denominator hides.

    Scale shape: identical to ``dedup_ngram_jaccard`` (shared
    ``_ngram_common_counts`` inverted index — O(occurrences with
    df∈[2,cap]) shuffle, never all-pairs); only the final scalar
    filter differs, so the two queries cost the same and a pipeline
    computing both shares the candidate stage wholesale. Threshold
    compares single-division doubles built from identical ints
    (IEEE-exact on both engines); output rounding carries the +1e-9
    half-boundary guard (k/n lands exactly on 4dp half-boundaries,
    e.g. 1/32 — see text_quality_score)."""
    return containment_pairs(load_table(spark, sf_dir, "documents"))


def containment_pairs(
    d: DataFrame,
    df_cap: int = DEFAULT_DF_CAP,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """Frame-level containment core over any (doc_id, lang, text)
    frame — see ``dedup_containment_pairs``."""
    common = _ngram_common_counts(d, df_cap=df_cap)
    c_ab = F.col("n_common").cast("double") / F.col("n_a")
    c_ba = F.col("n_common").cast("double") / F.col("n_b")
    return (
        common.filter(F.greatest(c_ab, c_ba) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab + F.lit(1e-9), 4).alias("contain_ab"),
            F.round(c_ba + F.lit(1e-9), 4).alias("contain_ba"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding, built from first principles with deterministic
# seeded permutations (xxhash64 with seed = permutation index) — pure
# JVM-side column ops, no Python UDF, no MLlib dependency:
#   token 3-shingles -> 32 minhash values -> 8 bands of 4 -> band-hash
#   bucket join -> candidate pairs -> exact Jaccard verify.
# Scale: the only joins are equi-joins on (band_no, band_hash); shuffle
# volume is O(n * n_bands), never O(n^2). Oracle: none (permutation
# choice is engine-specific); exactness is pinned by pytest against the
# dedup_ngram_jaccard ground truth at small sf.
#
# Band geometry: b=8 bands of r=4 rows. Detection probability
# 1-(1-s^r)^b at the 0.6 output threshold: P(0.6)=0.67, P(0.8)=0.985,
# P(0.97)~1 — BETTER recall than the former 8x8 geometry (P(0.8)=0.77)
# at half the signature width, because every candidate is exactly
# verified afterwards: extra candidates cost a bounded verify join,
# false negatives are unrecoverable. Weak-pair candidate noise stays
# tiny (P(0.1)=0.0008). Halving the hash count also halves the
# 32-aggregate plan width — signature agg is the plan's biggest
# codegen/optimizer unit.
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS


def _shingle_hashes(d: DataFrame) -> DataFrame:
    """(doc_id, lang, s): one row per DISTINCT hashed word-3-shingle.

    Construction is fully codegen'd (no higher-order functions, which
    Spark interprets per element — measured several x slower): tokenize
    -> posexplode -> hash each token once -> ``lead_chain`` -> combine
    3 consecutive token hashes with xxhash64 -> distinct. Spreads its
    own input BY doc_id (r15; callers must NOT round-robin spread
    first): hash-partitioning on doc_id before the posexplode moves
    one row per DOCUMENT across the exchange, and the lead window then
    rides that partitioning with only a local sort — the old
    round-robin spread + window arrangement shuffled the exploded
    TOKEN stream a second time (one row per token, ~doc_len x the
    bytes; guide §2.3/2.4). Shingles travel as 8-byte longs from here on
    — at 100 TB that's the difference between shuffling text and
    shuffling fixed-width keys. Collision probability over a doc's
    shingle set is ~|S|²/2⁶⁴ ~ 1e-15 (none observed vs the string
    oracle at any test sf)."""
    tok = _spread_by(d, "doc_id").select(
        "doc_id", "lang", F.posexplode(tokens()).alias("pos", "t")
    )
    h = tok.select("doc_id", "lang", "pos", F.xxhash64("t").alias("h"))
    grams, cols = lead_chain(h, "h", SHINGLE_K)
    return grams.select("doc_id", "lang", F.xxhash64(*cols).alias("s")).distinct()


def _with_doc_size(sh: DataFrame) -> DataFrame:
    """Attach n = |distinct shingles of the doc| via an unordered
    window count (one shuffle by doc_id; no driver-side or broadcast
    dependency, so it scales to any doc count)."""
    return sh.withColumn("n", F.count("s").over(Window.partitionBy("doc_id")))


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, s) shingle table -> minhash columns m0..m{N_HASHES-1}.

    Shape matters: one row per distinct hashed shingle, then ONE
    groupBy(doc_id) with N_HASHES algebraic min() aggregates over
    codegen'd ``xxhash64(seed, shingle_hash)`` expressions (long
    re-hash ~ integer mixing). The tempting ``transform(seq, seed ->
    array_min(transform(shingles, hash)))`` nested-HOF version is
    interpreted per element (higher-order functions skip whole-stage
    codegen) and measured ~30x slower. min() partial-aggregates
    map-side, so the shuffle is one row of N_HASHES (32) longs per
    (doc, partition)."""
    # Expression-string construction: one py4j call per column instead
    # of four (lit/xxhash64/min/alias) — plan BUILD time for wide agg
    # lists is pure driver overhead and was ~0.5s of this query.
    return sh.groupBy("doc_id").agg(
        *[F.expr(f"min(xxhash64({i}, s)) AS m{i}") for i in range(N_HASHES)]
    )


def minhash_pairs(docs: DataFrame, bucket_cap: int = DEFAULT_DF_CAP) -> DataFrame:
    """LSH candidate pairs + exact-Jaccard verify for ``docs`` (any
    frame with doc_id/lang/text) — emits pairs with jaccard >= 0.6.

    The shingle table feeds BOTH the signature stage and the verify
    stage, so it is persisted (computed once; the round-1 version
    rebuilt the whole tokenize->window->distinct lineage twice and it
    dominated the query's cost). LAZY persist, not an eager
    checkpoint, and deliberately so (r6 A/B at sf0.1, min-of-3 solo:
    persist 1.08s / eager localCheckpoint 1.29s / no materialization
    with AQE runtime exchange-reuse 2.60s): gotcha #9's
    concurrent-cache-miss race needs two SIBLING branches inside one
    stage barrier (e.g. clustering's self-union); here the two
    consumers are strictly DEPENDENCY-ORDERED — the verify semi-join
    cannot be scheduled until candidates exist, which require the
    signature stage, which is the first consumer — so the first use
    always fills the cache before the second is submitted, and the
    lazy form additionally pipelines materialization into the
    signature stages instead of paying a separate write-barrier job.
    Shingles are 8-byte longs, ~doc_len rows per doc, so the
    materialized block is small.

    Spreads its input first: the tokenize/explode stage is narrow, so
    it inherits the input partitioning — an upstream AQE-coalesced or
    single-split frame would serialize the per-token hashing onto one
    or two cores (CLAUDE.md gotcha #6)."""
    sh = _shingle_hashes(docs).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_shingles(sh)

    # Bands carry ONLY (doc_id, band_no, band_hash): the LSH join must
    # never shuffle shingle arrays — at 100 TB the payload rejoin below
    # touches just the candidate pairs, not the whole corpus x bands.
    # Band hash = xxhash64 over its 8 minhash longs directly (codegen'd,
    # no string round-trip).
    band_exprs = ", ".join(
        "xxhash64({})".format(
            ", ".join(f"m{i}" for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND))
        )
        for b in range(N_BANDS)
    )
    bands = sigs.selectExpr(
        "doc_id", f"posexplode(array({band_exprs})) AS (band_no, band_hash)"
    )
    # Bucket-size cap: a bucket with k docs emits k² candidate rows;
    # it kills degenerate boilerplate buckets (see DEFAULT_DF_CAP).
    band = ["band_no", "band_hash"]
    candidates = (
        canonical_pairs(cap_blocks(bands, band, bucket_cap), band, "doc_id")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        # two consumers below (id semi-join + payload rejoin), again
        # dependency-ordered (the rejoin consumes shs, which consumes
        # cand_ids, which consumes this frame) — lazy persist computes
        # the band self-join once with no write-barrier job
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Verify stage: rejoin shingle-hash sets for the candidates only
    # (long arrays, not text — candidate count is tiny post-banding).
    # Semi-join the persisted shingle table down to candidate docs
    # BEFORE collect_set: building sets for the whole corpus when only
    # ~|candidates| docs need one is wasted shuffle at any scale.
    # No distinct: cand_ids only ever feeds the RIGHT side of a
    # left-semi join, which is duplicate-insensitive (the broadcast
    # hash build dedupes for free) — the distinct was a pure extra
    # exchange+aggregate stage (r15, guide §2.4).
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    shs = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("shingles"))
    )
    pairs = (
        candidates.join(
            shs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a"
        ).join(
            shs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b"
        )
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return jaccard_verify(pairs, JACCARD_THRESHOLD, [n_common, F.size("sh_a"), F.size("sh_b")])


@register(
    "dedup_minhash_pairs",
    bench=True,
    oracle=None,  # seeded-permutation specific; verified in pytest vs exact jaccard
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard on
    the shingle sets; emits pairs with verified jaccard >= 0.6."""
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# SimHash: 64-bit weighted fingerprint, JVM-side (xxhash64 bit tests).
# Near-dup candidates: exact match on any of 4 16-bit bands (pigeonhole:
# hamming<=3 guarantees one clean band), then exact hamming verify.
#
# Band saturation guard: 16-bit bands hold ~2^16 distinct values, so
# RANDOM (non-near-dup) collisions alone fill the buckets once the
# blocked population nears ~10^5 docs (SCALING.md §tuning) — candidate
# generation then goes quadratic corpus-wide, which the per-bucket cap
# doesn't fix, it just silently DROPS over-cap buckets (fine for a few
# adversarial boilerplate buckets, recall collapse when buckets are
# systematically full). The guard meters the band join's actual
# candidate volume — sum over buckets of C(k,2), per doc — and raises
# via a lazy in-plan raise_error (the builder stays action-free) when
# the average crosses SIMHASH_MAX_CANDIDATES_PER_DOC. Calibration
# (measured r7): the deliberately duplicate-heavy test corpora sit at
# 29-302 candidates/doc (sf0.001-0.1), while uniform-hash math puts
# random saturation at ~1e5 docs around ~3000/doc (4*C(n,2)/2^16/n)
# and a same-fingerprint mega-family is unbounded (a 1600-doc family
# alone implies ~3200/doc) — 1024 separates the regimes with ~3x
# margin both ways. The fix at scale is structural — widen the band
# prefix, exact-dedup or cluster first, or shard the corpus — so
# failing loudly beats silently degraded recall or a quadratic verify
# stage.
SIMHASH_MAX_CANDIDATES_PER_DOC = 1024.0


@register(
    "dedup_simhash_pairs",
    oracle=None,  # hash-function specific; pytest pins determinism + recall
    tags=("dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with simhash hamming distance <= 3 (verified).

    Fingerprint construction is the scale-friendly shape: explode
    tokens once, hash each token once (xxhash64, JVM-side), then ONE
    groupBy(doc_id) computing all 64 bit-votes as parallel algebraic
    sums (partial-aggregated map-side). Bit positions / shift amounts
    are plan-time Python ints, so the whole tree is codegen'd."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def simhash_pairs(
    docs: DataFrame,
    bucket_cap: int = DEFAULT_DF_CAP,
    max_candidates_per_doc: float = SIMHASH_MAX_CANDIDATES_PER_DOC,
) -> DataFrame:
    """Core simhash near-dup plan over any (doc_id, text) frame — see
    ``dedup_simhash_pairs``. Raises at action time (lazy in-plan
    ``raise_error`` on a broadcast saturation scalar) when band
    buckets are systematically saturated. Spread BY doc_id (r16, the
    C6 pattern): the 64-bit-vote groupBy(doc_id) then rides the doc
    exchange — its partial+final aggregation runs with NO exchange of
    its own instead of re-shuffling one row per doc post-explode."""
    d = _spread_by(docs, "doc_id")
    toks = F.array_distinct(tokens())
    tok = d.select("doc_id", F.explode(toks).alias("tok"))
    # Wide expression lists built as SQL strings (one py4j call each):
    # 64 algebraic bit-vote sums, then the 64-way bitwise-OR fingerprint.
    votes = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(xxhash64(tok), {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS b{i}"
            )
            for i in range(64)
        ]
    )
    # Bit values via shiftleft(1L, i): shiftleft is overflow-free, so
    # bit 63 (== Long.MIN_VALUE in two's complement) needs no literal
    # that ANSI parsing would reject.
    fp_expr = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)" for i in range(64)
    )
    sh = votes.selectExpr("doc_id", f"({fp_expr}) AS simhash")
    band_vals = ", ".join(f"shiftright(simhash, {b * 16}) & 65535" for b in range(4))
    banded = sh.selectExpr(
        "doc_id", "simhash", f"posexplode(array({band_vals})) AS (band_no, band_val)"
    )
    # Same bucket-size cap as the LSH path: a 16-bit band value shared
    # by k docs emits k² candidate rows. Lazy persist: the saturation
    # scalar and BOTH self-join sides consume the sized frame. The
    # broadcast build for the guard scalar runs before the join stage
    # is submitted (dependency-ordered, gotcha #9), so the first
    # consumer fills the cache and the fingerprint lineage executes
    # once.
    band = ["band_no", "band_val"]
    banded = saturation_guard(
        banded,
        band,
        max_candidates_per_doc,
        "simhash 16-bit bands are saturated: ",
        " distinct-fingerprint candidate pairs for ",
        f" docs exceeds {max_candidates_per_doc} per doc",
        " — widen the band prefix / add bands, exact-dedup "
        "first, or shard the corpus (SCALING.md: ~1e5 docs "
        "per blocked population saturates 16-bit bands)",
        rows_per_doc=4,
        persist=True,
        cap=bucket_cap,
    )
    cand = (
        canonical_pairs(banded, band, "doc_id")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# Full near-dup pipeline: LSH pairs -> connected components -> one
# survivor per cluster. Iterative (label propagation), so no SQL
# oracle — the invariants are pinned in tests/test_clustering.py.
@register(
    "dedup_clusters",
    oracle=None,
    tags=("dedup", "clustering", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster, is_survivor) over near-dup pairs."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_cluster_survivors(d, dedup_minhash_pairs(spark, sf_dir))


# --------------------------------------------------------------------------
# The full training-data prep pipeline as ONE composed plan — the
# end-to-end shape this engine exists for at 100 TB:
#   quality-filter -> exact dedup -> near-dup clustering ->
#   quality-ranked survivor per cluster -> clean-corpus stats.
# Iterative clustering inside => rows-only check; each stage is
# individually oracle-verified by its own query.
@register(
    "pipeline_clean_corpus",
    bench=True,
    oracle=None,
    tags=("dedup", "pipeline", "text", "clustering"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Project to the needed columns up front: every later stage
    # (quality, sha2 window, checkpoint, LSH) then moves
    # doc_id/lang/text only, never unused payload columns. No spread
    # here — the pre-window stages are cheap narrow expressions, the
    # sha2 window's own shuffle distributes, and minhash_pairs spreads
    # its input itself; an extra full-text repartition bought nothing.
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    # 1. quality filter (same formula as text_quality_score)
    quality = quality_raw_col() + F.lit(1e-9)  # half-boundary guard
    scored = d.withColumn("quality", F.round(quality, 4)).filter(F.col("quality") >= 0.5)

    # 2. exact dedup: keep min doc_id per sha256 (the argmin
    # aggregate, partial-aggregated before the digest exchange). The
    # survivor set feeds TWO consumers (the LSH stage below and the
    # final cluster join) — dependency-ordered (the cluster join
    # consumes comps <- pairs <- the LSH stage), so a lazy persist
    # computes the quality+argmin lineage exactly once without the
    # eager checkpoint's write-barrier job (see minhash_pairs).
    exact = exact_keepers(scored, F.sha2(F.col("text"), 256), "lang", "text", "quality")
    exact = exact.persist(StorageLevel.MEMORY_AND_DISK)

    # 3. near-dup pairs (minhash LSH) computed ON the surviving set —
    # not on the full corpus then filtered: the LSH stages never touch
    # docs already dropped by stages 1-2 (at 100 TB the quality filter
    # alone removes a large corpus fraction), and pair semantics are
    # "near-dup among survivors" (no clusters silently split by
    # dropped bridge docs).
    pairs = minhash_pairs(exact.select("doc_id", "lang", "text"))

    # 4. cluster (checked join) and keep the best-quality doc per
    # cluster, ties to the smaller doc_id (the argmax aggregate)
    clustered = cluster_labels(exact.select("doc_id", "lang", "quality"), pairs)
    survivors = cluster_best(clustered, "quality", "lang")

    # 5. clean-corpus stats per language
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


# --------------------------------------------------------------------------
# Incremental ingestion dedup: the shape every continuously-crawled
# training corpus needs — a NEW batch of documents deduped against the
# EXISTING corpus without ever re-processing the corpus itself.
# Here the "batch" is doc_id % 5 == 0 (sf-proportional stand-in for
# today's crawl); the rest is the standing corpus.
_BATCH_CORPUS_SQL = """batch AS (
      SELECT doc_id, lang, sha256(text) AS h
      FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
      SELECT DISTINCT sha256(text) AS h
      FROM documents WHERE doc_id % 5 <> 0
    )"""


def _batch_and_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The batch docs ``(doc_id, lang, h)`` and the standing corpus's
    distinct digests ``(h)``, h = sha256 of the text: the Spark twin
    of ``_BATCH_CORPUS_SQL``."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.sha2(F.col("text"), 256).alias("h")
    )
    batch = d.filter(F.pmod("doc_id", F.lit(5)) == 0)
    return batch, d.filter(F.pmod("doc_id", F.lit(5)) != 0).select("h").distinct()


@register(
    "dedup_incremental_merge",
    tags=("dedup", "exact", "incremental", "anti-join"),
    oracle=f"""
    WITH {_BATCH_CORPUS_SQL},
    fresh AS (
      SELECT b.doc_id, b.lang, b.h
      FROM batch b ANTI JOIN corpus c ON b.h = c.h
    )
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM fresh
    )
    WHERE rn = 1
    """,
)
def dedup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit only batch docs that are (a) not exact-dupes of any
    standing-corpus doc — LEFT ANTI join on the sha256 digest — and
    (b) first of their hash within the batch (min doc_id survives).

    100 TB shape: the corpus side reduces to a DISTINCT digest set
    (32-byte keys, built incrementally in a real deployment — e.g. a
    bucketed digest table appended per crawl), the anti-join shuffles
    digests never bodies, and the within-batch window only sees batch
    rows. Nothing re-reads or re-hashes the standing corpus text
    beyond the digest projection; with a digest table maintained at
    ingest, each increment costs O(|batch|) + a digest-key join."""
    batch, corpus_hashes = _batch_and_corpus(spark, sf_dir)
    fresh = batch.join(corpus_hashes, "h", "left_anti")
    return exact_keepers(fresh, F.col("h"), "lang")


# --------------------------------------------------------------------------
# Survivor set via window (the dropDuplicates-with-ordering idiom):
# first doc per (lang, exact-text-hash) ordered by doc_id.
@register(
    "dedup_survivors_window",
    tags=("dedup", "window"),
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang, sha256(text) ORDER BY doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn = 1
    """,
)
def dedup_survivors_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", F.sha2(F.col("text"), 256)).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
# Train/test decontamination: flag training docs sharing any word
# 3-shingle with a held-out benchmark set (doc_id % 7 == 0 stands in
# for the benchmark). THE pre-training hygiene op: a model must not
# train on its own eval set.
@register(
    "decontaminate_ngram_overlap",
    tags=("dedup", "decontamination", "ngram"),
    oracle=f"""
    WITH shingled AS (
      SELECT doc_id,
             unnest(list_distinct({SHINGLE_LIST_SQL})) AS s
      FROM documents
      WHERE {SHINGLE_MIN_SQL}
    ),
    bench AS (
      SELECT DISTINCT s FROM shingled WHERE doc_id % 7 = 0
    )
    SELECT t.doc_id, count(*) AS n_shared
    FROM shingled t JOIN bench b ON t.s = b.s
    WHERE t.doc_id % 7 <> 0
    GROUP BY t.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(train doc_id, count of distinct 3-shingles shared with ANY
    benchmark doc) for contaminated docs — a downstream filter drops
    or quarantines them.

    Scale shape: the inverted-index join from ngram_jaccard, one-sided:
    shingles travel as 8-byte xxhash64 longs (collision odds ~1e-15 vs
    the string oracle — same argument as _shingle_hashes), the
    benchmark side reduces to a DISTINCT shingle-hash set (buildable
    once per benchmark release and tiny relative to the corpus — in a
    real deployment a broadcast or bucketed table), and the join never
    enumerates doc pairs at all, only (train shingle x benchmark set)
    matches aggregated per doc. No quadratic term anywhere.

    The shingle table feeds BOTH join branches (train side and the
    benchmark distinct), and the r3 EXPLAIN audit showed the two
    branches each re-running the full tokenize->window lineage (no
    ReusedExchange — gotcha #9), so it is materialized once with an
    eager localCheckpoint, same as pipeline_clean_corpus's survivor
    set."""
    sh = _shingle_hashes(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    bench = (
        sh.filter(F.pmod("doc_id", F.lit(7)) == 0).select("s").distinct()
    )
    train = sh.filter(F.pmod("doc_id", F.lit(7)) != 0)
    return (
        train.join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------------------------------
# Connected-components with an ORACLE: the iterative operator is
# engine-agnostic math (comp = min reachable node), so running it over
# the exact, SQL-expressible ngram-Jaccard pair source lets DuckDB
# replay the whole thing as a recursive transitive closure — the
# driver gets a hash-verified row for the ITERATIVE operator itself
# (dedup_clusters stays rows-only because its minhash pair source is
# engine-specific, not because clustering is).
@register(
    "dedup_clusters_exact",
    tags=("dedup", "clustering", "iterative"),
    oracle=f"""
    WITH RECURSIVE {SHINGLED_CTE_SQL},
    pairs AS (
      {SHINGLE_PAIRS_SQL}
      WHERE {_jaccard_at_least_sql(JACCARD_THRESHOLD)}
    ),
    {CLOSURE_SQL}
    SELECT doc_id, cluster FROM clus
    """,
)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster) for every doc in at least one exact near-dup
    pair; cluster = min reachable doc_id. Same iterative label
    propagation as dedup_clusters (operators/clustering.py) — here
    over the deterministic inverted-index pair source so the result
    is engine-independent and hash-verified against DuckDB's
    recursive closure."""
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
    )


# --------------------------------------------------------------------------
# Span-level duplication profiling: the exact-substring complement to
# the doc-level near-dup families (cf. "Deduplicating Training Data
# Makes Language Models Better" — repeated spans inflate memorization
# even when whole docs aren't duplicates). For every overlapping
# SPAN_K-token span, is the same span present in ANY other doc? The
# per-doc repeated fraction is the signal a curation pipeline
# thresholds on (or feeds to span-excision).
SPAN_K = 8


@register(
    "dedup_repeated_spans",
    tags=("dedup", "spans", "substring", "window"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id,
             unnest([array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ')
                     FOR i IN range(1, greatest(len(toks) - {SPAN_K - 2}, 1))]) AS g
      FROM t
      WHERE len(toks) >= {SPAN_K}
    ),
    f AS (
      SELECT doc_id,
             count(*) OVER (PARTITION BY g)         AS cnt_total,
             count(*) OVER (PARTITION BY g, doc_id) AS cnt_doc
      FROM s
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN cnt_total > cnt_doc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeated,
           round(CAST(sum(CASE WHEN cnt_total > cnt_doc THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS repeated_frac
    FROM f GROUP BY doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_spans, n_repeated, repeated_frac) over overlapping
    SPAN_K-token spans; a span counts as repeated when it also occurs
    in a DIFFERENT document.

    Scale shape: the _shingle_hashes construction generalized to
    K=8 — tokenize, posexplode, hash each token ONCE, lead x7 on one
    doc_id sort, combine to an 8-byte span hash (spans shuffle as
    longs, never text; collision odds ~1e-15, same argument as the
    shingle path). Cross-doc detection is two COUNT windows on one
    lineage — over (g) and over (g, doc_id); the g-exchange satisfies
    both, so ordering them g-first costs a single shuffle and
    "repeated elsewhere" is just cnt_total > cnt_doc (no countDistinct
    over a window, no agg+rejoin). The per-doc fraction
    partial-aggregates map-side. The frac division is int/int in
    IDENTICAL IEEE order on both engines, so 4dp rounding cannot
    diverge. Spread BY doc_id (r16, the C6 pattern): the lead window
    is doc_id-keyed, so hash-partitioning the DOC rows before the
    posexplode rides one exchange — round-robin spread re-exchanged
    the exploded token stream (~doc_len x the rows) for the window."""
    d = _spread_by(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.posexplode(tokens()).alias("pos", "t"))
    h = tok.select("doc_id", "pos", F.xxhash64("t").alias("h"))
    grams, cols = lead_chain(h, "h", SPAN_K)
    spans = grams.select("doc_id", F.xxhash64(*cols).alias("g"))
    wg = Window.partitionBy("g")
    wgd = Window.partitionBy("g", "doc_id")
    flagged = spans.withColumn("cnt_total", F.count(F.lit(1)).over(wg)).withColumn(
        "cnt_doc", F.count(F.lit(1)).over(wgd)
    )
    rep = (F.col("cnt_total") > F.col("cnt_doc")).cast("int")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(rep).cast("bigint").alias("n_repeated"),
        F.round(
            F.sum(rep).cast("double") / F.count(F.lit(1)), 4
        ).alias("repeated_frac"),
    )


def _survivors_quality_oracle() -> str:
    return f"""
    WITH RECURSIVE {SHINGLED_CTE_SQL},
    pairs AS (
      {SHINGLE_PAIRS_SQL}
      WHERE {_jaccard_at_least_sql(JACCARD_THRESHOLD)}
    ),
    {CLOSURE_SQL},
    q AS (
      SELECT d.doc_id, d.lang,
             coalesce(c.cluster, d.doc_id) AS cluster,
             {QUALITY_RAW_SQL} AS qr
      FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY cluster ORDER BY qr DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS n_members
      FROM q
    )
    SELECT cluster, doc_id, lang,
           CAST(n_members AS BIGINT) AS n_members,
           round(qr + 1e-9, 4) AS quality
    FROM r WHERE rn = 1
    """


# --------------------------------------------------------------------------
# Best-quality survivor per near-dup cluster: the destructive step of
# the curation pipeline. dedup_survivors_window keeps min-doc_id per
# EXACT-duplicate group (texts identical, so any member is as good);
# near-dup clusters contain DIFFERENT texts, so the pipeline keeps the
# highest-quality member instead of an arbitrary one.
@register(
    "dedup_survivors_quality",
    tags=("dedup", "clustering", "quality", "survivors"),
    oracle=_survivors_quality_oracle(),
)
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster, doc_id, lang, n_members, quality): one survivor per
    exact-Jaccard near-dup cluster (connected components over
    dedup_ngram_jaccard pairs; singleton docs are their own cluster),
    chosen by (quality DESC, doc_id) — unrounded quality doubles are
    engine-identical (shared QUALITY_RAW_SQL closed form), and the
    doc_id tiebreak keeps equal-quality groups deterministic.

    Scale shape: the iterative CC operator does the heavy lifting
    (checkpointed label propagation, see operators/clustering.py);
    the checked cluster join labels docs never in a pair with their
    own id, and the survivor pick is then ONE partial-aggregated
    exchange on the cluster key — the argmax and the member count
    share one aggregate. Output is the deduplicated corpus manifest:
    |clusters| + |singletons| rows."""
    return survivors_quality(load_table(spark, sf_dir, "documents"))


def survivors_quality(d: DataFrame) -> DataFrame:
    """Frame-level survivor-selection core over any (doc_id, lang,
    text) frame — see ``dedup_survivors_quality``."""
    q = d.select("doc_id", "lang", quality_raw_col().alias("qr"))
    best = cluster_best(cluster_labels(q, ngram_jaccard_pairs(d)), "qr", "lang")
    return best.select(
        "cluster",
        "doc_id",
        "lang",
        "n_members",
        F.round(F.col("qr") + F.lit(1e-9), 4).alias("quality"),
    )


# --------------------------------------------------------------------------
# EXACT Jaccard pairs WITHOUT a df cap: AllPairs/PPJoin prefix
# filtering (Bayardo et al., WWW'07; Xiao et al., WWW'08). Order each
# doc's shingles by a global (df asc, hash) order and index only the
# first |S| − ⌈t·|S|⌉ + 1 of them: any pair with J ≥ t MUST share a
# prefix shingle (J ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so the intersection
# cannot hide entirely in the ⌈t·|A|⌉−1 suffix — and symmetrically
# for B, so the smallest common shingle sits in BOTH prefixes). The
# inverted-index plan (dedup_ngram_jaccard) buys its scale with a df
# cap that silently drops boilerplate evidence; this plan is exact at
# scale because frequent shingles sort LAST and almost never enter a
# prefix — the candidate join only ever touches each doc's rarest
# ~(1−t) fraction of shingles.
_T_FRAC = __import__("fractions").Fraction(JACCARD_THRESHOLD).limit_denominator(10**6)


@register(
    "dedup_jaccard_prefixfilter",
    tags=("dedup", "ngram", "jaccard", "prefix-filter"),
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_jaccard_prefixfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same output contract as dedup_ngram_jaccard (doc_a, doc_b,
    jaccard ≥ JACCARD_THRESHOLD) from an independent exact plan —
    both registrations share one oracle string, so DuckDB adjudicates
    two different distributed algorithms against one ground truth.
    """
    return jaccard_prefixfilter_pairs(load_table(spark, sf_dir, "documents"))


def jaccard_prefixfilter_pairs(d: DataFrame) -> DataFrame:
    """Prefix-filtered exact set-similarity self-join over any
    (doc_id, lang, text) frame.

    Stages: (1) hashed shingle table (persisted — consumed by the
    prefix stage and twice by the verify stage); (2) df window over
    (s, lang) + per-doc (df, s) rank window -> keep rank ≤
    |S| − ⌈t|S|⌉ + 1 (integer-exact via the Fraction form of the
    threshold — float ceil(0.6·n) could round the prefix short and
    silently DROP pairs); (3) candidate pairs = equi-join of prefixes
    on (s, lang); (4) exact common-count verify on candidates only.

    The prefix frame is eager-localCheckpointed: its two self-join
    sides are SIBLING consumers of a window-aggregated lineage —
    exactly the shape AQE never runtime-reuses (gotcha #14: identical
    AGGREGATED subtrees, unlike scan-rooted ones) and lazy persist
    races (gotcha #9: both sides miss a cold cache concurrently).
    The checkpoint is tiny — prefix rows only, 8-byte hashes. The
    checkpoint action also happens to materialize the shingle cache,
    so the verify stage's sibling reads hit it warm.

    df=1 prefix shingles are dropped AFTER rank assignment: they
    cannot match (exactness preserved — a qualifying pair's witness
    shingle has df ≥ 2 by definition), but they must still occupy
    their rank slot so every doc's prefix stays a prefix of the SAME
    global order. Scale: candidate volume is Σ_s df_prefix(s)² over
    rare shingles only; no cap, no dropped evidence, and the verify
    join moves |candidates|·|S| hashed longs, never text."""
    num, den = _T_FRAC.numerator, _T_FRAC.denominator
    ex = _with_doc_size(_shingle_hashes(d)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wdf = Window.partitionBy("s", "lang")
    wdoc = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix_len = F.col("n") - F.expr(f"({num}L * n + {den - 1}L) div {den}L") + 1
    pref = (
        ex.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("rk", F.row_number().over(wdoc))
        .filter(F.col("rk") <= prefix_len)
        .filter(F.col("df") >= 2)
        .select("doc_id", "lang", "s", "n")
        .localCheckpoint(eager=True)
    )
    cand = (
        canonical_pairs(pref, ["s", "lang"], "doc_id")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ea = ex.select(F.col("doc_id").alias("doc_a"), "s")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return jaccard_verify(common, JACCARD_THRESHOLD)


# --------------------------------------------------------------------------
# Cross-source duplication matrix: for every source pair, how many
# distinct document HEAD fingerprints (md5 of the first 8 lowercased
# tokens — the syndicated-lede / mirror-site signal) appear in BOTH.
# Exact full-text duplication never crosses sources in this corpus
# below sf0.1, so the head fingerprint is the non-degenerate signal
# at every sf; at crawl scale the same plan runs on any fingerprint
# column (simhash, minhash band, md5 of a normalized body).
# Shuffles 16-byte digests only; the self-join's two sides are the
# IDENTICAL scan-rooted distinct subtree, the shape AQE
# runtime-exchange-reuses (gotcha #14: computes the digest set once).
FP_HEAD_TOKENS = 8


@register(
    "dedup_cross_source_matrix",
    tags=("dedup", "fingerprint", "source", "matrix"),
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT source,
             md5(array_to_string({TOKENS_SQL}[1:{FP_HEAD_TOKENS}],
                                 ' ')) AS fp
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_heads
    FROM h a JOIN h b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_shared_heads): distinct head
    fingerprints present in both sources, for every source pair
    sharing any."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(tokens(), 1, FP_HEAD_TOKENS)))
    h = d.select("source", fp.alias("fp")).distinct()
    return (
        canonical_pairs(h, ["fp"], "source")
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_heads"))
    )


# --------------------------------------------------------------------------
# Snapshot diff: the incremental-crawl reconciliation report. Two
# corpus snapshots (simulated deterministically from the one table:
# OLD = doc_id % 5 != 0 — the dedup_incremental_merge standing-corpus
# convention — NEW = doc_id % 7 != 0, with every doc_id % 11 == 0
# text refreshed) are full-outer-joined ON doc_id over their content
# digests, classifying every doc as added / removed / changed /
# unchanged. Only (doc_id, 64-hex digest) rows ever shuffle — the
# diff of two 100 TB snapshots moves a few GB of digests.
@register(
    "corpus_snapshot_diff",
    tags=("dedup", "incremental", "diff", "join"),
    oracle="""
    WITH old AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 <> 0
    ),
    new AS (
      SELECT doc_id,
             sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 <> 0
    ),
    d AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(min(doc_id) AS BIGINT) AS id_min,
           CAST(max(doc_id) AS BIGINT) AS id_max
    FROM d GROUP BY status
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(status, n_docs, id_sum, id_min, id_max) per diff class; the
    id sum/min/max pin exact membership without per-doc rows through
    the comparator (the sample_split_assign convention)."""
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h_old")
    )
    new = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.sha2(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
            256,
        ).alias("h_new"),
    )
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.min("doc_id").cast("bigint").alias("id_min"),
            F.max("doc_id").cast("bigint").alias("id_max"),
        )
    )


# --------------------------------------------------------------------------
# Normalization-then-digest dedup: exact dedup after case folding,
# punctuation stripping, and whitespace collapsing — catches the
# trivial variants (recapitalized titles, doubled spaces, moved
# commas) byte-exact dedup misses, at exactly the same shuffle cost
# (the digest is computed on the normalized form at scan speed,
# functions/text.normalized_text).
@register(
    "dedup_exact_normalized",
    tags=("dedup", "exact", "normalization"),
    oracle=f"""
    WITH n AS (
      SELECT doc_id, lang, {NORM_TEXT_SQL} AS norm
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT sha256(norm)) AS BIGINT) AS n_distinct_norm,
           CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_raw,
           CAST(count(DISTINCT sha256(text))
                - count(DISTINCT sha256(norm)) AS BIGINT) AS n_trivial_variants
    FROM n JOIN documents USING (doc_id)
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, n_distinct_norm, n_distinct_raw, n_trivial_variants):
    how much duplication only appears after normalization. Scale
    shape identical to dedup_exact_stats — normalization is a
    scan-speed projection, the count-distincts shuffle 32-byte
    digests."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalized_text()
    return d.select(
        F.sha2(norm, 256).alias("hn"), F.sha2(F.col("text"), 256).alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("hn").cast("bigint").alias("n_distinct_norm"),
        F.countDistinct("hr").cast("bigint").alias("n_distinct_raw"),
        (F.countDistinct("hr") - F.countDistinct("hn"))
        .cast("bigint")
        .alias("n_trivial_variants"),
    )


# --------------------------------------------------------------------------
# Near-dup involvement per source — which sources generate the
# duplication (mirrors, templated farms) before curation decides
# where to spend crawl budget. Composes the exact-Jaccard pair set
# with document metadata; the oracle re-derives the same pairs
# quadratically, so the composition is hash-verified end-to-end.
@register(
    "dedup_rate_by_source",
    tags=("dedup", "ngram", "source", "diagnostics"),
    oracle=f"""
    WITH {SHINGLED_CTE_SQL},
    pairs AS (
      {SHINGLE_PAIRS_SQL}
      WHERE {_jaccard_at_least_sql(JACCARD_THRESHOLD)}
    ),
    involved AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b AS doc_id FROM pairs
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(i.doc_id) AS BIGINT) AS n_neardup,
           round(CAST(count(i.doc_id) AS DOUBLE) / count(*) + 1e-9, 4)
             AS neardup_rate
    FROM documents d LEFT JOIN involved i ON i.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_neardup, neardup_rate) per source. Scale
    shape: the pair set comes from the inverted-index plan (see
    dedup_ngram_jaccard — candidate generation never quadratic); the
    involved-doc set is an explode+distinct over the tiny pair list,
    and the per-source fold is a broadcast-able left-semi style join
    of that set onto the scan."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d)
    involved = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(involved), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("hit").cast("bigint").alias("n_neardup"),
            F.round(
                F.count("hit").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
            ).alias("neardup_rate"),
        )
    )


# --------------------------------------------------------------------------
# N-gram novelty: what fraction of each document's shingles appears
# here FIRST (by doc_id ingestion order)? The dataset-growth
# diagnostic — a shrinking novelty curve says the crawl is re-reading
# itself; near-zero novelty flags a doc as pure recombination.
@register(
    "text_ngram_novelty",
    tags=("documents", "dedup", "novelty", "shingle"),
    oracle=f"""
    WITH shingled AS (
      SELECT doc_id,
             {SHINGLE_SET_SQL}
      FROM documents
      WHERE {SHINGLE_MIN_SQL}
    ),
    s AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
    first AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 4) AS novelty_rate
    FROM s JOIN first f ON f.sh = s.sh
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty_rate): per-doc fraction
    of distinct 3-shingles whose global first occurrence (min doc_id
    over the whole corpus, cross-lang) is this document.

    Scale shape: rides `_shingle_hashes` — shingles travel as 8-byte
    longs (collision odds argued there, none observed vs this string
    oracle at any sf); first-occurrence attribution is a min() WINDOW
    over the shingle hash (one exchange on s — NOT an agg+rejoin,
    gotcha #14), and the per-doc fold reuses nothing heavier than a
    partial-aggregated groupBy(doc_id). In a dated corpus swap
    min(doc_id) for min(ingest_ts, doc_id) — same plan."""
    sh = _shingle_hashes(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "s"
    )
    w = Window.partitionBy("s")
    nov = sh.withColumn("first_doc", F.min("doc_id").over(w))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return nov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(novel).cast("bigint").alias("n_novel"),
        F.round(
            F.sum(novel).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("novelty_rate"),
    )


# --------------------------------------------------------------------------
# ORACLE-PAIRED MinHash: the estimator math itself, hash-verified.
# dedup_minhash_pairs stays rows-only because its xxhash64 seeded
# permutations are engine-specific; this query swaps the permutation
# family for a cross-engine hash (sha256 prefix — the
# text_quality_classifier mechanism) so DuckDB replays the EXACT
# signatures, and pairs the k=16 estimate with the exact Jaccard on
# the same pairs. That turns "LSH internals" into driver-hash
# evidence: the estimator's per-pair error is itself verified.
EST_SEEDS = 16
EST_MIN_JACCARD = 0.3


def _est_sig_exprs_spark() -> list:
    # per-seed value = first 15 hex chars (60 bits, bigint-safe) of
    # sha256("<seed>|<shingle string>") — identical text both engines
    return [
        F.expr(
            f"min(cast(conv(substring(sha2(concat('{i}|', g), 256), 1, 15), 16, 10)"
            f" as bigint)) AS m{i}"
        )
        for i in range(EST_SEEDS)
    ]


def _est_sig_exprs_duckdb() -> str:
    return ",\n             ".join(
        f"min(CAST(concat('0x', substr(sha256('{i}|' || sh), 1, 15)) AS BIGINT))"
        f" AS m{i}"
        for i in range(EST_SEEDS)
    )


@register(
    "dedup_minhash_estimate_pairs",
    tags=("dedup", "minhash", "estimator", "jaccard"),
    oracle=f"""
    WITH {SHINGLED_CTE_SQL},
    pairs AS (
      {SHINGLE_PAIRS_SQL}
      WHERE {_jaccard_at_least_sql(EST_MIN_JACCARD)}
    ),
    sh AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
    sig AS (
      SELECT doc_id,
             {{SIG_EXPRS}}
      FROM sh GROUP BY doc_id
    )
    SELECT p.doc_a, p.doc_b,
           round(CAST(p.n_common AS DOUBLE)
                 / (p.n_a + p.n_b - p.n_common), 4) AS jaccard,
           CAST({" + ".join(f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(EST_SEEDS))}
                AS BIGINT) AS n_match,
           round(CAST({" + ".join(f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(EST_SEEDS))}
                      AS DOUBLE) / {EST_SEEDS}, 4) AS est_jaccard
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b
    """.replace("{SIG_EXPRS}", _est_sig_exprs_duckdb()),
)
def dedup_minhash_estimate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard, n_match, est_jaccard): for every
    same-lang pair with exact Jaccard >= 0.3, the k=16 MinHash
    estimate next to the truth — the sketch-accuracy audit a pipeline
    runs before trusting banding thresholds at crawl scale.

    Scale shape: the pair source is the shared inverted-index core
    (no quadratic term — that lives only in the DuckDB oracle); the
    expensive cross-engine sha256 signatures are computed ONLY for
    pair-involved docs (semi-join first — at crawl scale that's
    |candidates| docs, not the corpus); signature build is ONE
    groupBy(doc_id) with 16 algebraic min() aggregates over codegen'd
    expressions (min is duplicate-insensitive, so no distinct needed;
    partial-aggregates map-side to one 16-long row per doc per map
    partition — the _signatures_from_shingles shape). The pair frame
    has dependency-ordered consumers (ids feed the signature stage
    the final join also needs) — lazy persist per gotcha #9.
    est_jaccard = n_match/16 values are exact binary fractions
    (k·2⁻⁴), so the 4dp round is boundary-free on both engines."""
    # Spread BY doc_id (r16, ADVICE r15): _shingle_hashes spreads its
    # own input by doc_id, so a round-robin spread here was a pure
    # extra exchange stacked under it (back-to-back RoundRobin ->
    # hashpartitioning(doc_id) in the r15 plan), and the string-shingle
    # branch below re-exchanged the exploded TOKEN stream for its
    # doc_id-keyed lead window. One doc-keyed exchange now serves both.
    d = _spread_by(load_table(spark, sf_dir, "documents"), "doc_id")
    common = _ngram_common_counts(d)
    pairs = jaccard_verify(common, EST_MIN_JACCARD).persist(StorageLevel.MEMORY_AND_DISK)
    # No distinct: right side of a left-semi join is
    # duplicate-insensitive (see minhash_pairs) — skip the exchange.
    cand_ids = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )

    # shingle STRINGS (not xxhash64 longs): the cross-engine hash must
    # see identical text; built with the _shingle_hashes lead-chain
    # but combining token strings, only for candidate docs
    tok = d.select("doc_id", F.posexplode(tokens()).alias("pos", "t")).join(
        cand_ids, "doc_id", "left_semi"
    )
    grams, cols = lead_chain(tok, "t", SHINGLE_K)
    sh = grams.select("doc_id", F.concat_ws(" ", *cols).alias("g"))
    sig = sh.groupBy("doc_id").agg(*_est_sig_exprs_spark())
    a = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(EST_SEEDS)]
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(EST_SEEDS)]
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(EST_SEEDS)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_match.cast("bigint").alias("n_match"),
            F.round(n_match.cast("double") / EST_SEEDS, 4).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Exact-substring decontamination at span granularity: the
# industry-standard "n-gram collision" benchmark screen (GPT-3 used
# 13-gram overlap) — a train doc is contaminated when any SPAN_K-token
# window of it appears verbatim in a benchmark doc. Complements
# decontaminate_ngram_overlap (3-shingle mass, fuzzy) and
# decontaminate_embedding (semantic): this is the exact-match tier.
@register(
    "decontaminate_substring_spans",
    tags=("dedup", "decontamination", "spans", "substring"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    s AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ')
                     FOR i IN range(1, greatest(len(toks) - {SPAN_K - 2}, 1))]) AS g
      FROM t
      WHERE len(toks) >= {SPAN_K}
    ),
    bench AS (SELECT DISTINCT g FROM s WHERE doc_id % 7 = 0),
    train AS (SELECT doc_id, g FROM s WHERE doc_id % 7 <> 0),
    hits AS (
      SELECT tr.doc_id,
             count(*)                                    AS n_spans,
             sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS n_hit
      FROM train tr LEFT JOIN bench b ON b.g = tr.g
      GROUP BY tr.doc_id
    )
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_hit AS BIGINT) AS n_hit,
           round(CAST(n_hit AS DOUBLE) / n_spans, 4) AS hit_frac
    FROM hits WHERE n_hit >= 1
    """,
)
def decontaminate_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_spans, n_hit, hit_frac) for train docs sharing at
    least one verbatim SPAN_K-token span with the benchmark split
    (doc_id % 7 == 0 — the decontaminate_ngram_overlap convention).

    Scale shape: spans travel as 8-byte xxhash64 longs built by the
    dedup_repeated_spans lead-chain (one doc_id-sorted window, spans
    never shuffle as text; collision odds ~1e-15 vs the string
    oracle); per-doc DISTINCT spans (the benchmark is a set — hit
    counts must not inflate on internal repetition); the span table
    feeds BOTH the benchmark-distinct branch and the train branch
    (differently-pruned siblings never exchange-reuse, gotcha #14) so
    it is eager-localCheckpointed once. The contamination test is a
    LEFT equi-join on the span hash — the benchmark side collapses to
    a distinct hash set (in production: built once per benchmark
    release, broadcast or bucketed); per-doc counts partial-aggregate.
    hit_frac is int/int in identical IEEE order on both engines."""
    return substring_span_hits(load_table(spark, sf_dir, "documents"))


def substring_span_hits(d: DataFrame) -> DataFrame:
    """Core span-collision decontamination over any (doc_id, text)
    frame — see ``decontaminate_substring_spans`` for plan notes.
    Spread BY doc_id (r16, the C6 pattern): the span lead-chain window
    is doc_id-keyed — round-robin spread re-exchanged the exploded
    token stream."""
    d = _spread_by(d, "doc_id")
    tok = d.select("doc_id", F.posexplode(tokens()).alias("pos", "t"))
    h = tok.select("doc_id", "pos", F.xxhash64("t").alias("h"))
    grams, cols = lead_chain(h, "h", SPAN_K)
    spans = (
        grams.select("doc_id", F.xxhash64(*cols).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bench = (
        spans.filter(F.pmod("doc_id", F.lit(7)) == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = spans.filter(F.pmod("doc_id", F.lit(7)) != 0)
    return (
        train.join(bench, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.count("hit").cast("bigint").alias("n_hit"),
            F.round(
                F.count("hit").cast("double") / F.count(F.lit(1)), 4
            ).alias("hit_frac"),
        )
        .filter(F.col("n_hit") >= 1)
    )


# --------------------------------------------------------------------------
# Blocked edit-distance near-dup pairs: the third fuzzy-dedup modality
# (set overlap = minhash/jaccard, bit sketch = simhash, and HERE
# character edits — catches small in-place mutations like dates,
# names, typo noise that shingle sets can over- or under-count).
# Candidate generation is PREFIX BLOCKING: only doc pairs sharing the
# normalized first-EDIT_BLOCK_CHARS characters are compared, and the
# DP runs on the head-EDIT_HEAD_CHARS cap, so per-pair cost is
# bounded (~EDIT_HEAD_CHARS^2) and total cost is sum of block^2, not
# corpus^2.
EDIT_BLOCK_CHARS = 24
EDIT_HEAD_CHARS = 200
EDIT_SIM_THRESHOLD = 0.90
# Block-saturation ceiling (VERDICT r9 #3, mirroring the simhash
# guard): a template-headed corpus puts one giant population behind a
# single 24-char prefix and the in-block join goes corpus-quadratic.
# A block of k docs contributes k(k-1)/2 pairs = (k-1)/2 per member;
# legit exact-head clone families are tens of docs ((k-1)/2 ~ 10s),
# so 256 candidate pairs/doc (k ~ 513 in one block) separates real
# template families from floods by an order of magnitude.
EDIT_MAX_CANDIDATES_PER_DOC = 256


def edit_distance_pairs(d: DataFrame) -> DataFrame:
    """Core of dedup_edit_distance_pairs over a (doc_id, t) frame
    (t already lowercased); see the registered builder's docstring.
    Raises in-plan at action time when prefix blocks are saturated
    (> EDIT_MAX_CANDIDATES_PER_DOC implied candidate pairs per doc)
    — computed BEFORE the self-join so a flood can never hide in a
    silently-huge join."""
    d = saturation_guard(
        d.withColumn("blk", F.substring("t", 1, EDIT_BLOCK_CHARS)),
        ["blk"],
        EDIT_MAX_CANDIDATES_PER_DOC,
        "edit-distance prefix blocks are saturated: ",
        " candidate pairs for ",
        f" docs exceeds {EDIT_MAX_CANDIDATES_PER_DOC} per doc"
        " — a template-headed corpus shares one "
        f"{EDIT_BLOCK_CHARS}-char prefix; lengthen the block"
        " prefix, strip boilerplate heads first, or use the"
        " shingle-based paths (minhash/ngram jaccard)",
    )
    head = lambda side: F.substring(F.col(f"{side}.t"), 1, EDIT_HEAD_CHARS)  # noqa: E731
    m = F.greatest(
        F.least(F.octet_length("a.t"), F.lit(EDIT_HEAD_CHARS)),
        F.least(F.octet_length("b.t"), F.lit(EDIT_HEAD_CHARS)),
    )
    p = canonical_pairs(d, ["blk"], "doc_id").select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(head("a"), head("b")).cast("bigint").alias("dist"),
        m.alias("m"),
    )
    sim = F.lit(1.0) - F.col("dist") / F.col("m")
    return p.filter(sim >= EDIT_SIM_THRESHOLD).select(
        "doc_a",
        "doc_b",
        "dist",
        F.round(sim + F.lit(1e-9), 4).alias("sim"),
    )


@register(
    "dedup_edit_distance_pairs",
    tags=("dedup", "fuzzy", "levenshtein", "blocking"),
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(levenshtein(substr(a.t, 1, {EDIT_HEAD_CHARS}),
                              substr(b.t, 1, {EDIT_HEAD_CHARS})) AS BIGINT)
               AS dist,
             greatest(least(strlen(a.t), {EDIT_HEAD_CHARS}),
                      least(strlen(b.t), {EDIT_HEAD_CHARS})) AS m
      FROM d a
      JOIN d b ON substr(a.t, 1, {EDIT_BLOCK_CHARS})
                    = substr(b.t, 1, {EDIT_BLOCK_CHARS})
              AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, dist,
           round(1.0 - dist / m + 1e-9, 4) AS sim
    FROM p WHERE 1.0 - dist / m >= {EDIT_SIM_THRESHOLD}
    """,
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, dist, sim): pairs whose head-{200}-char
    normalized edit similarity 1 - dist/max_len clears
    EDIT_SIM_THRESHOLD, candidates blocked on the shared lowercase
    {24}-char prefix. Determinism: dist and the length cap are exact
    integers (ASCII corpus: Spark char semantics == DuckDB; byte
    lengths via octet_length == strlen); one output division + 1e-9
    bias. Scale shape: the blocking join is an equi-join of one
    identical scan-rooted subtree — AQE runtime-reuses the exchange
    (gotcha #14 self-join case), so the corpus is scanned and
    prefix-projected ONCE; the quadratic DP runs only inside blocks
    (prefix clones), capped at head chars, with an in-plan
    saturation raise at EDIT_MAX_CANDIDATES_PER_DOC implied pairs
    per doc (a template-headed corpus makes one giant block —
    VERDICT r9 #3, the simhash-guard pattern). At crawl scale prefix
    blocking is the exact-head-clone screen; for typo-level recall
    beyond shared heads, band on q-gram signatures instead
    (dedup_ngram_jaccard / minhash are that path — this operator is
    the cheap precise screen for template families, reference-free).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("t")
    )
    return edit_distance_pairs(d)


# --------------------------------------------------------------------------
# Train/test split leakage via near-duplication — the contamination
# mode decontaminate_ngram_overlap does NOT catch: the benchmark is
# external there, but a near-dup of a TEST document sitting in TRAIN
# leaks evaluation signal even when both passed external decontam.
# Composes the deterministic 90/5/5 split hash (shared constants
# with sample_split_assign — split is a PURE FUNCTION of doc_id, so
# neither engine rejoins documents) with the exact n-gram Jaccard
# pair set (shared quadratic oracle). Output is the full
# split-pair x pair-count matrix; off-diagonal rows ARE the leak.
def _split_expr(col: str):
    bucket = knuth_bucket(col, 100)
    return (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _split_case_sql(col: str) -> str:
    return (
        f"CASE WHEN ({col} * {KNUTH}) % {MOD_2_32} % 100 < 90 THEN 'train'"
        f" WHEN ({col} * {KNUTH}) % {MOD_2_32} % 100 < 95 THEN 'val'"
        f" ELSE 'test' END"
    )


@register(
    "dedup_split_leakage",
    tags=("dedup", "decontamination", "split", "jaccard"),
    oracle=f"""
    WITH pr AS (
      {_NGRAM_JACCARD_ORACLE}
    )
    SELECT least({_split_case_sql("doc_a")}, {_split_case_sql("doc_b")}) AS split_a,
           greatest({_split_case_sql("doc_a")}, {_split_case_sql("doc_b")}) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jaccard) + 1e-9, 4) AS avg_jaccard
    FROM pr GROUP BY 1, 2
    """,
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split_a, split_b, n_pairs, avg_jaccard): near-dup pair counts
    by canonically-ordered split pair — any row with split_a !=
    split_b is evaluation leakage (a train document near-duplicating
    a held-out one). Determinism: split is the integer split hash
    applied directly to the pair endpoints (zero extra scans/joins on
    either engine); pair jaccards are already 4dp-rounded by the
    shared plan, and avg over <=|pairs| rounded values re-rounds at
    4dp (pair sets this small sum identically; the oracle is shared
    verbatim with dedup_ngram_jaccard so the pair sets cannot drift).
    Scale shape: everything downstream of the inverted-index pair
    plan runs on the near-dup pair set — tiny relative to the corpus
    by the dedup invariant — and the final agg has at most 6 groups.
    At crawl scale the same composition rides the LSH-banded pair
    path instead of the exact one."""
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
    sa = _split_expr("doc_a")
    sb = _split_expr("doc_b")
    return (
        pairs.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
            "jaccard",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("jaccard") + F.lit(1e-9), 4).alias("avg_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Jaccard threshold-sensitivity curve — before committing a near-dup
# threshold, curation wants the removal-volume curve: how many pairs
# clear each tenth from 0.1 to 1.0. One pass over the SAME inverted
# index as dedup_ngram_jaccard; per pair the highest tenth cleared is
# the INTEGER floor-div (10 * n_common) // union, so banding has no
# float boundary at any scale, and the cumulative curve is a window
# over a <=10-row histogram.
@register(
    "dedup_threshold_curve",
    tags=("dedup", "ngram", "jaccard", "diagnostics"),
    oracle=f"""
    WITH {SHINGLED_CTE_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS n_common,
             len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS u
      FROM shingled a JOIN shingled b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
    ),
    tm AS (
      SELECT (10 * n_common) // u AS tenth FROM pairs
      WHERE n_common > 0
    ),
    h AS (SELECT tenth, count(*) AS n FROM tm GROUP BY 1)
    SELECT CAST(tenth AS BIGINT) AS tenth,
           round(tenth / 10.0, 1) AS threshold,
           CAST(n AS BIGINT) AS n_pairs_in_band,
           CAST(sum(n) OVER (ORDER BY tenth DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_pairs_at_or_above
    FROM h
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tenth, threshold, n_pairs_in_band, n_pairs_at_or_above):
    near-dup pair volume per jaccard tenth; band 0 counts pairs that
    share index evidence but fall below 0.1 (the candidate mass an
    LSH stage would generate and discard). Determinism: band =
    integer floor-div of exact shingle counts; counts are integers;
    threshold is a 1dp round of tenth/10. Scale shape: rides
    ``_ngram_common_counts`` unchanged (inverted index, df cap, one
    shingle-key shuffle, exchange-reused self-join); the histogram
    partial-aggregates to <=10 rows map-side, so the cumulative
    window is free. The oracle re-derives pairs quadratically — the
    builder never does. Cap semantics: the index's df cap excludes
    boilerplate shingles from pair EVIDENCE exactly as in
    dedup_ngram_jaccard (so low-band counts are conservative at
    crawl scale); the uncapped oracle is equivalent at every test sf
    — measured max shingle df is 14 at sf0.1 vs the 1000 cap."""
    d = load_table(spark, sf_dir, "documents")
    common = _ngram_common_counts(d)
    tm = common.select(
        F.expr("(10 * n_common) div (n_a + n_b - n_common)").alias("tenth")
    )
    h = tm.groupBy("tenth").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("tenth").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return h.select(
        F.col("tenth").cast("bigint").alias("tenth"),
        F.round(F.col("tenth") / 10.0, 1).alias("threshold"),
        F.col("n").cast("bigint").alias("n_pairs_in_band"),
        F.sum("n").over(w).cast("bigint").alias("n_pairs_at_or_above"),
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup: the crawl-ingest pattern where
# the standing corpus's digest set is summarized into a DISTRIBUTED
# BLOOM FILTER (a bit_or-aggregated bitmap frame, k=4 xxhash64 probes
# into 2^22 bits) that is BROADCAST to the batch side. Most batch docs
# miss at least one probe and are admitted map-side without ever
# shuffling toward the corpus; only bloom CANDIDATES (true dups +
# false positives) pay the exact digest semi-join. Bloom filters have
# NO false negatives, so the final classification is exactly the
# anti-join semantics — which is what the DuckDB oracle checks,
# end-to-end, with the bloom stage as a pure physical optimization.
@register(
    "dedup_bloom_prefilter",
    tags=("dedup", "bloom", "incremental", "broadcast"),
    oracle=f"""
    WITH {_BATCH_CORPUS_SQL},
    flagged AS (
      SELECT b.doc_id, b.lang, b.h,
             EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h) AS in_corpus,
             row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
      FROM batch b
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_vs_corpus,
           CAST(sum(CASE WHEN NOT in_corpus AND rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_in_batch,
           CAST(sum(CASE WHEN NOT in_corpus AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM flagged GROUP BY 1
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_batch, n_dup_vs_corpus, n_dup_in_batch, n_admitted):
    today's batch (doc_id % 5 == 0) classified against the standing
    corpus. Physical plan: corpus digests -> 4 probe positions each ->
    bit_or bitmap frame (<= 65536 one-long rows, broadcast); batch
    docs probe the bitmap and only all-4-hit candidates take the
    exact corpus semi-join. The corpus digest frame feeds two
    DEPENDENCY-ORDERED consumers (bitmap build materializes first
    under the broadcast barrier, the confirm join later) -> lazy
    persist, the gotcha-#9 rule. At 100 TB the bitmap is sized
    m ~ 10 bits/key (here 2^22 fixed for the test corpus) and built
    incrementally per ingest; the batch side never shuffles except
    for its own in-batch digest window."""
    m_bits = 1 << 22
    batch, corpus = _batch_and_corpus(spark, sf_dir)
    corpus = corpus.persist(StorageLevel.MEMORY_AND_DISK)

    probes = F.array(*[F.lit(i) for i in range(4)])

    def positions(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("h1", F.xxhash64("h"))
            .withColumn("h2", F.xxhash64("h", F.lit("bloom-salt")))
            .withColumn("i", F.explode(probes))
            # pmod the raw hashes into [0, m) BEFORE the double-hash
            # combine: ANSI mode raises on bigint overflow and the raw
            # xxhash64 values span the full long range (gotcha: h1 +
            # i*h2 on raw hashes overflows).
            .withColumn(
                "pos",
                F.pmod(
                    F.pmod("h1", F.lit(m_bits))
                    + F.col("i") * F.pmod("h2", F.lit(m_bits)),
                    F.lit(m_bits),
                ),
            )
            .withColumn("word", F.expr("pos div 64"))
            .withColumn(
                "mask",
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"),
            )
        )

    bitmap = (
        positions(corpus)
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    probed = (
        positions(batch)
        .join(F.broadcast(bitmap), "word", "left")
        .withColumn(
            "hit",
            F.when(
                F.col("bits").isNotNull()
                & (F.expr("bits & mask") == F.col("mask")),
                1,
            ).otherwise(0),
        )
        .groupBy("doc_id", "lang", "h")
        .agg((F.sum("hit") == 4).alias("candidate"))
    )
    # Exact confirm: only candidate digests join the corpus set.
    confirmed = (
        probed.filter("candidate")
        .select("h")
        .distinct()
        .join(corpus, "h", "left_semi")
        .withColumn("in_corpus", F.lit(True))
    )
    flagged = probed.join(confirmed, "h", "left").withColumn(
        "in_corpus", F.coalesce(F.col("in_corpus"), F.lit(False))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    final = flagged.withColumn("rn", F.row_number().over(w))
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum(F.when(F.col("in_corpus"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_vs_corpus"),
        F.sum(F.when(~F.col("in_corpus") & (F.col("rn") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_in_batch"),
        F.sum(F.when(~F.col("in_corpus") & (F.col("rn") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_admitted"),
    )


# --------------------------------------------------------------------------
# Incremental NEAR-dup screen: which docs in today's batch
# (doc_id % 5 == 0, the standing batch convention) are fuzzy
# duplicates of the standing corpus? Completes the incremental family
# — dedup_incremental_merge is the exact-digest anti-join; this is
# its jaccard sibling. Plan: ONE inverted-index self-join over the
# whole frame (identical subtrees -> runtime ReusedExchange, one
# shingle lineage) with the batch/corpus orientation applied as a
# post-filter on the pair frame. At crawl scale the standing corpus
# keeps a persisted shingle-index TABLE (written once per ingest, the
# text_bm25_incremental stats pattern) and only the batch side is
# shingled + joined — no corpus re-scan; the post-filter form here
# keeps the single-scan exchange-reuse shape at test sf.
@register(
    "dedup_incremental_neardup",
    tags=("dedup", "incremental", "ngram", "jaccard"),
    oracle=f"""
    WITH {SHINGLED_CTE_SQL},
    prs AS (
      SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
             round(CAST(len(list_intersect(b.shingles, c.shingles)) AS DOUBLE)
                   / (len(b.shingles) + len(c.shingles)
                      - len(list_intersect(b.shingles, c.shingles))), 4)
               AS jaccard
      FROM shingled b JOIN shingled c
        ON b.lang = c.lang AND b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
      WHERE CAST(len(list_intersect(b.shingles, c.shingles)) AS DOUBLE)
            / (len(b.shingles) + len(c.shingles)
               - len(list_intersect(b.shingles, c.shingles)))
            >= {JACCARD_THRESHOLD}
    )
    SELECT batch_doc, corpus_doc, jaccard FROM prs
    """,
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(batch_doc, corpus_doc, jaccard): fuzzy hits of the new batch
    against the standing corpus at the shared 0.6 threshold.
    Determinism: the shared exact-jaccard rule (integer shingle
    counts, 4dp round). Scale shape: header note — single scan with
    runtime exchange reuse here; persisted shingle index at crawl."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    a_is_batch = F.pmod("doc_a", F.lit(5)) == 0
    b_is_batch = F.pmod("doc_b", F.lit(5)) == 0
    cross = pairs.filter(a_is_batch != b_is_batch)
    return cross.select(
        F.when(a_is_batch, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "batch_doc"
        ),
        F.when(a_is_batch, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "corpus_doc"
        ),
        "jaccard",
    )
