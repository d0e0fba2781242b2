"""Similarity search over ``embeddings`` (SURVEY.md §2d): brute-force
cosine top-k as the exact baseline, and an LSH (random-hyperplane)
bucketed variant as the 100 TB scale path.

Scale design:
- brute-force is the oracle/verifier: broadcast the (small) query set,
  compute cosine against every corpus vector, per-query top-k via
  window. Cost O(|Q|·n) — right answer for verification, wrong answer
  at 100 TB when |Q| is large.
- sign-LSH buckets corpus vectors by the sign pattern of r random
  hyperplanes (deterministic seeded pseudo-hyperplanes derived from
  xxhash64 — no stored model). Queries probe only their own bucket
  (+ optional multi-probe). Shuffle is an equi-join on bucket id.
- dot/norm kernels are JVM-side ``aggregate(zip_with(...))``. These
  higher-order functions are interpreted per element, but MEASURED
  (SCALING.md §kernels, r3): on Spark 4 the arithmetic-only lambdas
  process a 4M-pair × 64-dim cosine workload in ~1.6 CPU-seconds —
  statistically indistinguishable from a fully-unrolled codegen'd
  multiply-add chain and from an Arrow/numpy pandas_udf at the same
  volume. (Repo gotcha #2's ~30x HOF penalty is real but specific to
  string-op lambdas on the shingle path.) The unrolled form was tried
  and REJECTED: it pays ~3s of ANTLR parse + ~5s of Janino compile
  per plan shape and bloats every optimizer pass that copies the
  tree, for zero steady-state win. If a profile ever shows these
  kernels hot at scale, the escape hatch is a vectorized pandas_udf
  (np.einsum over Arrow batches) — same numbers, one Python crossing
  per batch.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.pairs import canonical_pairs, cap_blocks
from ..functions.scale import spread as _spread
from ..functions.scale import spread_by as _spread_by
from ..functions.text import BM25_SCORED_SQL, BM25_TF_SQL, TOKENS_SQL, bm25_stats, bm25_tf
from ..functions.text import bm25_weight, tokens
from ..operators.clustering import EXACT_KEEP_SQL, exact_keepers
from ..sources import load_table
from .dedup import DEFAULT_DF_CAP, JACCARD_THRESHOLD, SHINGLE_MIN_SQL, SHINGLE_PAIRS_SQL
from .dedup import SHINGLE_SET_SQL, SHINGLED_CTE_SQL, ngram_jaccard_pairs
from .registry import register

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
DIM = 64  # fixed embedding width in testdata (len(embedding)=64 at every sf)
# DIM is documentation + the pandas_udf escape hatch's reshape width;
# the HOF kernels below are width-agnostic.


def _dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(F.col(a) if isinstance(a, str) else a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _cos(a: Column | str, b: Column | str) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _d2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance rounded to 4dp — the k-means/PQ lockstep
    rule: both engines fold the same dots left to right, and the
    round absorbs the last-ulp drift before any argmin compares."""
    return F.round(_dot(a, a) - 2 * _dot(a, b) + _dot(b, b), 4)


def _query_vecs(v: DataFrame) -> DataFrame:
    """The query side ``(query_id, qvec)`` of a ``_with_vec`` frame:
    its first N_QUERIES vectors."""
    return v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )


def _with_vec(d: DataFrame) -> DataFrame:
    """Widen the float embedding to double once so both engines
    compute the same double-precision dot products (left-to-right
    array order). transform(cast) vs a whole-array Cast measured
    equal-or-better (r3 A/B: 0.78-0.90s vs 0.90-1.49s on the brute
    query — array Cast is itself a per-element loop, not a memcpy).
    Spread across cores: a single-file local parquet is one input
    split otherwise. Spread BY vec_id (r16, the C6 pattern): a
    keyless round-robin repartition pays a local sort of its input
    (spark.sql.execution.sortBeforeRepartition, guide §2.5) that a
    hash repartition does not, vec_id is unique so the spread is as
    even, and downstream vec_id-keyed exchanges (the PQ subspace
    aggregation, the centroid classifier's per-vector argmax) are
    elided by the subset rule — hashpartitioning(vec_id) satisfies
    any ClusteredDistribution whose keys include vec_id."""
    return _spread_by(d, "vec_id").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )


# --------------------------------------------------------------------------
@register(
    "similarity_topk_brute",
    bench=True,
    tags=("similarity", "topk", "cosine"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.vec, c.vec) AS cos
      FROM q JOIN v c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
    FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
             ) AS rk
      FROM scored
    )
    WHERE rk <= {TOP_K}
    """,
)
def similarity_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{K} neighbors for query vectors vec_id < 10."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    q = _query_vecs(v)
    c = v.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos("qvec", "cvec").alias("cos"))
    )
    return _topk_cosine(scored)


def _topk_cosine(scored: DataFrame) -> DataFrame:
    """Per-query top-TOP_K cut of (query_id, neighbor_id, cos) rows:
    cosine descending with a neighbor_id tiebreak, cosine rounded to
    4dp only at output."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cosine"), "rk")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (the §2d "embedding-cosine
# near-dup" dedup variant lives here with the shared kernels). The
# edge rule, same-label pairs at cosine >= EDGE_COS_THRESHOLD, is also
# the near-dup graph of plans/graph.py. 0.35 sits at ~p99.9 of this
# synthetic corpus's within-label cosine distribution (max ~0.51), so
# the result is non-empty at every sf; a real near-dup pipeline would
# use ~0.95+.
EDGE_COS_THRESHOLD = 0.35


def _near_dup_pairs(v: DataFrame, threshold: float = EDGE_COS_THRESHOLD) -> DataFrame:
    """Label-blocked canonical pairs ``a``/``b`` of a ``_with_vec``
    frame whose cosine ``cos`` reaches ``threshold`` — at scale the
    block key becomes an LSH bucket (same join shape). A self-join of
    one identical subtree: AQE runtime exchange-reuse computes the
    projection once (gotcha #14, self-join case)."""
    return (
        canonical_pairs(v, ["label"], "vec_id")
        .withColumn("cos", _cos("a.vec", "b.vec"))
        .filter(F.col("cos") >= threshold)
    )


def _near_dup_sql(threshold: float = EDGE_COS_THRESHOLD) -> str:
    """The oracles' twin of ``_near_dup_pairs``: the FROM and WHERE
    clauses over a CTE ``v (vec_id, label, vec)``. list_cosine_similarity
    is hash-verified against the HOF kernel by dedup_embedding_cosine."""
    return f"""FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.vec, b.vec) >= {threshold}"""


@register(
    "dedup_embedding_cosine",
    tags=("dedup", "similarity", "cosine"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.vec, b.vec), 4) AS cosine
    {_near_dup_sql()}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vector pairs (cosine >= EDGE_COS_THRESHOLD), blocked
    by label."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    return (
        _near_dup_pairs(v)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round("cos", 4).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Sign-LSH (random hyperplane) bucketed ANN: the scale path.
# Pseudo-hyperplanes are derived deterministically: component j of
# hyperplane p = (xxhash64(p, j) mod 2001 - 1000)/1000 -> values in
# [-1, 1]. Bucket = bit pattern of sign(v . h_p) over a table's planes
# (_table_bucket_sql). No oracle (bucketing is engine-specific); pytest
# checks recall vs the brute-force result at small sf.


def _plane_dot_sql(vec: str, p: int) -> str:
    """SQL text of the dot product of ``vec`` with seeded
    pseudo-hyperplane ``p`` (component j = (xxhash64(p, j) mod 2001 -
    1000)/1000 in [-1, 1]). String-built: the nested HOF lambdas cost
    many py4j round-trips per plane when built as Column objects.
    Deliberately NOT unrolled over DIM (r3 measurement, SCALING.md
    §kernels): 32 planes × 64 unrolled terms made a ~160 KB expression
    tree that cost seconds of parse/optimize/Janino per plan and
    minutes of optimizer-copy blowup in the banded self-join — while
    the interpreted HOF evaluates the same arithmetic within noise of
    codegen at any local volume."""
    return (
        f"aggregate(zip_with({vec}, sequence(0, size({vec}) - 1), "
        f"(x, j) -> x * (CAST(xxhash64({p}, j) % 2001 - 1000 AS DOUBLE) / 1000.0)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _banded_vectors(v: DataFrame) -> DataFrame:
    """(vec_id, vec) -> one row per (vec_id, table_no, bucket) across
    the N_TABLES sign-LSH tables — the shared candidate-generation
    frame for the ANN top-k and near-dup plans."""
    tables = ", ".join(_table_bucket_sql("vec", t) for t in range(N_TABLES))
    return v.selectExpr(
        "vec_id", "vec", f"posexplode(array({tables})) AS (table_no, bucket)"
    )


@register(
    "similarity_topk_lsh",
    oracle=None,  # bucket layout engine-specific; recall pinned in pytest
    tags=("similarity", "topk", "lsh", "ann"),
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH: candidates are the
    union of the query's buckets across N_TABLES independent 4-bit
    tables (same geometry as dedup_embedding_lsh) — a single wide
    table is a weak filter (one unlucky hyperplane loses a true
    neighbor forever), multiple narrow tables buy recall at O(n·L)
    shuffle. Candidates dedupe before scoring so each pair's cosine
    computes once."""
    banded = _banded_vectors(_with_vec(load_table(spark, sf_dir, "embeddings")))
    q = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), "table_no", "bucket"
    )
    c = banded.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec"), "table_no", "bucket"
    )
    cand = (
        F.broadcast(q)
        .join(c, ["table_no", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_cosine(
        cand.select("query_id", "neighbor_id", _cos("qvec", "cvec").alias("cos"))
    )


# --------------------------------------------------------------------------
# Embedding near-dup via multi-table sign-LSH: the SCALE path for
# dedup_embedding_cosine (which blocks on label — a stand-in key).
# L tables of r sign-bits each: a pair colliding in ANY table becomes
# a candidate, then exact cosine verifies. Detection probability for
# angle θ: 1 - (1 - (1-θ/π)^r)^L — r trades candidate noise against
# recall, L buys recall back (identical S-curve logic to minhash
# banding). Candidates join on (table_no, bucket): shuffle O(n·L),
# never O(n²); bucket-size cap guards degenerate buckets.
N_TABLES = 8
BITS_PER_TABLE = 4
EMB_NEARDUP_THRESHOLD = 0.35


def _table_bucket_sql(vec: str, table: int) -> str:
    """Sign pattern of BITS_PER_TABLE hyperplanes for one table (plane
    indices offset by table) packed into an int — SQL string (see
    ``_plane_dot_sql`` for why)."""
    bits = " | ".join(
        "(CASE WHEN {} > 0 THEN {} ELSE 0 END)".format(
            _plane_dot_sql(vec, table * BITS_PER_TABLE + p), 1 << p
        )
        for p in range(BITS_PER_TABLE)
    )
    return f"({bits})"


@register(
    "dedup_embedding_lsh",
    oracle=None,  # bucket layout engine-specific; subset+recall pinned in pytest
    tags=("dedup", "similarity", "lsh", "cosine"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vector pairs (cosine >= {thr}) via multi-table
    sign-LSH candidates + exact cosine verify — no label blocking, no
    all-pairs join. At crawl scale the per-vector hyperplane dots
    would batch through one Arrow pandas_udf matrix multiply instead
    of {n} interpreted HOF folds (same buckets, fewer Python-free
    per-element lambdas); the join shape is already the 100 TB one.
    """.format(thr=EMB_NEARDUP_THRESHOLD, n=N_TABLES * BITS_PER_TABLE)
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    banded = _banded_vectors(v)
    # bucket-size cap (same skew guard as the minhash band join)
    bucket = ["table_no", "bucket"]
    keys = cap_blocks(banded.select("vec_id", *bucket), bucket, DEFAULT_DF_CAP)
    cand = (
        canonical_pairs(keys, bucket, "vec_id")
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vec = v.select("vec_id", "vec")
    pairs = cand.join(
        vec.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va")), "id_a"
    ).join(vec.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
    cos = _cos("va", "vb")
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= EMB_NEARDUP_THRESHOLD)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: the other classic scale path. K seed
# vectors act as centroids (deterministic stride over vec_id — a real
# deployment would k-means these); every vector is assigned to its
# nearest centroid's cell (one broadcast join: corpus x K dots);
# queries probe their own cell plus the runner-up (nprobe=2). The
# candidate join is an equi-join on cell id — shuffle O(n), never
# O(n^2); cell sizes are the knob that trades recall for cost.
N_CELLS = 8
N_PROBE = 2


@register(
    "similarity_topk_ivf",
    oracle=None,  # cell assignment is engine-specific; cosine agreement pinned in pytest
    tags=("similarity", "topk", "ivf", "ann"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    return _ivf_probe_topk(v, _seed_cells(v))


def _seed_cells(v: DataFrame) -> DataFrame:
    """(cell, cvec) seed centroids: the N_CELLS vectors with the
    smallest xxhash64(vec_id) — a deterministic uniform sample.
    orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-K, then a K·P-row gather), so no task ever streams the full id
    set — unlike the pre-r3 ntile over a global Window.orderBy, which
    funneled every vec_id through one task. The row_number window that
    assigns cell numbers runs AFTER the limit, over exactly N_CELLS
    rows. similarity_topk_ivf probes these seeds as they are;
    _ivf_trained_centroids refines them with Lloyd rounds."""
    seed_ids = (
        v.select("vec_id", F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .limit(N_CELLS)
        .withColumn("cell", F.row_number().over(Window.orderBy("h", "vec_id")) - 1)
        .select("vec_id", "cell")
    )
    return v.join(F.broadcast(seed_ids), "vec_id").select("cell", F.col("vec").alias("cvec"))


def _ranked_cells(
    side: DataFrame, centroids: DataFrame, vec_col: str, keep: int
) -> DataFrame:
    """Rank each row's nearest ``keep`` centroid cells by cosine (one
    broadcast cross join vs K centroids; per-row window over K rows)."""
    scored = side.crossJoin(F.broadcast(centroids)).select(
        *side.columns,
        "cell",
        _cos(vec_col, "cvec").alias("ccos"),
    )
    w = Window.partitionBy(*[c for c in side.columns if c != vec_col]).orderBy(
        F.col("ccos").desc(), "cell"
    )
    return scored.withColumn("crk", F.row_number().over(w)).filter(F.col("crk") <= keep)


def _ivf_probe_topk(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Shared IVF probe stage: assign corpus to 1 cell, probe N_PROBE
    cells per query, exact-cosine the candidates, window top-k. The
    candidate join is an equi-join on cell — shuffle O(n), never
    O(n²) — whatever trained the centroids."""
    corpus = v.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec_n"))
    corpus_cells = _ranked_cells(corpus, centroids, "cvec_n", 1).select(
        "neighbor_id", "cvec_n", "cell"
    )
    queries = _query_vecs(v)
    query_cells = _ranked_cells(queries, centroids, "qvec", N_PROBE).select(
        "query_id", "qvec", "cell"
    )

    scored = (
        F.broadcast(query_cells)
        .join(corpus_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos("qvec", "cvec_n").alias("cos"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_cosine(scored)


# IVF with TRAINED cells: the seed-sampled variant above concedes "a
# real deployment would k-means these seeds" — this variant does,
# with the shared _lloyd kernel (its rounded distances keep the
# trained cells partition-independent) before the identical probe
# stage. Trained cells align with the data distribution, which is
# exactly where seed-IVF loses recall (the adversarial clustered
# fixture measures the gap; see tests/test_ann_adversarial.py).
IVF_KMEANS_ITERS = 2


@register(
    "similarity_topk_ivf_kmeans",
    oracle=None,  # trained-cell layout engine-specific; recall pinned in pytest
    tags=("similarity", "topk", "ivf", "kmeans", "ann"),
)
def similarity_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with Lloyd-refined centroids.

    Scale shape: training = IVF_KMEANS_ITERS _lloyd rounds seeded by
    the same deterministic hash-ordered sample as similarity_topk_ivf
    (_seed_cells); the final K x dim centroid frame is
    eager-localCheckpointed — it is tiny, and it feeds TWO broadcast
    builds (corpus-side and query-side cell ranking), which are
    sibling branches that would otherwise re-run training twice
    (gotcha #9, sibling case). Probe stage identical to
    similarity_topk_ivf."""
    v = _persisted_corpus(spark, sf_dir)
    return _ivf_probe_topk(v, _ivf_trained_centroids(v))


def _ivf_trained_centroids(v: DataFrame) -> DataFrame:
    """Lloyd-refined IVF cells over a persisted (vec_id, vec) frame,
    seeded by _seed_cells; returns the eager-checkpointed (cell, cvec)
    frame (it feeds sibling broadcast builds, gotcha #9). Shared by
    similarity_topk_ivf_kmeans and the composed IVF-PQ pipeline."""
    return _lloyd(v, _seed_cells(v), "cell", "vec", IVF_KMEANS_ITERS).localCheckpoint(
        eager=True
    )


# --------------------------------------------------------------------------
# Per-group centroids: the building block behind IVF training, cluster
# summaries, and class-prototype dedup. Output is (label, pos, value)
# rows rather than assembled arrays so the result is SQL-comparable.
@register(
    "embedding_centroid_by_bucket",
    tags=("similarity", "array", "aggregate", "centroid"),
    oracle=f"""
    SELECT label,
           CAST(i - 1 AS BIGINT) AS pos,
           round(avg(CAST(embedding AS DOUBLE[])[i]), 6) AS centroid
    FROM embeddings, range(1, {DIM + 1}) t(i)
    GROUP BY label, i
    """,
)
def embedding_centroid_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-wise mean vector per label: posexplode the embedding,
    then ONE groupBy(label, pos) avg — partial-aggregated map-side, so
    the shuffle carries (label, pos, partial sum/count) = at most
    |labels|·DIM rows per map partition regardless of corpus size.
    The assembled-array alternative (array_agg sorted by pos) adds a
    sort per group for no analytical gain; downstream consumers
    (e.g. an IVF trainer) want the long format anyway."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    return (
        v.select("label", F.posexplode("vec").alias("pos", "x"))
        .groupBy("label", F.col("pos").cast("bigint").alias("pos"))
        .agg(F.round(F.avg("x"), 6).alias("centroid"))
    )


# --------------------------------------------------------------------------
# Vector stats: array aggregation kernels (norm distribution per label).
@register(
    "embedding_norm_stats",
    tags=("similarity", "array", "aggregate"),
    oracle="""
    WITH v AS (
      SELECT label,
             sqrt(list_sum([x * x FOR x IN CAST(embedding AS DOUBLE[])])) AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM v GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    nrm = _norm("vec")
    return (
        v.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


# --------------------------------------------------------------------------
# K-means (Lloyd's) over the embedding corpus: the iterative
# centroid-refinement companion to connected_components — and, unlike
# most engines' k-means, ORACLE-PAIRED: deterministic seeds (the K
# smallest vec_ids), a FIXED number of unrolled iterations, distances
# rounded to 4 decimals with a cluster-id tiebreak before argmin, and
# centroids re-rounded to 6 decimals after every update, so Spark and
# DuckDB stay in numerical lockstep round by round (same discipline
# as the cosine oracles: double-widen once, round before compare).
K_MEANS_K = 8
K_MEANS_ITERS = 3


def _pq_d2_sql(v: str, c: str) -> str:
    """DuckDB text of _d2: the 4dp-rounded squared L2 distance every
    k-means, PQ and k-center oracle replays."""
    return (
        f"round(list_inner_product({v}, {v})"
        f" - 2 * list_inner_product({v}, {c})"
        f" + list_inner_product({c}, {c}), 4)"
    )


def _kmeans_cte(k: int, iters: int, dim: int) -> str:
    """Unrolled DuckDB Lloyd-iteration CTE chain; the final assignment
    lives in ``a{iters}`` as (vec_id, vec, cluster). Shared by
    cluster_kmeans_assign and dedup_semantic_kmeans so the two oracles
    cannot drift."""
    parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cluster, vec AS cvec"
        f" FROM v WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, vec, cluster FROM ("
            f" SELECT v.vec_id, v.vec, c.cluster,"
            f" row_number() OVER (PARTITION BY v.vec_id"
            f" ORDER BY {_pq_d2_sql('v.vec', 'c.cvec')}, c.cluster) AS rn"
            f" FROM v CROSS JOIN c{i - 1} c) WHERE rn = 1)"
        )
        if i < iters:
            parts.append(
                f"c{i} AS (SELECT cluster, list(cval ORDER BY i) AS cvec FROM ("
                f" SELECT cluster, i, round(avg(vec[i]), 6) AS cval"
                f" FROM a{i}, range(1, {dim + 1}) t(i)"
                f" GROUP BY cluster, i) GROUP BY cluster)"
            )
    return ",\n".join(parts)


def _kmeans_oracle(k: int, iters: int, dim: int) -> str:
    """Generate the unrolled DuckDB mirror of cluster_kmeans_assign."""
    return (
        _kmeans_cte(k, iters, dim)
        + f"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a{iters}"
    )


@register(
    "cluster_kmeans_assign",
    tags=("similarity", "clustering", "iterative", "kmeans"),
    oracle=_kmeans_oracle(K_MEANS_K, K_MEANS_ITERS, DIM),
)
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster) after K_MEANS_ITERS Lloyd rounds from the
    deterministic vec_id < K seed centroids.

    Scale shape per iteration: assignment (_nearest) is a BROADCAST
    cross join against the K centroids (K·n scored rows that
    partial-aggregate map-side through min_by before the one O(n)
    shuffle on vec_id — no window over the scored set), and the
    centroid update (_centroids) shuffles only (cluster, pos, partial
    sum/count) ≤ K·dim rows per map partition. The corpus projection
    is lazily persisted: its per-iteration consumers are
    dependency-ordered (iteration i+1 needs centroids from iteration
    i), so the first assignment materializes it once (gotcha #9,
    dependency-ordered case)."""
    v = _persisted_corpus(spark, sf_dir)
    assigned = _lloyd_assign(v, K_MEANS_K, K_MEANS_ITERS)
    return assigned.select("vec_id", F.col("cluster").cast("bigint").alias("cluster"))


def _nearest(
    points: DataFrame, cent: DataFrame, label: str, vec: str, by: tuple = ()
) -> DataFrame:
    """Lloyd assign step: each (vec_id, *by) point of ``points`` takes
    the ``label`` of its nearest ``cent`` row (one broadcast join —
    a cross join, or an equi-join on ``by``); returns
    (vec_id, *by, label, vec). Determinism (gotcha #13): float
    summation order varies with partitioning, so distances are _d2's
    4dp-rounded values and min_by orders on (d2, label) — plain
    min_by on a value with duplicates is partition-order
    nondeterministic. min_by partial-aggregates map-side, so the one
    shuffle carries a single row per point."""
    cent = F.broadcast(cent)
    joined = points.join(cent, list(by)) if by else points.crossJoin(cent)
    return (
        joined.withColumn("d2", _d2(vec, "cvec"))
        .groupBy("vec_id", *by)
        .agg(
            F.min_by(label, F.struct("d2", label)).alias(label),
            F.first(vec).alias(vec),  # constant per point
        )
    )


def _centroids(assigned: DataFrame, label: str, vec: str, by: tuple = ()) -> DataFrame:
    """Lloyd update step: component-wise mean of ``vec`` per
    (*by, label), re-rounded to 6dp; returns (*by, label, cvec).
    posexplode + partial avg shuffles only (*by, label, pos, partial
    sum/count) rows (the embedding_centroid_by_bucket kernel); the
    array is reassembled in pos order."""
    return (
        assigned.select(*by, label, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*by, label, "pos")
        .agg(F.round(F.avg("val"), 6).alias("cval"))
        .groupBy(*by, label)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cvec")
        )
    )


def _lloyd(
    points: DataFrame, cent: DataFrame, label: str, vec: str, rounds: int, by: tuple = ()
) -> DataFrame:
    """``rounds`` full Lloyd rounds (_nearest, then _centroids) from
    ``cent``; returns the refined (*by, label, cvec) centroids."""
    for _ in range(rounds):
        cent = _centroids(_nearest(points, cent, label, vec, by), label, vec, by)
    return cent


def _persisted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vec) projection, lazily persisted for iterative reuse.

    Deliberately NOT unpersisted: the returned frame still reads the
    cache lazily, so the builder can't drop it before the driver's
    action. Long sweep sessions rely on LRU block eviction (bounded:
    one projected corpus per persisting query, MEMORY_AND_DISK)."""
    return (
        _with_vec(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "vec")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _lloyd_assign(v: DataFrame, k: int, iters: int) -> DataFrame:
    """``iters`` Lloyd assignments from the deterministic vec_id < k
    seed centroids over a persisted (vec_id, vec) frame (``iters - 1``
    _lloyd rounds, then a final _nearest); returns
    (vec_id, cluster INT, vec)."""
    cent = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("vec").alias("cvec")
    )
    return _nearest(v, _lloyd(v, cent, "cluster", "vec", iters - 1), "cluster", "vec")


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape: arXiv 2303.09540): k-means the
# embedding space, then exact pairwise cosine ONLY within each
# cluster. The cluster assignment bounds candidate generation — the
# quadratic blow-up of all-pairs cosine is confined to cluster
# populations, which K is chosen to keep bounded (at 100 TB: K grows
# with the corpus so |cluster| stays ~constant; here K_MEANS_K on the
# test corpus). This is the embedding-space sibling of LSH blocking.
SEMANTIC_COS_THRESHOLD = 0.35


def _semantic_kmeans_oracle(k: int, iters: int, dim: int, thr: float) -> str:
    return (
        _kmeans_cte(k, iters, dim)
        + f""",
    av AS (SELECT vec_id, vec, cluster FROM a{iters})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(a.cluster AS BIGINT) AS cluster,
           round(list_cosine_similarity(a.vec, b.vec), 4) AS cosine
    FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vec, b.vec) >= {thr}
    """
    )


@register(
    "dedup_semantic_kmeans",
    tags=("dedup", "similarity", "kmeans", "iterative", "semdedup"),
    oracle=_semantic_kmeans_oracle(
        K_MEANS_K, K_MEANS_ITERS, DIM, SEMANTIC_COS_THRESHOLD
    ),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, cluster, cosine) for within-cluster pairs at
    cosine >= SEMANTIC_COS_THRESHOLD after the SAME deterministic
    Lloyd assignment as cluster_kmeans_assign (shared _lloyd_assign /
    _kmeans_cte, so the two oracles cannot drift).

    Scale shape: the assigned frame is eager-localCheckpointed before
    the pair self-join — its two join sides are sibling consumers of
    an AGGREGATED lineage, and the executed-plan probe showed AQE
    does NOT exchange-reuse them (0 ReusedExchange; both sides
    re-ran all Lloyd rounds from the persisted corpus — the gotcha
    #9 sibling case, NOT the identical-scan self-join case that does
    reuse in simhash/minhash). The checkpoint is |corpus| rows of
    (id, cluster, vec) — the same order as the input. Only
    same-cluster pairs are ever enumerated: with K sized so clusters
    hold ~10³ vectors, per-cluster work is bounded O(|c|²·dim)
    regardless of corpus size; cluster count is the parallelism unit
    (here K_MEANS_K keeps the tiny test corpus in a few tasks — a
    crawl-scale run raises K, which only widens the broadcast
    centroid table). Threshold reuses the cosine kernel already
    hash-verified against DuckDB's list_cosine_similarity in
    dedup_embedding_cosine; the >= compare is on the unrounded
    double both engines build identically."""
    v = _persisted_corpus(spark, sf_dir)
    assigned = _lloyd_assign(v, K_MEANS_K, K_MEANS_ITERS).localCheckpoint(eager=True)
    return (
        canonical_pairs(assigned, ["cluster"], "vec_id")
        .withColumn("cos", _cos("a.vec", "b.vec"))
        .filter(F.col("cos") >= SEMANTIC_COS_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.cluster").cast("bigint").alias("cluster"),
            F.round("cos", 4).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Hybrid (text x embedding) near-dup confirmation: the cross-modal
# join the curation pipeline runs before destructive dedup — each
# text-level near-dup pair is scored with the embedding cosine of the
# same pair (embeddings.vec_id is 1:1 with documents.doc_id in the
# test schema). Disagreement (high jaccard, low cosine) flags
# template/boilerplate pairs; agreement confirms true duplicates.
@register(
    "hybrid_neardup_scores",
    tags=("dedup", "similarity", "cross-modal", "join"),
    # The shingle/threshold spec below is dedup.py's — interpolated
    # from the shared shingle SQL and JACCARD_THRESHOLD constants so
    # the two oracles can't silently diverge.
    oracle=f"""
    WITH {SHINGLED_CTE_SQL},
    tpairs AS (
      {SHINGLE_PAIRS_SQL}
    ),
    jp AS (
      SELECT doc_a, doc_b,
             round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 4) AS jaccard
      FROM tpairs
      WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= {JACCARD_THRESHOLD}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
    SELECT jp.doc_a, jp.doc_b, jp.jaccard,
           round(list_cosine_similarity(va.vec, vb.vec), 4) AS cosine
    FROM jp
    JOIN v va ON va.vec_id = jp.doc_a
    JOIN v vb ON vb.vec_id = jp.doc_b
    """,
)
def hybrid_neardup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard, cosine) for every text near-dup pair.

    Scale shape: the pair list from the inverted-index jaccard plan is
    tiny relative to the corpus, so the embedding rejoins touch only
    |pairs| x 2 vectors — two hash equi-joins on vec_id, never a
    vector self-join. The embedding projection is referenced twice
    (a/b side); identical subtrees, runtime exchange-reuse per
    gotcha #14."""
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
    v = _with_vec(load_table(spark, sf_dir, "embeddings")).select("vec_id", "vec")
    cos = _cos("va", "vb")
    return (
        pairs.join(
            v.select(F.col("vec_id").alias("doc_a"), F.col("vec").alias("va")), "doc_a"
        )
        .join(v.select(F.col("vec_id").alias("doc_b"), F.col("vec").alias("vb")), "doc_b")
        .select("doc_a", "doc_b", "jaccard", F.round(cos, 4).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Embedding-space decontamination: the retrieval twin of
# decontaminate_ngram_overlap — flag training vectors semantically
# close to any benchmark vector even when no tokens overlap
# (paraphrased contamination). Benchmark = vec_id % 7 == 0, the same
# deterministic split rule as the n-gram variant.
@register(
    "decontaminate_embedding",
    tags=("similarity", "decontamination", "cross-modal"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    bench AS (SELECT vec_id, vec FROM v WHERE vec_id % 7 = 0),
    train AS (SELECT vec_id, vec FROM v WHERE vec_id % 7 <> 0),
    scored AS (
      SELECT t.vec_id,
             list_cosine_similarity(t.vec, b.vec) AS cos
      FROM train t JOIN bench b ON true
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(max(cos), 4) AS max_cos
    FROM scored
    WHERE cos >= {EMB_NEARDUP_THRESHOLD}
    GROUP BY vec_id
    """,
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(train vec_id, n benchmark hits at cosine >= threshold, max
    cosine) — a downstream filter quarantines the hits.

    Scale shape: EXACT variant — the benchmark set is broadcast (like
    a benchmark release, it is small and fixed) against the corpus
    scan, so cost is O(n·|bench|) with no shuffle on the corpus side
    beyond the per-vector agg; at |bench| beyond broadcast size the
    sign-LSH bucket join (dedup_embedding_lsh's shape) is the scale
    path with this as its verifier. Same dot/norm kernels and the
    same 0.35 threshold as the r4-proven dedup_embedding_cosine, so
    the float-boundary behavior is already hash-verified."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings")).select("vec_id", "vec")
    bench = v.filter(F.pmod("vec_id", F.lit(7)) == 0).select(
        F.col("vec_id").alias("b_id"), F.col("vec").alias("bvec")
    )
    train = v.filter(F.pmod("vec_id", F.lit(7)) != 0)
    cos = _cos("vec", "bvec")
    return (
        train.crossJoin(F.broadcast(bench))
        .select("vec_id", cos.alias("cos"))
        .filter(F.col("cos") >= EMB_NEARDUP_THRESHOLD)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.round(F.max("cos"), 4).alias("max_cos"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al., PAMI 2011): split each vector
# into PQ_M subvectors, k-means each subspace independently (PQ_K
# cells, PQ_ITERS deterministic Lloyd rounds — the cluster_kmeans
# rounding discipline, so DuckDB replays the training bit-for-bit),
# and encode every vector as PQ_M small codes. ADC (asymmetric
# distance) then scores query→vector distance as a sum of PQ_M
# table lookups — the memory-bound trick behind IVF-PQ indexes: the
# corpus never ships vectors to the scorer, only codes.
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # cells per subspace (codebook = PQ_M x PQ_K centroids)
PQ_ITERS = 2


def _pq_cte(m_count: int, subdim: int, k: int, iters: int) -> str:
    """Unrolled per-subspace Lloyd CTE chains (the _kmeans_cte
    discipline applied to vector slices); final assignment per
    subspace m lives in ``s{m}a{iters}``, its codebook in
    ``s{m}c{iters-1}``."""
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)"
    ]
    for m in range(m_count):
        lo, hi = m * subdim + 1, (m + 1) * subdim
        parts.append(f"s{m}v AS (SELECT vec_id, vec[{lo}:{hi}] AS sv FROM v)")
        parts.append(
            f"s{m}c0 AS (SELECT CAST(vec_id AS INT) AS cluster, sv AS cvec"
            f" FROM s{m}v WHERE vec_id < {k})"
        )
        for i in range(1, iters + 1):
            parts.append(
                f"s{m}a{i} AS (SELECT vec_id, sv, cluster FROM ("
                f" SELECT t.vec_id, t.sv, c.cluster,"
                f" row_number() OVER (PARTITION BY t.vec_id"
                f" ORDER BY {_pq_d2_sql('t.sv', 'c.cvec')}, c.cluster) AS rn"
                f" FROM s{m}v t CROSS JOIN s{m}c{i - 1} c) WHERE rn = 1)"
            )
            if i < iters:
                parts.append(
                    f"s{m}c{i} AS (SELECT cluster, list(cval ORDER BY i) AS cvec FROM ("
                    f" SELECT cluster, i, round(avg(sv[i]), 6) AS cval"
                    f" FROM s{m}a{i}, range(1, {subdim + 1}) t(i)"
                    f" GROUP BY cluster, i) GROUP BY cluster)"
                )
    return "WITH " + ",\n".join(parts)


def _pq_codes_oracle(m_count: int, subdim: int, k: int, iters: int) -> str:
    joins = " ".join(
        f"JOIN s{m}a{iters} q{m} ON q{m}.vec_id = v.vec_id" for m in range(m_count)
    )
    cols = ", ".join(
        f"CAST(q{m}.cluster AS BIGINT) AS code_{m}" for m in range(m_count)
    )
    return f"{_pq_cte(m_count, subdim, k, iters)}\nSELECT v.vec_id, {cols} FROM v {joins}"


def _pq_adc_core(m_count: int, subdim: int, k: int, iters: int, nq: int) -> str:
    """CTE chain through ``adc`` (query_id, neighbor_id, adci) —
    shared by the ADC top-k oracle and the rerank oracle so the
    integer-ADC scoring spec exists exactly once."""
    lut = " UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, {m} AS m, c.cluster,"
        f" CAST(round({_pq_d2_sql('q.sv', 'c.cvec')} * 10000, 0) AS BIGINT) AS d2i"
        f" FROM s{m}v q CROSS JOIN s{m}c{iters - 1} c WHERE q.vec_id < {nq}"
        for m in range(m_count)
    )
    codes = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, cluster FROM s{m}a{iters}"
        for m in range(m_count)
    )
    return f"""{_pq_cte(m_count, subdim, k, iters)},
    lut AS ({lut}),
    codes AS ({codes}),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adci
      FROM codes c JOIN lut l ON l.m = c.m AND l.cluster = c.cluster
      WHERE c.vec_id <> l.query_id
      GROUP BY l.query_id, c.vec_id
    )"""


def _pq_adc_oracle(
    m_count: int, subdim: int, k: int, iters: int, nq: int, topk: int
) -> str:
    return f"""{_pq_adc_core(m_count, subdim, k, iters, nq)}
    SELECT query_id, neighbor_id,
           round(CAST(adci AS DOUBLE) / 10000, 4) AS adc, rk
    FROM (
      SELECT query_id, neighbor_id, adci,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adci, neighbor_id
             ) AS rk
      FROM adc
    )
    WHERE rk <= {topk}
    """


def _pq_codebook(v: DataFrame):
    """Train the PQ codebook and encode the corpus; returns
    (assigned, cent) where assigned = (vec_id, m, cluster, sv) under
    the final codebook and cent = (m, cluster, cvec) IS that codebook
    (eager-checkpointed: it feeds both the final assignment and the
    ADC lookup table as sibling broadcast builds — the IVF-kmeans
    precedent, gotcha #9; it is PQ_M·PQ_K tiny rows).

    One grouped lineage trains ALL subspaces per Lloyd round: the
    subvector explode tags rows with their subspace m, centroids
    broadcast-join on m, and the min_by assignment / centroid update
    group on (vec_id, m) / (m, cluster, pos) — one pass over the
    corpus per iteration regardless of PQ_M, instead of PQ_M
    independent k-means jobs. These are the shared _lloyd/_nearest
    kernels grouped by m (4dp _d2 distances with cluster tiebreak, 6dp
    centroid re-round), so the unrolled DuckDB CTEs replay training
    exactly."""
    sub = v.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("vec", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.m").alias("m"), F.col("e.sv").alias("sv"))
    cent = sub.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cluster"), F.col("sv").alias("cvec")
    )
    by = ("m",)
    cent = _lloyd(sub, cent, "cluster", "sv", PQ_ITERS - 1, by).localCheckpoint(eager=True)
    return _nearest(sub, cent, "cluster", "sv", by), cent


def _pq_lut(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """ADC lookup table (query_id, m, cluster, d2i): each query
    subvector's _d2 to every codebook cell, in exact integer 1e-4
    units so ADC sums are order-free. N_QUERIES·PQ_M·PQ_K rows, built
    from the checkpointed codebook and broadcast by its consumers."""
    return (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qv"))
        .join(F.broadcast(cent), "m")
        .select(
            "query_id",
            "m",
            "cluster",
            F.round(_d2("qv", "cvec") * 10000, 0).cast("bigint").alias("d2i"),
        )
    )


def _pq_adc(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """``(query_id, neighbor_id, adci)``: every query's integer ADC
    sum to every other corpus vector over the broadcast ``_pq_lut``,
    partial-aggregated per (query, vector)."""
    return (
        assigned.select("vec_id", "m", "cluster")
        .join(F.broadcast(_pq_lut(assigned, cent)), ["m", "cluster"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2i").alias("adci"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adci")
    )


def _rerank_sides(v: DataFrame) -> tuple[DataFrame, DataFrame, Column]:
    """The exact rerank's query side ``(query_id, qvec)`` (the first
    N_QUERIES vectors), its corpus side ``(neighbor_id, nvec)`` and
    the squared L2 of a joined pair."""
    qv = _query_vecs(v)
    nv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec"))
    d2 = _dot("nvec", "nvec") - 2 * _dot("qvec", "nvec") + _dot("qvec", "qvec")
    return qv, nv, d2


@register(
    "similarity_pq_codes",
    tags=("similarity", "pq", "quantization", "iterative", "kmeans"),
    oracle=_pq_codes_oracle(PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS),
)
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, code_0..code_{PQ_M-1}): the PQ encoding of every
    corpus vector — 64 floats compressed to PQ_M small ints. The
    oracle replays the full per-subspace Lloyd training in unrolled
    DuckDB CTEs, so the TRAINED codebook (not just the encoding) is
    hash-verified. Scale shape: training is the _lloyd loop over
    (vec_id, m) keys; encoding is one broadcast join + one
    partial-aggregated groupBy; the pivot to wide codes shuffles only
    PQ_M ints per vector."""
    v = _persisted_corpus(spark, sf_dir)
    assigned, _ = _pq_codebook(v)
    return assigned.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("cluster")))
            .cast("bigint")
            .alias(f"code_{m}")
            for m in range(PQ_M)
        ]
    )


@register(
    "similarity_pq_adc_topk",
    tags=("similarity", "pq", "topk", "adc"),
    oracle=_pq_adc_oracle(PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS, N_QUERIES, TOP_K),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, adc, rk): top-{TOP_K} neighbors per
    query vector by asymmetric PQ distance. Distances are summed in
    INTEGER micro-units (each subspace d2 is 4dp-rounded, ×10⁴ →
    exact BIGINT): a 4-term double sum is partition-order dependent
    in its last ulp, and identical codes make exact ADC ties COMMON
    (PQ_K^PQ_M cells over the corpus), so float sums would flip
    row_number ranks between engines — integer sums + neighbor_id
    tiebreak make the ranking order-free (the PageRank micro-unit
    trick).

    Scale shape: the scorer never touches a vector — the lookup
    table is N_QUERIES·PQ_M·PQ_K rows built from the checkpointed
    codebook and broadcast; the corpus side contributes only its
    (vec_id, m, code) rows, partial-aggregated per (query, vec). At
    1000 executors this is a broadcast-join map-side pipeline over
    the code table, followed by a TOP_K window per query on ~|corpus|
    candidate rows per query."""
    v = _persisted_corpus(spark, sf_dir)
    assigned, cent = _pq_codebook(v)
    w = Window.partitionBy("query_id").orderBy("adci", "neighbor_id")
    return (
        _pq_adc(assigned, cent)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("adci").cast("double") / 10000, 4).alias("adc"),
            "rk",
        )
    )


# --------------------------------------------------------------------------
# PQ shortlist + exact rerank — the shape production ANN serving
# actually uses (FAISS IVFPQ + refine): ADC is a cheap coarse scorer
# whose job is CANDIDATE RECALL, not final ranking; the top
# PQ_SHORTLIST candidates are re-scored with exact L2 on the real
# vectors. Pure ADC top-5 recall on the clustered fixture is
# 0.52/0.24 (n=400/4000) — quantization error ~ the within-cluster
# noise scale — while the same codebook's 100-deep shortlist + exact
# rerank reaches 1.00/0.78 (see test_ann_adversarial; the n=4000
# limiter is shortlist depth, which at scale grows with corpus size
# while staying O(queries·shortlist) for the exact scorer).
PQ_SHORTLIST = 100


def _pq_rerank_oracle(
    m_count: int, subdim: int, k: int, iters: int, nq: int, shortlist: int, topk: int
) -> str:
    return f"""{_pq_adc_core(m_count, subdim, k, iters, nq)},
    short AS (
      SELECT query_id, neighbor_id
      FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adci, neighbor_id
               ) AS rn
        FROM adc
      )
      WHERE rn <= {shortlist}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             list_inner_product(n.vec, n.vec)
               - 2 * list_inner_product(q.vec, n.vec)
               + list_inner_product(q.vec, q.vec) AS d2
      FROM short s
      JOIN v q ON q.vec_id = s.query_id
      JOIN v n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, round(d2, 4) AS l2, rk
    FROM (
      SELECT query_id, neighbor_id, d2,
             row_number() OVER (
               PARTITION BY query_id ORDER BY d2, neighbor_id
             ) AS rk
      FROM rer
    )
    WHERE rk <= {topk}
    """


@register(
    "similarity_pq_rerank_topk",
    tags=("similarity", "pq", "topk", "adc", "rerank"),
    oracle=_pq_rerank_oracle(
        PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS, N_QUERIES, PQ_SHORTLIST, TOP_K
    ),
)
def similarity_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, l2, rk): exact-L2 top-{TOP_K} from the
    PQ_SHORTLIST-deep ADC shortlist. End-to-end oracle-checked:
    DuckDB replays codebook training, integer-ADC shortlisting, AND
    the exact rerank.

    Scale shape: the expensive exact scorer touches only
    N_QUERIES·PQ_SHORTLIST pairs — the whole corpus is scored through
    code lookups alone (the ADC pipeline), and the rerank is a
    broadcast of the tiny shortlist against the corpus scan to fetch
    just the shortlisted vectors. At 100 TB the shortlist fetch is a
    point-lookup join (vec_id-bucketed table), not a scan."""
    v = _persisted_corpus(spark, sf_dir)
    assigned, cent = _pq_codebook(v)
    wshort = Window.partitionBy("query_id").orderBy("adci", "neighbor_id")
    short = (
        _pq_adc(assigned, cent)
        .withColumn("rn", F.row_number().over(wshort))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qv, nv, d2 = _rerank_sides(v)
    rer = (
        F.broadcast(short.join(F.broadcast(qv), "query_id"))
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        rer.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("d2", 4).alias("l2"), "rk")
    )




# --------------------------------------------------------------------------
# Sparse tf-idf cosine near-dup pairs — the lexical-vector sibling of
# the dense embedding path, with the WEIGHTED prefix-filter (AllPairs,
# Bayardo et al. WWW'07) making it exact WITHOUT enumerating every
# co-occurring pair: on unit vectors, if every shared term of a pair
# lies outside one of the two prefixes, then by Cauchy–Schwarz
# dp ≤ ‖suffix_a‖·‖b‖ = ‖suffix_a‖ when every shared term lies in
# a's non-indexed suffix — so capping each doc's suffix norm below τ
# guarantees every cos ≥ τ pair shares a term in the SMALLER side's
# prefix, and ONE directed prefix×full join generates a complete
# candidate set. With τ = 0.9 the prefix only needs the top
# 1 − τ² = 19% of each doc's squared mass — its few heaviest
# (highest-idf, most distinctive) terms; boilerplate terms (idf → 0)
# never enter the candidate index. The naive inverted-index join
# (every shared term of every same-lang pair) measured 33s at sf0.1
# and a symmetric τ/2 prefix bound (80% of mass indexed) 21s; this
# asymmetric plan replaces both.
TFIDF_COS_THRESHOLD = 0.9


@register(
    "similarity_tfidf_cosine_pairs",
    tags=("similarity", "tfidf", "cosine", "sparse", "dedup", "prefix-filter"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({TOKENS_SQL}) AS t
      FROM documents
    ),
    tf AS (
      SELECT doc_id, lang, t, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, lang, t
    ),
    df AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY lang, t),
    nl AS (
      SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT tf.doc_id, tf.lang, tf.t,
             tf.tf * ln(CAST(nl.n AS DOUBLE) / df.df) AS w
      FROM tf JOIN df USING (lang, t) JOIN nl USING (lang)
      WHERE df.df < nl.n
    ),
    nrm AS (
      SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
      HAVING sum(w * w) > 0
    ),
    u AS (
      SELECT w.doc_id, w.lang, w.t, w.w / nrm.nrm AS u
      FROM w JOIN nrm USING (doc_id)
    ),
    dotp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.u * b.u) AS cos
      FROM u a JOIN u b ON a.lang = b.lang AND a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, round(cos, 4) AS cosine
    FROM dotp WHERE cos >= {TFIDF_COS_THRESHOLD}
    """,
)
def similarity_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, cosine ≥ τ) over idf-weighted unit term
    vectors, lang-blocked. The quadratic DuckDB oracle enumerates
    every co-occurring pair; the Spark plan must match it through the
    prefix-filtered candidate set — a hash mismatch would mean the
    prefix bound dropped a real pair.

    Plan: tokenize → tf → df window (lang, t) → idf weights (integer
    counts inside one ln) → norm window (doc) → UNIT weights →
    suffix-tail window (per doc, ordered u asc: tail(i) = Σ_{{j≤i}} u²
    in that order) — a term is INDEXED iff its tail ≥ τ², which caps
    the non-indexed suffix norm under τ. The unit frame is
    eager-localCheckpointed (it feeds the prefix stage, the candidate
    join's full side, and the verify stage — sibling consumers of an
    aggregated lineage, gotchas #9/#14); candidates = DIRECTED
    equi-join of a-prefix terms against the FULL unit frame on
    (lang, t) (complete by the Cauchy–Schwarz suffix bound applied
    to the a side; no symmetric second join needed); verify = exact
    dot product on candidate pairs only via two equi-joins into the
    full unit frame. Candidate volume is Σ df_prefix(t)·df(t) over
    DISTINCTIVE terms only — the plan that survives when a naive
    co-occurrence join is quadratic.

    Honest sf0.1 measurement: this synthetic corpus is drawn from a
    tiny shared vocabulary, so it is an ADVERSARIAL instance — 3.1M
    of 12.5M same-lang pairs co-occur, 2.6M pass the directed prefix
    screen (2.2M even pass it in BOTH directions — measured; the
    symmetric intersection was not worth its extra join), and the
    654-pair answer costs ~16s, dominated by the candidate×terms
    verify join. On a real crawl's vocabulary the prefix screen is
    the difference between quadratic and near-linear; the next
    pruning level beyond it is L2AP-style cumulative bounds
    (Anastasiu & Karypis, ICDE'14)."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", "lang", F.explode(tokens()).alias("t"))
    tf = tok.groupBy("doc_id", "lang", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    nl = (
        d.select("lang", "doc_id")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wdf = Window.partitionBy("lang", "t")
    wdoc = Window.partitionBy("doc_id")
    u = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .join(F.broadcast(nl), "lang")
        .filter(F.col("df") < F.col("n"))
        .withColumn(
            "w", F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))
        )
        .withColumn("nrm", F.sqrt(F.sum(F.col("w") * F.col("w")).over(wdoc)))
        .filter(F.col("nrm") > 0)
        .withColumn("u", F.col("w") / F.col("nrm"))
        .select("doc_id", "lang", "t", "u")
        .localCheckpoint(eager=True)
    )
    tau2 = TFIDF_COS_THRESHOLD ** 2
    wtail = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("u").asc(), F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = (
        u.withColumn("tail", F.sum(F.col("u") * F.col("u")).over(wtail))
        .filter(F.col("tail") >= tau2)
        .select("doc_id", "lang", "t")
    )
    cand = (
        canonical_pairs(pref, ["lang", "t"], "doc_id", u)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ua = u.select(F.col("doc_id").alias("doc_a"), "t", F.col("u").alias("u_a"))
    ub = u.select(F.col("doc_id").alias("doc_b"), "t", F.col("u").alias("u_b"))
    cos = (
        cand.join(ua, "doc_a")
        .join(ub, ["doc_b", "t"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("u_a") * F.col("u_b")).alias("cos"))
    )
    return (
        cos.filter(F.col("cos") >= TFIDF_COS_THRESHOLD)
        .select("doc_a", "doc_b", F.round("cos", 4).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Per-dimension feature statistics over the embedding column — the
# feature-scaling / drift-monitoring primitive (z-normalization needs
# exactly these four numbers per dimension). Std is computed from
# explicit (sum, sumsq, n) on BOTH engines — never var_pop/stddev,
# whose internal algorithms (Welford vs naive) differ cross-engine.
@register(
    "embedding_dim_stats",
    tags=("embeddings", "stats", "posexplode", "pipeline"),
    oracle="""
    WITH x AS (
      SELECT CAST(unnest(embedding) AS DOUBLE) AS val,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim
      FROM embeddings
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(val) / count(*) + 1e-9, 6) + 0.0 AS mean,
           round(sqrt(sum(val * val) / count(*)
                      - (sum(val) / count(*)) * (sum(val) / count(*)))
                 + 1e-9, 6) + 0.0 AS std,
           round(min(val), 6) + 0.0 AS min_val,
           round(max(val), 6) + 0.0 AS max_val
    FROM x GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, n, mean, std, min_val, max_val) per embedding dimension.
    Scale shape: posexplode is narrow (n·dim rows at scan speed);
    the per-dim agg partial-aggregates map-side so the ONE shuffle
    carries ≤ dims×partitions rows — independent of corpus size.
    Near-isotropic embeddings put every mean near 0: the +1e-9
    pre-round bias AND the `+ 0.0` signed-zero normalization are both
    load-bearing (gotcha #3); std from explicit moment sums keeps the
    two engines on identical arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "fval")).select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("fval").cast("double").alias("val"),
    )
    n = F.count(F.lit(1))
    mean = F.sum("val") / n
    var = F.sum(F.col("val") * F.col("val")) / n - mean * mean
    return x.groupBy("dim").agg(
        n.cast("bigint").alias("n"),
        (F.round(mean + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean"),
        (F.round(F.sqrt(var) + F.lit(1e-9), 6) + F.lit(0.0)).alias("std"),
        (F.round(F.min("val"), 6) + F.lit(0.0)).alias("min_val"),
        (F.round(F.max("val"), 6) + F.lit(0.0)).alias("max_val"),
    )


# --------------------------------------------------------------------------
# Diagonal-Mahalanobis outliers: z-normalize every dimension with the
# corpus per-dim stats, score each vector by Σ z², surface the top
# outliers — the embedding-space data-quality screen (a corrupt
# encoder output or adversarial doc scores far above the ~dims
# expectation). Stats are ROUNDED TO 6DP ON BOTH ENGINES before the
# rejoin (the k-means centroid-re-round discipline) so the z values
# are the identical doubles cross-engine.
@register(
    "embedding_znorm_outliers",
    tags=("embeddings", "outliers", "mahalanobis", "stats"),
    oracle="""
    WITH x AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS val,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim
      FROM embeddings
    ),
    stats AS (
      SELECT dim,
             round(sum(val) / count(*) + 1e-9, 6) AS mu,
             round(sqrt(sum(val * val) / count(*)
                        - (sum(val) / count(*)) * (sum(val) / count(*)))
                   + 1e-9, 6) AS sd
      FROM x GROUP BY dim
    ),
    scored AS (
      SELECT x.vec_id,
             round(sum(((x.val - s.mu) / s.sd) * ((x.val - s.mu) / s.sd))
                   + 1e-9, 4) AS maha_score
      FROM x JOIN stats s ON s.dim = x.dim
      GROUP BY x.vec_id
    )
    SELECT vec_id, maha_score FROM scored
    ORDER BY maha_score DESC, vec_id
    LIMIT 20
    """,
)
def embedding_znorm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, maha_score): top-20 vectors by diagonal Mahalanobis
    distance. Scale shape: the per-dim stats aggregate is ≤ dims
    rows (partial-aggregated — the embedding_dim_stats shuffle) and
    broadcasts back onto the exploded corpus, so the score pass is
    scan + broadcast-join + one partial-aggregated groupBy(vec_id);
    the top-20 rides TakeOrdered. Ordering is on the ROUNDED score
    with the vec_id tiebreak — raw Σz² differs across engines by
    summation order (~64·ulp), which rank order must not see."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    n = F.count(F.lit(1))
    mean = F.sum("val") / n
    var = F.sum(F.col("val") * F.col("val")) / n - mean * mean
    stats = x.groupBy("dim").agg(
        F.round(mean + F.lit(1e-9), 6).alias("mu"),
        F.round(F.sqrt(var) + F.lit(1e-9), 6).alias("sd"),
    )
    z = (F.col("val") - F.col("mu")) / F.col("sd")
    return (
        x.join(F.broadcast(stats), "dim")
        .groupBy("vec_id")
        .agg(F.round(F.sum(z * z) + F.lit(1e-9), 4).alias("maha_score"))
        .orderBy(F.col("maha_score").desc(), "vec_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Int8 scalar quantization (SQ8) error profile: the memory-bound ANN
# serving path stores embeddings as one int8 per dimension (symmetric
# max-abs scaling, the FAISS SQ8 / vector-DB default — 4x smaller
# than float32, 16x than float64). This op reports, per dimension,
# the scale the quantizer would use and the reconstruction MSE — the
# fidelity screen run before switching retrieval to quantized
# storage (PQ, similarity_pq_*, is the coarser 8-bytes-per-vector
# alternative; SQ8 is the high-fidelity one).
#
# Exactness: val/scale and code*scale are single IEEE ops on
# identical operands cross-engine; each squared error is LOCKED to an
# integer in 1e-12 units BEFORE the sum (the cusum discipline), so
# the per-dim aggregation is order-free and the one output division
# is of exact integers — no bias terms needed anywhere.
SQ8_LEVELS = 127  # symmetric int8: codes in [-127, 127]


@register(
    "embedding_sq8_error",
    tags=("embedding", "quantization", "aggregate"),
    oracle=f"""
    WITH x AS (
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    w AS (
      SELECT dim, val,
             max(abs(val)) OVER (PARTITION BY dim) / {SQ8_LEVELS} AS scale
      FROM x
    ),
    e AS (
      SELECT dim, scale,
             CAST(round((val - round(val / scale) * scale)
                        * (val - round(val / scale) * scale) * 1e12)
                  AS BIGINT) AS e2u
      FROM w
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           round(max(scale), 9) AS scale,
           round(CAST(sum(e2u) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
             AS mse_p12
    FROM e
    GROUP BY dim
    """,
)
def embedding_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, n, scale, mse_p12): per-dimension symmetric-int8
    quantizer scale and reconstruction MSE in 1e-12 units. Scale
    shape: posexplode is narrow (n*dims rows at scan speed); the
    per-dim max-abs runs as a WINDOW over the dim partitioning so the
    downstream groupBy('dim') REUSES the same exchange — one shuffle
    total, never the agg-then-rejoin sibling pair (gotcha #14 window
    rewrite; 64 partitions bound parallelism, acceptable because the
    per-dim stream is a tight codegen'd arithmetic scan). Each error
    term is locked to integer 1e-12 units before summation, so
    partial aggregation is order-free and bit-identical cross-engine;
    round(val/scale) is exact code assignment (|val| <= 127*scale by
    construction — no clipping branch needed)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "fval")).select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("fval").cast("double").alias("val"),
    )
    scale = (
        F.max(F.abs(F.col("val"))).over(Window.partitionBy("dim"))
        / F.lit(SQ8_LEVELS)
    )
    w = x.withColumn("scale", scale)
    err = F.col("val") - F.round(F.col("val") / F.col("scale")) * F.col("scale")
    ee = w.withColumn(
        "e2u", F.round(err * err * F.lit(1e12)).cast("bigint")
    )
    return ee.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("scale"), 9).alias("scale"),
        F.round(
            F.sum("e2u").cast("bigint").cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("mse_p12"),
    )


# --------------------------------------------------------------------------
# Truncation fidelity (the Matryoshka / MRL serving question): if ANN
# serving keeps only the first k dimensions, how much cosine fidelity
# survives? For a prefix truncation the cosine between the full
# vector and its truncated self collapses to the norm ratio
# ||x[:k]|| / ||x||, so the whole screen is one narrow pass. Per-k
# per-vector ratios are locked to 1e-6 integer units before the
# corpus mean (order-free sums — the SQ8/cusum discipline); the
# squared-norm prefix sums are locked to 1e-12 units before the
# ratio, so both engines divide identical integers.
TRUNC_KS = (8, 16, 32)


@register(
    "embedding_truncation_fidelity",
    tags=("embedding", "quantization", "ann", "aggregate"),
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim1,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    s AS (
      SELECT vec_id,
    """
    + ",\n".join(
        f"""        CAST(sum(CASE WHEN dim1 <= {k}
                 THEN CAST(round(val * val * 1e12) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS s{k}"""
        for k in TRUNC_KS
    )
    + """,
        CAST(sum(CAST(round(val * val * 1e12) AS BIGINT)) AS BIGINT) AS sfull
      FROM x GROUP BY vec_id
    ),
    r AS (
      SELECT vec_id,
    """
    + ",\n".join(
        f"        CAST(round(sqrt(CAST(s{k} AS DOUBLE) / sfull) * 1e6) AS BIGINT)"
        f" AS r{k}"
        for k in TRUNC_KS
    )
    + """
      FROM s
    )
    """
    + "\nUNION ALL\n".join(
        f"""    SELECT {k} AS k, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(r{k}) AS BIGINT) / count(*) / 1e6 + 1e-9, 6)
             AS mean_fidelity,
           round(CAST(min(r{k}) AS BIGINT) / 1e6, 6) AS min_fidelity
    FROM r"""
        for k in TRUNC_KS
    ),
)
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n, mean_fidelity, min_fidelity): cosine fidelity of
    keeping only the first k dims — cos(x, x[:k] pad 0) =
    ||x[:k]||/||x||, exact by algebra, so no pairwise math is needed.
    Scale shape: ONE narrow pass (posexplode at scan speed, per-vec
    integer moment sums on the doc partitioning), then a 3-row
    output agg; zero joins. The per-vector ratio is locked to 1e-6
    integer units before the corpus mean, so partial aggregation is
    order-free cross-engine. Serving use: pick the smallest k whose
    mean fidelity clears the product bar, then shard the ANN index
    at dim k (IVF/PQ downstream — similarity_pq_* quantizes what
    remains)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "fval")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim1"),
        F.col("fval").cast("double").alias("val"),
    )
    e2u = F.round(F.col("val") * F.col("val") * F.lit(1e12)).cast("bigint")
    aggs = [
        F.sum(F.when(F.col("dim1") <= k, e2u).otherwise(F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias(f"s{k}")
        for k in TRUNC_KS
    ]
    aggs.append(F.sum(e2u).cast("bigint").alias("sfull"))
    s = x.groupBy("vec_id").agg(*aggs)
    r = s.select(
        "vec_id",
        *[
            F.round(
                F.sqrt(F.col(f"s{k}").cast("double") / F.col("sfull")) * F.lit(1e6)
            )
            .cast("bigint")
            .alias(f"r{k}")
            for k in TRUNC_KS
        ],
    )
    # ONE aggregation pass collects every k's moments, then a stack()
    # unpivots the single row — a 3-way union of per-k aggs would
    # re-execute the whole per-vector lineage per branch (gotcha #9).
    aggs2 = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for k in TRUNC_KS:
        aggs2.append(F.sum(f"r{k}").cast("bigint").alias(f"sum{k}"))
        aggs2.append(F.min(f"r{k}").cast("bigint").alias(f"min{k}"))
    a = r.agg(*aggs2)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), sum{k}, min{k}" for k in TRUNC_KS
    )
    return a.selectExpr(
        "n", f"stack({len(TRUNC_KS)}, {stack_args}) AS (k, sum_r, min_r)"
    ).select(
        "k",
        "n",
        F.round(
            F.col("sum_r").cast("double") / F.col("n") / F.lit(1e6) + F.lit(1e-9),
            6,
        ).alias("mean_fidelity"),
        F.round(F.col("min_r").cast("double") / F.lit(1e6), 6).alias(
            "min_fidelity"
        ),
    )


# --------------------------------------------------------------------------
# K-center greedy coreset (Gonzalez 2-approximation, the diversity
# selection behind active-learning / coreset training-data picks):
# repeatedly take the point FARTHEST from everything selected so
# far. Returns the selected ids in selection order plus the covering
# radius after each pick — the radius curve IS the coverage-vs-budget
# tradeoff a data-selection pipeline reads to choose its budget.
KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
        "s1 AS (SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT v.vec_id, v.vec, {_pq_d2_sql('v.vec', 's1.vec')} AS dmin FROM v, s1)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT vec_id, vec FROM d{r - 1}"
            f" ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"d{r} AS (SELECT d.vec_id, d.vec,"
            f" least(d.dmin, {_pq_d2_sql('d.vec', f's{r}.vec')}) AS dmin"
            f" FROM d{r - 1} d, s{r})"
        )
    selects = [
        f"SELECT {r} AS sel_order, s{r}.vec_id,"
        f" (SELECT max(dmin) FROM d{r}) AS radius2 FROM s{r}"
        for r in range(1, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "sample_kcenter_coreset",
    tags=("sampling", "coreset", "embedding", "iterative"),
    oracle=_kcenter_oracle(KCENTER_K),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_order, vec_id, radius2): KCENTER_K greedy k-center picks
    over the embeddings, radius2 = max over the corpus of the rounded
    squared distance to the nearest selected center AFTER each pick
    (the 2-approx covering radius). Determinism: distances are the
    k-means _d2 kernel — identical sequential fold cross-engine, 4dp
    round — so argmax is on identical values with the
    (dmin DESC, vec_id ASC) composite tiebreak; `least` of
    rounded values and `max` radii introduce no new floats. Scale
    shape: the corpus frame is the LOOP INVARIANT (checkpointed
    once); each round is one broadcast of a 1-ROW center frame + a
    narrow per-row least() + two partial aggs (argmax row, max
    radius) — O(K) corpus passes total with no shuffle beyond the
    1-row aggs; dmin state is checkpointed per round to keep lineage
    flat (iterative-operator rule). At crawl scale the same loop
    runs with the state column stored alongside the vectors."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=True
    )
    seed = (
        v.agg(F.min_by(F.struct("vec_id", "vec"), "vec_id").alias("p"))
        .select(F.col("p.vec_id").alias("vec_id"), F.col("p.vec").alias("cvec"))
        .localCheckpoint(eager=True)
    )
    state = (
        v.crossJoin(F.broadcast(seed.select("cvec")))
        .select("vec_id", "vec", _d2("vec", "cvec").alias("dmin"))
        .localCheckpoint(eager=True)
    )
    out = [
        seed.select(
            F.lit(1).cast("bigint").alias("sel_order"),
            "vec_id",
        ).crossJoin(state.agg(F.max("dmin").alias("radius2")))
    ]
    for r in range(2, KCENTER_K + 1):
        pick = (
            state.agg(
                F.max_by(
                    F.struct("vec_id", "vec", "dmin"),
                    F.struct("dmin", (-F.col("vec_id")).alias("nid")),
                ).alias("p")
            )
            .select(
                F.col("p.vec_id").alias("vec_id"), F.col("p.vec").alias("cvec")
            )
            .localCheckpoint(eager=True)
        )
        state = (
            state.crossJoin(F.broadcast(pick.select("cvec")))
            .select(
                "vec_id", "vec", F.least("dmin", _d2("vec", "cvec")).alias("dmin")
            )
            .localCheckpoint(eager=True)
        )
        out.append(
            pick.select(
                F.lit(r).cast("bigint").alias("sel_order"), "vec_id"
            ).crossJoin(state.agg(F.max("dmin").alias("radius2")))
        )
    res = out[0]
    for f in out[1:]:
        res = res.union(f)
    return res


# --------------------------------------------------------------------------
# Reciprocal-rank fusion (RRF) — the standard hybrid-retrieval merge
# (Cormack et al.): fuse a LEXICAL ranking (BM25 against the query
# document's tokens) with a SEMANTIC ranking (embedding cosine to the
# query document's vector) as sum over legs of 1/(RRF_K + rank).
# This is the RAG-serving shape: neither leg alone survives vocab
# mismatch (lexical) or fine-grained entity queries (semantic); the
# rank-space merge needs no score calibration between legs. The
# query is doc 0 in BOTH legs (vec_id == doc_id by testdata
# construction — the hybrid_neardup_scores correspondence).
RRF_K = 60
RRF_TOP = 50
RRF_SCALE = 10**12  # 1/(k+rank) in exact integer units: SCALE div (k+rank)
# The lexical leg scores with the BM25 of text_bm25_topdocs
# (functions/text.py).

_RRF_ORACLE = f"""
    WITH {BM25_TF_SQL},
    qterms AS (SELECT DISTINCT tok FROM tok WHERE doc_id = 0),
    {BM25_SCORED_SQL},
    lex AS (
      SELECT doc_id, rk FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rk
        FROM scored WHERE doc_id <> 0
      ) WHERE rk <= {RRF_TOP}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    q AS (SELECT vec FROM v WHERE vec_id = 0),
    sem_scored AS (
      SELECT c.vec_id, round(list_cosine_similarity(c.vec, q.vec), 4) AS cos
      FROM v c, q WHERE c.vec_id <> 0
    ),
    sem AS (
      SELECT vec_id, rk FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
        FROM sem_scored
      ) WHERE rk <= {RRF_TOP}
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
             CAST(coalesce(l.rk, 0) AS BIGINT) AS lex_rank,
             CAST(coalesce(s.rk, 0) AS BIGINT) AS sem_rank,
             CAST(coalesce({RRF_SCALE} // ({RRF_K} + l.rk), 0)
                  + coalesce({RRF_SCALE} // ({RRF_K} + s.rk), 0) AS BIGINT) AS rrf_units
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_units,
           CAST(row_number() OVER (ORDER BY rrf_units DESC, doc_id) AS BIGINT) AS fused_rank
    FROM fused
"""


@register(
    "similarity_rrf_fusion",
    tags=("similarity", "retrieval", "hybrid", "rrf"),
    oracle=_RRF_ORACLE,
)
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lex_rank, sem_rank, rrf_units, fused_rank): RRF merge
    of the BM25-vs-doc-0 lexical top-RRF_TOP and the cosine-vs-vec-0
    semantic top-RRF_TOP; rank 0 = absent from that leg. Determinism:
    each leg ranks on a ROUNDED score with an id tiebreak (the
    text_bm25_topdocs / similarity_topk_brute disciplines), and the
    fusion itself is PURE INTEGER — RRF_SCALE div (RRF_K + rank)
    per leg, summed — so there is no float anywhere past the
    per-leg rounding and the fused order is tolerance-free
    cross-engine. Scale shape: the lexical leg is the bm25_topdocs
    plan (one tokenize lineage, dlen/df as windows on the tf exchange,
    broadcast query terms + scalar stats, map-side partial agg); the
    semantic leg broadcasts ONE query row over a narrow projection;
    both legs end in a bounded top-N, so the full-outer join and the
    final rank window touch <= 2*RRF_TOP rows — driver-sized by
    construction, like every serving-side fusion."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = bm25_tf(tok)
    qterms = tok.filter(F.col("doc_id") == 0).select("tok").distinct()
    lex_scored = (
        tf.filter(F.col("doc_id") != 0)
        .join(qterms, "tok", "left_semi")
        .crossJoin(F.broadcast(bm25_stats(tf)))
        .groupBy("doc_id")
        .agg(F.sum(bm25_weight()).alias("score"))
    )
    w_lex = Window.orderBy(F.round("score", 4).desc(), "doc_id")
    lex = (
        lex_scored.withColumn("rk", F.row_number().over(w_lex))
        .filter(F.col("rk") <= RRF_TOP)
        .select("doc_id", F.col("rk").alias("lex_rk"))
    )

    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    q = v.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    sem_scored = (
        v.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_cos("vec", "qvec"), 4).alias("cos"),
        )
    )
    w_sem = Window.orderBy(F.col("cos").desc(), "vec_id")
    sem = (
        sem_scored.withColumn("rk", F.row_number().over(w_sem))
        .filter(F.col("rk") <= RRF_TOP)
        .select("vec_id", F.col("rk").alias("sem_rk"))
    )

    fused = (
        lex.join(sem, lex.doc_id == sem.vec_id, "full_outer")
        .select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            F.coalesce(F.col("lex_rk").cast("bigint"), F.lit(0)).alias(
                "lex_rank"
            ),
            F.coalesce(F.col("sem_rk").cast("bigint"), F.lit(0)).alias(
                "sem_rank"
            ),
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + lex_rk)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + sem_rk)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_units"),
        )
    )
    w_f = Window.orderBy(F.col("rrf_units").desc(), "doc_id")
    return fused.withColumn(
        "fused_rank", F.row_number().over(w_f).cast("bigint")
    )


# --------------------------------------------------------------------------
# kNN label-agreement audit — the label-noise screen ("confident
# learning" lite): for a fixed audit panel of vectors, how often do
# the 5 cosine-nearest neighbors carry the SAME label? Labels whose
# members sit in other labels' neighborhoods are candidates for
# relabeling or exclusion before training. The panel is BOUNDED BY
# CONSTRUCTION (vec_id < KNN_AUDIT_N, the similarity_topk_brute
# pattern) so the broadcast side never grows with the corpus — a
# proportional sample would make the broadcast fact-sized and the
# scan quadratic; at crawl scale a bigger panel rides the IVF/PQ
# shortlist paths instead of this exact scan.
KNN_AUDIT_N = 50
KNN_AGREE_K = 5


@register(
    "embedding_label_agreement",
    tags=("similarity", "labels", "quality", "knn"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {KNN_AUDIT_N}),
    scored AS (
      SELECT q.vec_id AS qid, q.label AS qlabel, c.label AS clabel,
             round(list_cosine_similarity(q.vec, c.vec), 4) AS cos,
             c.vec_id AS nid
      FROM q JOIN v c ON c.vec_id <> q.vec_id
    ),
    top AS (
      SELECT qid, qlabel, clabel FROM (
        SELECT qid, qlabel, clabel,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        FROM scored
      ) WHERE rk <= {KNN_AGREE_K}
    )
    SELECT qlabel AS label,
           CAST(count(DISTINCT qid) AS BIGINT) AS n_audited,
           CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           round(CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
                 / ({KNN_AGREE_K} * count(DISTINCT qid)), 4) AS agreement
    FROM top GROUP BY 1
    """,
)
def embedding_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_audited, n_matches, agreement): per-label mean
    same-label fraction among the KNN_AGREE_K cosine-nearest
    neighbors of the fixed audit panel. Determinism: neighbors rank
    on the 4dp-ROUNDED cosine with a neighbor-id tiebreak (the
    brute-force discipline plus pre-rank rounding); matches are
    integer counts and the final agreement is ONE integer/integer
    double division. Scale shape: the panel broadcasts (bounded by
    construction); the corpus side is one narrow projection scan;
    per-query top-k partial-aggregates via WindowGroupLimit heaps;
    the label agg touches |panel|*k rows. On the near-isotropic
    driver embeddings agreement sits near chance (~1/10) — the
    pytest gate pins the bounds, a clustered corpus drives it
    toward 1."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    q = v.filter(F.col("vec_id") < KNN_AUDIT_N).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col("label").alias("clabel"),
            F.round(_cos("vec", "qvec"), 4).alias("cos"),
            F.col("vec_id").alias("nid"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    top = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_AGREE_K)
    )
    match = F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
    return (
        top.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.countDistinct("qid").cast("bigint").alias("n_audited"),
            F.sum(match).cast("bigint").alias("n_matches"),
        )
        .select(
            "label",
            "n_audited",
            "n_matches",
            F.round(
                F.col("n_matches").cast("double")
                / (KNN_AGREE_K * F.col("n_audited")),
                4,
            ).alias("agreement"),
        )
    )


# --------------------------------------------------------------------------
# Embedding diversity WITHOUT pairs — the Gram identity: for
# unit-normalized vectors, sum of all pairwise cosines =
# ||sum of vectors||^2 - n, so mean pairwise cosine needs ONE
# aggregation pass and never enumerates a pair. This is the
# diversity/redundancy readout a data-selection pipeline tracks per
# slice (low mean cosine = diverse slice, high = redundant — the
# complement of the dedup family at population level). Determinism:
# normalized components are QUANTIZED to 1e6-unit integers before
# summing, so every per-dim vector-sum S_d is an exact order-free
# integer; S_d^2 and the 64-term dim fold then run on identical
# doubles (bias + 6dp round for the fold's order).
DIVERSITY_QUANT = 10**6


@register(
    "embedding_diversity_gram",
    tags=("similarity", "diversity", "aggregate"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, i,
             CAST(round(x / sqrt(nrm) * {DIVERSITY_QUANT}) AS BIGINT) AS qx
      FROM (
        SELECT vec_id, label, generate_subscripts(vec, 1) AS i,
               unnest(vec) AS x,
               list_aggregate(list_transform(vec, y -> y * y), 'sum') AS nrm
        FROM v
      )
    ),
    dims AS (
      SELECT label, i,
             CAST(sum(qx) AS BIGINT) AS s_d,
             CAST(sum(qx * qx) AS BIGINT) AS ss_d
      FROM q GROUP BY 1, 2
    ),
    lab AS (
      SELECT label,
             sum(CAST(s_d AS DOUBLE) * s_d) AS gram,
             sum(CAST(ss_d AS DOUBLE)) AS selfsum
      FROM dims GROUP BY 1
    ),
    n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1)
    SELECT n.label, n.n,
           round((lab.gram - lab.selfsum)
                 / (CAST(n.n AS DOUBLE) * (n.n - 1) * {DIVERSITY_QUANT} * {DIVERSITY_QUANT})
                 + 1e-9, 6) AS mean_pairwise_cos
    FROM lab JOIN n USING (label)
    """,
)
def embedding_diversity_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n, mean_pairwise_cos): mean pairwise cosine within
    each label slice via the Gram identity — ONE aggregation pass,
    no pair join anywhere (sum of pairwise dots of unit vectors =
    ||Sigma v||^2 - Sigma||v||^2). The subtracted self-term uses the
    QUANTIZED norms (not exactly n) so the identity stays exact in
    the quantized space. Determinism: per-dim sums are exact
    integers (order-free); only the 64-term squared-sum fold is
    float, covered by the +1e-9 bias before the 6dp round. Scale
    shape: posexplode at scan speed -> one (label, dim) partial
    aggregation (64*|labels| groups) -> |labels| rows; cost is one
    corpus pass regardless of n, where the naive pairwise mean is
    O(n^2) — THE reason this shape exists. Quantization error is
    ~1e-6 per component, far under the 6dp output scale."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    q = v.select(
        "label",
        F.posexplode(
            F.transform(
                "vec",
                lambda x: F.round(
                    x / F.sqrt(_dot("vec", "vec")) * DIVERSITY_QUANT, 0
                ).cast("bigint"),
            )
        ).alias("i", "qx"),
    )
    dims = q.groupBy("label", "i").agg(
        F.sum("qx").cast("bigint").alias("s_d"),
        F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("ss_d"),
    )
    lab = dims.groupBy("label").agg(
        F.sum(F.col("s_d").cast("double") * F.col("s_d")).alias("gram"),
        F.sum(F.col("ss_d").cast("double")).alias("selfsum"),
    )
    n = v.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return lab.join(n, "label").select(
        "label",
        "n",
        F.round(
            (F.col("gram") - F.col("selfsum"))
            / (
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * DIVERSITY_QUANT
                * DIVERSITY_QUANT
            )
            + F.lit(1e-9),
            6,
        ).alias("mean_pairwise_cos"),
    )


# --------------------------------------------------------------------------
# Layered dedup funnel — the governance readout every corpus-cleaning
# run publishes: documents removed at each successive layer
# (exact digest -> n-gram Jaccard -> embedding cosine), each layer
# operating on the previous layer's survivors. Removal rule within a
# near-dup layer is MIN-ID ANCHOR (a doc is removed iff it pairs
# with a smaller-id doc from the layer's input): one join,
# fully SQL-expressible — unlike connected-components collapse
# (dedup_clusters/pipeline_clean_corpus), which is the iterative,
# rows-only sibling of this report. The thresholds/shingles are the
# shared constants, so this funnel counts exactly what the
# individual dedup queries emit.
@register(
    "dedup_funnel_report",
    tags=("dedup", "pipeline", "report", "jaccard", "embedding"),
    oracle=f"""
    WITH s1 AS MATERIALIZED (
      {EXACT_KEEP_SQL}
    ),
    d1 AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text FROM documents d JOIN s1 USING (doc_id)
    ),
    shingled AS MATERIALIZED (
      SELECT doc_id, lang,
             {SHINGLE_SET_SQL}
      FROM d1
      WHERE {SHINGLE_MIN_SQL}
    ),
    jp AS MATERIALIZED (
      {SHINGLE_PAIRS_SQL}
    ),
    rm2 AS MATERIALIZED (
      SELECT DISTINCT doc_b AS doc_id FROM jp
      WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= {JACCARD_THRESHOLD}
    ),
    s2 AS MATERIALIZED (
      SELECT s1.doc_id FROM s1 LEFT JOIN rm2 USING (doc_id)
      WHERE rm2.doc_id IS NULL
    ),
    v AS MATERIALIZED (
      SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS vec
      FROM embeddings e JOIN s2 ON s2.doc_id = e.vec_id
    ),
    rm3 AS MATERIALIZED (
      SELECT DISTINCT b.vec_id AS doc_id
      {_near_dup_sql()}
    ),
    n AS (
      SELECT (SELECT count(*) FROM documents) AS n0,
             (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM rm3) AS r3
    )
    SELECT 'exact' AS layer, CAST(n0 AS BIGINT) AS n_in,
           CAST(n0 - n1 AS BIGINT) AS n_removed, CAST(n1 AS BIGINT) AS n_out
    FROM n
    UNION ALL
    SELECT 'ngram_jaccard', CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT),
           CAST(n2 AS BIGINT) FROM n
    UNION ALL
    SELECT 'embedding_cosine', CAST(n2 AS BIGINT), CAST(r3 AS BIGINT),
           CAST(n2 - r3 AS BIGINT) FROM n
    """,
)
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layer, n_in, n_removed, n_out): the three-layer dedup funnel
    under the min-id-anchor rule; every number is an exact integer
    count over shared-constant thresholds. Scale shape: layer-1
    survivors and layer-2 survivors are eager-checkpointed — each
    feeds SIBLING consumers inside this single plan (its own count
    branch AND the next layer's pair join; un-checkpointed, the union
    of aggregates re-executes the shared lineage per branch, gotcha
    #9 sibling case); the jaccard layer rides the inverted-index pair
    plan, the embedding layer the label-blocked self-join
    (runtime exchange reuse), and the output is 3 rows. The rows-only
    CC-collapse pipeline (pipeline_clean_corpus) is the
    cluster-exact sibling; this report trades transitive collapse
    for SQL-checkable counts."""
    d = load_table(spark, sf_dir, "documents")
    s1 = exact_keepers(d, F.sha2(F.col("text"), 256), "lang", "text").localCheckpoint(
        eager=True
    )
    pairs = ngram_jaccard_pairs(s1)
    rm2 = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    s2 = (
        s1.select("doc_id")
        .join(rm2, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    v2 = _with_vec(load_table(spark, sf_dir, "embeddings")).join(
        s2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    rm3 = _near_dup_pairs(v2).select(F.col("b.vec_id").alias("doc_id")).distinct()
    n0 = d.count()
    n1 = s1.count()
    n2 = s2.count()
    r3 = rm3.count()
    rows = [
        ("exact", n0, n0 - n1, n1),
        ("ngram_jaccard", n1, n1 - n2, n2),
        ("embedding_cosine", n2, r3, n2 - r3),
    ]
    return spark.createDataFrame(
        rows, "layer string, n_in long, n_removed long, n_out long"
    )


# --------------------------------------------------------------------------
# Simplified silhouette — the cluster-quality readout for the k-means
# family: per point, a = distance to OWN final centroid, b = distance
# to the NEAREST OTHER centroid, s = (b-a)/max(a,b); per-cluster mean
# s near 1 = tight well-separated cells, near 0 = overlapping cells
# (the honest reading on near-isotropic corpora), negative = points
# closer to a foreign centroid than their own. Centroid-based
# "simplified" silhouette is the standard scale form — O(nK) vs the
# O(n^2) pairwise definition.
def _silhouette_oracle(k: int, iters: int, dim: int) -> str:
    d2 = f"greatest({_pq_d2_sql('a.vec', 'c.cvec')}, 0)"
    return (
        _kmeans_cte(k, iters, dim)
        + f""",
    c_fin AS (SELECT cluster, list(cval ORDER BY i) AS cvec FROM (
      SELECT cluster, i, round(avg(vec[i]), 6) AS cval
      FROM a{iters}, range(1, {dim + 1}) t(i)
      GROUP BY cluster, i) GROUP BY cluster),
    d AS (
      SELECT a.vec_id, a.cluster, c.cluster AS ocl, sqrt({d2}) AS dist
      FROM a{iters} a CROSS JOIN c_fin c
    ),
    s AS (
      SELECT vec_id, cluster,
             max(CASE WHEN ocl = cluster THEN dist END) AS a_dist,
             min(CASE WHEN ocl <> cluster THEN dist END) AS b_dist
      FROM d GROUP BY 1, 2
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_points,
           round(avg(coalesce((b_dist - a_dist)
                              / nullif(greatest(a_dist, b_dist), 0), 0))
                 + 1e-9, 4) + 0.0 AS mean_silhouette,
           round(avg(a_dist) + 1e-9, 4) AS mean_intra_dist
    FROM s GROUP BY 1
    """
    )


@register(
    "cluster_silhouette_simplified",
    tags=("similarity", "clustering", "kmeans", "evaluation"),
    oracle=_silhouette_oracle(K_MEANS_K, K_MEANS_ITERS, DIM),
)
def cluster_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster, n_points, mean_silhouette, mean_intra_dist):
    simplified (centroid-based) silhouette per final k-means cell.
    Determinism: distances reuse the kmeans-locked discipline (d2
    rounded 4dp — clamped at 0 for own-centroid cancellation — then
    one correctly-rounded sqrt); s values are irrational ratios so
    the 4dp round never sits on a boundary, and the per-cluster avg
    fold divergence is ~n*ulp, far under the +1e-9 bias; +0.0 guards
    the signed zero a near-perfectly-overlapping cell can produce
    (gotcha #3). Scale shape: the assigned frame is
    eager-checkpointed (it feeds the final-centroid aggregate AND
    the distance scoring — identical AGGREGATED subtrees never
    runtime-reuse, gotcha #14 r7 refinement, the
    dedup_semantic_kmeans precedent); scoring is a broadcast cross
    join against K final centroids with map-side partial min/max —
    O(nK) scored rows, no pair enumeration."""
    v = _persisted_corpus(spark, sf_dir)
    assigned = _lloyd_assign(v, K_MEANS_K, K_MEANS_ITERS).localCheckpoint(
        eager=True
    )
    cent_fin = _centroids(assigned, "cluster", "vec").withColumnRenamed("cluster", "ocl")
    d2 = F.greatest(_d2("vec", "cvec"), F.lit(0.0))
    scored = assigned.crossJoin(F.broadcast(cent_fin)).select(
        "vec_id", "cluster", "ocl", F.sqrt(d2).alias("dist")
    )
    s = scored.groupBy("vec_id", "cluster").agg(
        F.max(F.when(F.col("ocl") == F.col("cluster"), F.col("dist"))).alias(
            "a_dist"
        ),
        F.min(F.when(F.col("ocl") != F.col("cluster"), F.col("dist"))).alias(
            "b_dist"
        ),
    )
    sil = F.coalesce(
        (F.col("b_dist") - F.col("a_dist"))
        / F.nullif(F.greatest("a_dist", "b_dist"), F.lit(0.0)),
        F.lit(0.0),
    )
    return s.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (F.round(F.avg(sil) + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "mean_silhouette"
        ),
        F.round(F.avg("a_dist") + F.lit(1e-9), 4).alias("mean_intra_dist"),
    )


# --------------------------------------------------------------------------
# Clip calibration — the feature-preprocessing readout: per embedding
# dimension, the exact p01/p99 quantiles and how many values each
# clip bound would truncate. Downstream normalizers clip to these
# bounds before scaling; the n_below/n_above counts say how lossy
# that is per dimension. Exact two-pass percentile (the
# events_winsorize_stats pattern — Spark `percentile` and DuckDB
# `quantile_cont` are bit-exact on doubles, verified r7).
@register(
    "embedding_clip_calibration",
    tags=("embedding", "quantile", "calibration"),
    oracle="""
    WITH x AS (
      SELECT t.i AS pos, CAST(e.embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings e, range(0, 64) t(i)
    ),
    q AS (
      SELECT pos, quantile_cont(val, 0.01) AS lo, quantile_cont(val, 0.99) AS hi
      FROM x GROUP BY 1
    )
    SELECT x.pos,
           round(q.lo, 6) AS p01,
           round(q.hi, 6) AS p99,
           CAST(sum(CASE WHEN x.val < q.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN x.val > q.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
    FROM x JOIN q ON q.pos = x.pos
    GROUP BY 1, 2, 3
    """,
)
def embedding_clip_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, p01, p99, n_below, n_above): exact clip bounds and
    truncation counts per dimension. Determinism: both engines
    compute the identical interpolated quantile on the identical
    double multiset (bit-exact, the r7 winsorize finding), and the
    clip comparison uses the UNROUNDED bound on both sides — counts
    are then integers; bounds round 6dp at output only. Scale shape:
    posexplode at scan speed, ONE shuffle on pos for the quantile
    (64 groups), then the counting pass re-joins the 64-row bound
    frame BROADCAST onto a second scan — two scans total, no
    per-partition sort of the full corpus."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    x = v.select(F.posexplode("vec").alias("pos", "val"))
    q = x.groupBy("pos").agg(
        F.expr("percentile(val, 0.01)").alias("lo"),
        F.expr("percentile(val, 0.99)").alias("hi"),
    )
    j = x.join(F.broadcast(q), "pos")
    return j.groupBy("pos").agg(
        F.round(F.first("lo"), 6).alias("p01"),
        F.round(F.first("hi"), 6).alias("p99"),
        F.sum(F.when(F.col("val") < F.col("lo"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
        F.sum(F.when(F.col("val") > F.col("hi"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
    )


# --------------------------------------------------------------------------
# IVF-PQ composed pipeline — the full production ANN architecture in
# one plan: trained IVF cells bound the candidate set (a query only
# meets vectors in its N_PROBE nearest cells), integer ADC scores
# every candidate from PQ codes alone (no vectors ship to the
# scorer), and the PQ_SHORTLIST survivors are reranked with exact
# L2. This is the FAISS IVFPQ layout re-expressed as three bounded
# DataFrame joins. Rows-only (trained cell + codebook layout is
# engine-specific); recall gated in pytest against the exact
# brute-force anchor at two SFs.
@register(
    "similarity_topk_ivfpq",
    oracle=None,  # composed trained layout; recall pinned in pytest
    tags=("similarity", "topk", "ivf", "pq", "ann", "pipeline"),
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, l2, rk): exact-L2 top-{TOP_K} from the
    IVF-bounded, ADC-shortlisted candidate set.

    Scale shape: IVF training + PQ training each ride their shared
    kernels (_ivf_trained_centroids / _pq_codebook — both
    eager-checkpoint their tiny output because it feeds sibling
    broadcast builds, gotcha #9). Candidate generation is an
    equi-join on cell (shuffle O(n), never O(n^2)); ADC touches only
    candidates and sums PQ_M integer lookups (order-free); the exact
    scorer sees at most N_QUERIES*PQ_SHORTLIST pairs. Determinism:
    trained cells/codebooks follow the kmeans rounding discipline,
    ADC is integer, rerank ties break on neighbor_id."""
    v = _persisted_corpus(spark, sf_dir)
    ivf_cent = _ivf_trained_centroids(v)
    assigned, pq_cent = _pq_codebook(v)

    corpus = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec_n")
    )
    corpus_cells = _ranked_cells(corpus, ivf_cent, "cvec_n", 1).select(
        "neighbor_id", "cell"
    )
    qv, nv, d2 = _rerank_sides(v)
    query_cells = _ranked_cells(qv, ivf_cent, "qvec", N_PROBE).select(
        "query_id", "cell"
    )
    cand = (
        F.broadcast(query_cells)
        .join(corpus_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    lut = _pq_lut(assigned, pq_cent)
    codes = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "m", "cluster"
    )
    wshort = Window.partitionBy("query_id").orderBy("adci", "neighbor_id")
    short = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "m", "cluster"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2i").alias("adci"))
        .withColumn("rn", F.row_number().over(wshort))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )

    wr = Window.partitionBy("query_id").orderBy("l2", "neighbor_id")
    return (
        F.broadcast(short)
        .join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.sqrt(F.greatest(d2, F.lit(0.0))), 4).alias("l2"),
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOP_K)
    )


# --------------------------------------------------------------------------
# MMR diversified rerank — Maximal Marginal Relevance over each
# query's candidate pool: greedily pick the candidate maximizing
# lambda*sim(q, d) - (1-lambda)*max_sim(d, already-picked). The
# serving-side diversification step after any top-k retrieval (RRF,
# IVF-PQ, brute): near-duplicate hits crowd a plain top-k, MMR
# trades a little relevance for coverage. ORACLE-PAIRED despite the
# greedy loop: every similarity is rounded to 6dp BEFORE the argmax
# and ties break on neighbor_id (the kmeans rounding discipline), so
# the unrolled DuckDB CTE replays each greedy step exactly.
MMR_LAMBDA = 0.7
MMR_ONE_MINUS = 0.3  # explicit literal shared by both engines (1-0.7
# in float is 0.30000000000000004 — don't interpolate an expression)
MMR_POOL = 20
MMR_K = 5


def _mmr_oracle(nq: int, pool: int, k: int, lam: float, oml: float) -> str:
    cos = (
        "round(list_inner_product({a}, {b})"
        " / (sqrt(list_inner_product({a}, {a}))"
        " * sqrt(list_inner_product({b}, {b}))), 6)"
    )
    qc = cos.format(a="q.vec", b="n.vec")
    parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
        f"""pool AS (
          SELECT query_id, nid, nvec, qcos FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS nid, n.vec AS nvec,
                   {qc} AS qcos,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {qc} DESC, n.vec_id) AS rn
            FROM v q JOIN v n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {nq}
          ) WHERE rn <= {pool})""",
        f"""s1 AS (
          SELECT query_id, nid, nvec, qcos, 1 AS mmr_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY qcos DESC, nid) AS rn FROM pool
          ) WHERE rn = 1)""",
    ]
    psim = cos.format(a="p.nvec", b="s.nvec")
    for r in range(2, k + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""sc{r} AS (
          SELECT p.query_id, p.nid, p.nvec, p.qcos,
                 round({lam} * p.qcos - {oml} * max({psim}), 6) AS score
          FROM pool p JOIN {prev} s ON s.query_id = p.query_id
          WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                            WHERE x.query_id = p.query_id AND x.nid = p.nid)
          GROUP BY p.query_id, p.nid, p.nvec, p.qcos)""",
        )
        parts.append(
            f"""s{r} AS (
          SELECT query_id, nid, nvec, qcos, mmr_rank FROM {prev}
          UNION ALL
          SELECT query_id, nid, nvec, qcos, {r} AS mmr_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, nid) AS rn FROM sc{r}
          ) WHERE rn = 1)""",
        )
    return (
        ",\n".join(parts)
        + f"""
    SELECT query_id, nid AS neighbor_id,
           CAST(mmr_rank AS BIGINT) AS mmr_rank, qcos
    FROM s{k}
    """
    )


@register(
    "similarity_mmr_rerank",
    tags=("similarity", "mmr", "rerank", "iterative", "serving"),
    oracle=_mmr_oracle(N_QUERIES, MMR_POOL, MMR_K, MMR_LAMBDA, MMR_ONE_MINUS),
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, mmr_rank, qcos): MMR_K diversified
    picks per query from the MMR_POOL-deep cosine pool.
    Determinism: pool ranking uses 6dp-rounded cosines with id
    tiebreaks; every greedy step compares
    6dp-rounded scores with id tiebreak — the unrolled DuckDB CTE
    replays all MMR_K steps bit-for-bit. Scale shape: the pool is
    built by ONE label-free broadcast of the {N_QUERIES} query
    vectors against the corpus scan + a per-query window (the
    topk_brute shape); the greedy loop then runs entirely on the
    N_QUERIES x MMR_POOL pool frame — eager-checkpointed once (each
    round joins pool against the growing selected set, sibling
    consumers of one tiny lineage, gotcha #9) — so iteration cost is
    independent of corpus size."""
    v = _persisted_corpus(spark, sf_dir)
    q = _query_vecs(v)
    n = v.select(F.col("vec_id").alias("nid"), F.col("vec").alias("nvec"))
    qcos = F.round(_cos("qvec", "nvec"), 6)
    wp = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(), "nid")
    pool = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", "nid", "nvec", qcos.alias("qcos"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    sel = (
        pool.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("mmr_rank", F.lit(1))
    )
    psim = F.round(_cos("p.nvec", "s.nvec"), 6)
    for r in range(2, MMR_K + 1):
        p = pool.alias("p")
        s = sel.alias("s")
        sc = (
            p.join(s, F.col("p.query_id") == F.col("s.query_id"))
            .select(
                F.col("p.query_id").alias("query_id"),
                F.col("p.nid").alias("nid"),
                F.col("p.nvec").alias("nvec"),
                F.col("p.qcos").alias("qcos"),
                psim.alias("ps"),
            )
            .groupBy("query_id", "nid", "nvec", "qcos")
            .agg(F.max("ps").alias("maxsim"))
            .join(
                sel.select("query_id", "nid"), ["query_id", "nid"], "left_anti"
            )
            .withColumn(
                "score",
                F.round(
                    F.lit(MMR_LAMBDA) * F.col("qcos")
                    - F.lit(MMR_ONE_MINUS) * F.col("maxsim"),
                    6,
                ),
            )
        )
        ws = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "nid"
        )
        nxt = (
            sc.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("query_id", "nid", "nvec", "qcos")
            .withColumn("mmr_rank", F.lit(r))
        )
        sel = sel.union(nxt).localCheckpoint(eager=True)
    return sel.select(
        "query_id",
        F.col("nid").alias("neighbor_id"),
        F.col("mmr_rank").cast("bigint").alias("mmr_rank"),
        "qcos",
    )


# --------------------------------------------------------------------------
# Hard-negative mining: for each anchor in the bounded audit panel,
# the top-k most-similar vectors with a DIFFERENT label — the
# contrastive-training staple (the highest-cosine wrong-label
# examples are exactly the negatives a retrieval model must learn to
# separate). Same bounded-panel/broadcast discipline as
# embedding_label_agreement; at crawl scale the mining runs over the
# IVF/PQ shortlist instead of the exact scan.
HARDNEG_K = 5


@register(
    "sample_hard_negatives",
    tags=("similarity", "sampling", "contrastive", "knn"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {KNN_AUDIT_N}),
    scored AS (
      SELECT q.vec_id AS qid, q.label AS anchor_label,
             c.label AS neg_label, c.vec_id AS neg_id,
             round(list_cosine_similarity(q.vec, c.vec), 4) AS cos
      FROM q JOIN v c ON c.vec_id <> q.vec_id AND c.label <> q.label
    )
    SELECT qid, anchor_label, CAST(rk AS BIGINT) AS rk, neg_id, neg_label,
           cos + 0.0 AS cos
    FROM (
      SELECT qid, anchor_label, neg_id, neg_label, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neg_id)
               AS rk
      FROM scored
    )
    WHERE rk <= {HARDNEG_K}
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, anchor_label, rk, neg_id, neg_label, cos): the HARDNEG_K
    highest-cosine different-label vectors per panel anchor.
    Determinism: rank on the 4dp-rounded cosine with a neg_id
    tiebreak (the brute-force discipline); the rounded cosine is an
    OUTPUT here, so it carries the +0.0 signed-zero guard on both
    engines. Scale shape: the panel broadcasts (bounded by
    construction, never corpus-proportional); one narrow corpus
    scan; per-anchor top-k collapses via the rank window's group
    limit."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    q = v.filter(F.col("vec_id") < KNN_AUDIT_N).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("anchor_label"),
        F.col("vec").alias("qvec"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") != F.col("anchor_label"))
        )
        .select(
            "qid",
            "anchor_label",
            F.col("label").alias("neg_label"),
            F.col("vec_id").alias("neg_id"),
            F.round(_cos("vec", "qvec"), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "neg_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HARDNEG_K)
        .select(
            "qid",
            "anchor_label",
            F.col("rk").cast("bigint").alias("rk"),
            "neg_id",
            "neg_label",
            (F.col("cos") + F.lit(0.0)).alias("cos"),
        )
    )


# --------------------------------------------------------------------------
# Nearest-centroid (Rocchio) classifier on embeddings, evaluated on a
# held-out half — the embedding-space sibling of
# text_naive_bayes_langid. Determinism stack: centroids from EXACT
# integer quantized dim sums (the diversity-gram discipline) so each
# centroid coordinate is one integer division (identical doubles);
# test-vs-centroid distances are 4dp-locked with a label tiebreak
# before the argmin (the kmeans discipline).
NC_QUANT = 1_000_000


@register(
    "similarity_centroid_classifier",
    tags=("similarity", "classifier", "train-eval", "knn"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
      FROM embeddings
    ),
    tx AS (
      SELECT vec_id, label,
             unnest(vec) AS x,
             generate_subscripts(vec, 1) AS pos
      FROM v
    ),
    train AS (
      SELECT label, pos,
             CAST(sum(CAST(round(x * {NC_QUANT}) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM tx WHERE vec_id % 2 = 0
      GROUP BY 1, 2
    ),
    cent AS (
      SELECT label AS cand, pos,
             CAST(s AS DOUBLE) / ({NC_QUANT}.0 * n) AS c
      FROM train
    ),
    test AS (
      SELECT vec_id, label AS true_label, pos, x
      FROM tx WHERE vec_id % 2 = 1
    ),
    d AS (
      SELECT test.vec_id, test.true_label, cent.cand,
             round(sum((test.x - cent.c) * (test.x - cent.c)) + 1e-9, 4)
               AS d2
      FROM test JOIN cent ON cent.pos = test.pos
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT vec_id, true_label, cand,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand)
               AS rk
      FROM d
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN cand = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN cand = true_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) AS accuracy
    FROM pred WHERE rk = 1 GROUP BY 1
    """,
)
def similarity_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true_label, n_test, n_correct, accuracy): held-out accuracy of
    the nearest-centroid rule. Scale shape: train collapses to
    |labels| x DIM integer-moment rows (partial-aggregated posexplode,
    the centroid_by_bucket shape) and BROADCASTS; the test side joins
    on pos and folds to one distance row per (vec, label) in the same
    aggregation — no pairwise vec x vec work anywhere."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    train = (
        v.filter(F.pmod("vec_id", F.lit(2)) == 0)
        .select("label", F.posexplode("vec").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.expr(f"CAST(round(x * {NC_QUANT}) AS BIGINT)"))
            .cast("bigint")
            .alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    cent = train.select(
        F.col("label").alias("cand"),
        "pos",
        (F.col("s").cast("double") / (F.lit(float(NC_QUANT)) * F.col("n"))).alias(
            "c"
        ),
    )
    test = (
        v.filter(F.pmod("vec_id", F.lit(2)) == 1)
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.posexplode("vec").alias("pos", "x"),
        )
    )
    d = (
        test.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "true_label", "cand")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
                + F.lit(1e-9),
                4,
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cand")
    pred = d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("cand") == F.col("true_label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("cand") == F.col("true_label"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# TwoNN intrinsic-dimension estimate per label (Facco et al. 2017):
# for each point take the distance ratio mu = d2/d1 of its two
# nearest neighbors; the manifold dimension is the MLE
# ID = n / sum(ln mu). The embedding-quality audit that catches
# collapsed or degenerate representation subspaces (ID far below the
# ambient 64 = the space is locally low-dimensional; ID ~ ambient =
# isotropic noise) — per label it profiles each class manifold.
#
# Determinism: coordinates are QUANTIZED to 1e6-unit integer-valued
# DOUBLES (the diversity_gram discipline), so nq and every pairwise
# inner product are exactly-representable integers (< ~2e13, far
# under 2^53 — every partial sum is exact at ANY order, both
# engines) and squared distances d2 = na + nb - 2*dot are EXACT
# integer-valued doubles. Neighbor selection orders by the exact
# (d2, j) key; ln(mu^2)/2 is one ln of a ratio of exact integers,
# 1e-6-LOCKED into an integer micro sum (ties d2nd = d1 give exactly
# 0); exact-duplicate points (d1 = 0) are excluded identically on
# both engines and reported — a label whose points are ALL
# duplicates still emits a row (n_used = 0, id_hat NULL): the audit
# must say "degenerate", not vanish (found by stress10x, whose 10x
# corpus duplicates every vector). id_hat is one division of exact
# integers.
TWONN_QUANT = 10**6


@register(
    "embedding_intrinsic_dim",
    tags=("similarity", "intrinsic-dimension", "twonn", "audit"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> round(x * {TWONN_QUANT}.0)) AS q
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, q, list_inner_product(q, q) AS nq FROM v
    ),
    p AS (
      SELECT a.label, a.vec_id AS i, b.vec_id AS j,
             a.nq + b.nq - 2 * list_inner_product(a.q, b.q) AS d2
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT label, i, d2,
             row_number() OVER (PARTITION BY label, i ORDER BY d2, j)
               AS rk
      FROM p
    ),
    pv AS (
      SELECT label, i,
             max(CASE WHEN rk = 1 THEN d2 END) AS d1,
             max(CASE WHEN rk = 2 THEN d2 END) AS dnn
      FROM r WHERE rk <= 2 GROUP BY 1, 2
    ),
    u AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_used,
             CAST(sum(CAST(round((0.5 * ln(dnn / d1)) * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS summ
      FROM pv WHERE d1 > 0 GROUP BY label
    ),
    c AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_points FROM v GROUP BY 1
    )
    SELECT CAST(c.label AS INTEGER) AS label, c.n_points,
           CAST(coalesce(u.n_used, 0) AS BIGINT) AS n_used,
           CAST(coalesce(u.summ, 0) AS BIGINT) AS sum_lnmu_micro,
           CASE WHEN coalesce(u.summ, 0) > 0
                THEN round(CAST(u.n_used AS DOUBLE) * 1000000.0 / u.summ
                           + 1e-9, 4)
           END AS id_hat
    FROM c LEFT JOIN u USING (label)
    """,
)
def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_points, n_used, sum_lnmu_micro, id_hat): TwoNN
    intrinsic-dimension estimate per label (see header; quantized
    exact-integer distances, 1e-6-locked ln-mu integer sum).

    Scale shape: a within-label self-join of ONE scan-rooted frame
    (runtime exchange reuse, gotcha #14) — pairs are sum(n_label^2),
    label-blocked, never the global square; the neighbor rank is a
    per-(label, i) window over in-label candidates; everything
    downstream is |labels|-row frames. At crawl scale the pair stage
    swaps to an LSH/IVF candidate prefilter exactly like the
    embedding near-dup family (the d1/d2 selection only needs each
    point's local bucket)."""
    d = load_table(spark, sf_dir, "embeddings")
    v = _spread(d).select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * F.lit(float(TWONN_QUANT))),
        ).alias("q"),
    )
    n = v.select("vec_id", "label", "q", _dot("q", "q").alias("nq"))
    a = n.select(
        "label",
        F.col("vec_id").alias("i"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    b = n.select(
        "label",
        F.col("vec_id").alias("j"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    p = (
        a.join(b, "label")
        .filter(F.col("i") != F.col("j"))
        .select(
            "label",
            "i",
            "j",
            (
                F.col("na") + F.col("nb") - F.lit(2) * _dot("qa", "qb")
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("label", "i").orderBy("d2", "j")
    r = p.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 2)
    pv = r.groupBy("label", "i").agg(
        F.max(F.when(F.col("rk") == 1, F.col("d2"))).alias("d1"),
        F.max(F.when(F.col("rk") == 2, F.col("d2"))).alias("dnn"),
    )
    micro = F.round(
        (F.lit(0.5) * F.log(F.col("dnn") / F.col("d1")))
        * F.lit(1000000.0)
    ).cast("bigint")
    u = (
        pv.filter(F.col("d1") > 0)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_used"),
            F.sum(micro).cast("bigint").alias("summ"),
        )
    )
    c = v.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )
    return c.join(u, "label", "left").select(
        "label",
        "n_points",
        F.coalesce(F.col("n_used"), F.lit(0)).cast("bigint").alias("n_used"),
        F.coalesce(F.col("summ"), F.lit(0))
        .cast("bigint")
        .alias("sum_lnmu_micro"),
        F.when(
            F.coalesce(F.col("summ"), F.lit(0)) > 0,
            F.round(
                F.col("n_used").cast("double")
                * F.lit(1000000.0)
                / F.col("summ")
                + F.lit(1e-9),
                4,
            ),
        ).alias("id_hat"),
    )
