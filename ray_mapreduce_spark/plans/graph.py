"""Graph analytics over the near-duplicate similarity graph
(SURVEY.md §2d adjacent): PageRank centrality and triangle counting
on the edge set induced by embedding-cosine near-dup pairs.

Why these belong in a training-data engine: the near-dup graph's
structure is a curation signal — high-PageRank nodes are template
hubs (one page quoted/duplicated everywhere), high triangle density
marks tight boilerplate families that exact/cluster dedup should
collapse, while low-degree nodes are the unique long tail worth
keeping. Connected components (operators/clustering.py) gives the
partition; these give the per-node structure inside it.

Both operators are ORACLE-PAIRED despite PageRank being iterative:
the rank state is kept in FIXED-POINT INTEGER micro-units (1e12
scale) and every update uses only integer multiply / floor-divide /
sum — all associative and engine-identical, so there is no float
summation order anywhere in the loop and the unrolled DuckDB CTE
mirror matches bit-for-bit (the same determinism discipline as
cluster_kmeans_assign's rounded distances, pushed one step further:
no rounding tolerance needed at all). The single float division
happens once, at output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pairs import both_directions
from ..sources import load_table
from .registry import register
from .similarity import EDGE_COS_THRESHOLD, _near_dup_pairs, _near_dup_sql, _with_vec

# Link prediction needs WEDGES (paths of length 2), not just edges:
# at the 0.35 near-dup threshold the driver graph is matching-shaped
# (max degree 1 at sf0.001 — zero wedges, empty output, a trivially
# matching oracle; the graph_kcore_peel lesson). Adamic-Adar therefore
# runs on a denser 0.30 similarity graph — measured wedge-pair counts
# 25/39/1948 at sf0.001/0.01/0.1 — while the dedup-family queries keep
# the shared 0.35 rule.
LINKPRED_COS_THRESHOLD = 0.30

PR_ITERS = 3
PR_SCALE = 10**12  # rank mass in integer micro-units


def _edge_sql(threshold: float) -> str:
    return f"""
    v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    prs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      {_near_dup_sql(threshold)}
    )
"""


# damping 0.85 expressed as integer numerator/denominator
_PR_EDGE_SQL = _edge_sql(EDGE_COS_THRESHOLD)
# Both directions of every prs edge (the SQL side of both_directions).
_UNDIRECTED_SQL = "SELECT src, dst FROM prs UNION ALL SELECT dst AS src, src AS dst FROM prs"


def _pair_edges(v: DataFrame, threshold: float = EDGE_COS_THRESHOLD) -> DataFrame:
    """Canonical (src < dst) near-dup edges from a _with_vec frame."""
    return _near_dup_pairs(v, threshold).select(
        F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
    )


def _pagerank_oracle(iters: int, scale: int) -> str:
    parts = [
        "WITH " + _PR_EDGE_SQL.strip(),
        f"edges AS ({_UNDIRECTED_SQL})",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "n AS (SELECT count(*) AS n FROM v)",
        f"r0 AS (SELECT vec_id, ({scale} // n.n) AS r FROM v, n)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS vec_id,"
            f" CAST(sum((r.r // d.deg)) AS BIGINT) AS s"
            f" FROM edges e JOIN r{i - 1} r ON e.src = r.vec_id"
            f" JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT v.vec_id,"
            f" ((15 * ({scale} // n.n)) // 100)"
            f" + ((85 * coalesce(c.s, 0)) // 100) AS r"
            f" FROM v CROSS JOIN n LEFT JOIN c{i} c ON v.vec_id = c.vec_id)"
        )
    return (
        ",\n".join(parts)
        + f"""
    SELECT r.vec_id,
           CAST(coalesce(d.deg, 0) AS BIGINT) AS degree,
           round(r.r / {float(scale)}, 6) AS pagerank
    FROM r{iters} r LEFT JOIN deg d ON d.src = r.vec_id
    """
    )


@register(
    "graph_pagerank_neardup",
    tags=("graph", "pagerank", "iterative", "dedup-signal"),
    oracle=_pagerank_oracle(PR_ITERS, PR_SCALE),
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, degree, pagerank) after PR_ITERS damped PageRank
    rounds over the undirected near-dup graph; dangling (degree-0)
    nodes hold the teleport mass (their outflow is not redistributed
    — the variant both engines encode identically).

    Determinism: rank lives in integer micro-units; per-edge
    contribution is `r div deg` (floor), the damped update is
    `base + (85 * sum) div 100` — integer sums are order-free, so
    the result is partition-invariant and exactly equal to the
    unrolled DuckDB CTE with no rounding tolerance.

    Scale shape: the edge list (with degree attached) and the
    node/base frame are LOOP-INVARIANT and eager-localCheckpointed
    once (iterative-operator rule — an uncheckpointed invariant
    re-executes the whole LSH/cosine lineage every round); the pair
    frame is checkpointed before it is exploded into both edge
    directions (functions/pairs.both_directions). Each round
    is one equi-join ranks⋈edges on src (O(E) contributions) plus
    one partial-aggregated groupBy(dst) and a left join back to the
    node frame (O(V)) — the canonical distributed PageRank shuffle;
    per-round state is checkpointed so lineage stays flat. At crawl
    scale the same plan runs with edges pre-partitioned by src so
    only rank deltas shuffle."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    pairs = _pair_edges(v).localCheckpoint(eager=True)
    return pagerank_from_edges(v.select("vec_id"), pairs, iters=PR_ITERS)


def pagerank_from_edges(
    nodes: DataFrame, pairs: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """Fixed-point integer PageRank core over a (vec_id) node frame
    and a canonical (src, dst) undirected pair frame (pass pairs
    already checkpointed). See graph_pagerank_neardup for the
    rationale."""
    edges = both_directions(pairs, "src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    n_frame = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = nodes.crossJoin(F.broadcast(n_frame)).localCheckpoint(eager=True)
    ranks = base.select("vec_id", F.expr(f"{PR_SCALE} div n").alias("r"))
    for _ in range(iters):
        contrib = ed.join(ranks, ed.src == ranks.vec_id).select(
            F.col("dst"), F.expr("r div deg").alias("c")
        )
        s = contrib.groupBy("dst").agg(F.sum("c").cast("bigint").alias("s"))
        ranks = (
            base.join(s, base.vec_id == s.dst, "left")
            .select(
                "vec_id",
                (
                    F.expr(f"(15 * ({PR_SCALE} div n)) div 100")
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.join(deg, ranks.vec_id == deg.src, "left").select(
        "vec_id",
        F.coalesce("deg", F.lit(0)).cast("bigint").alias("degree"),
        F.round(F.col("r") / F.lit(float(PR_SCALE)), 6).alias("pagerank"),
    )


# Per-node triangle counts cnt(vec_id, t) over the canonical prs
# edges: the SQL twin of triangle_counts.
_TRIANGLES_SQL = """tri AS (
      SELECT a.src AS x, a.dst AS y, b.dst AS z
      FROM prs a
      JOIN prs b ON b.src = a.dst
      JOIN prs c ON c.src = a.src AND c.dst = b.dst
    ),
    member AS (
      SELECT x AS vec_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    cnt AS (SELECT vec_id, count(*) AS t FROM member GROUP BY vec_id)"""


@register(
    "graph_triangle_count",
    tags=("graph", "triangles", "dedup-signal"),
    oracle=f"""
    WITH {_PR_EDGE_SQL.strip()},
    {_TRIANGLES_SQL}
    SELECT v.vec_id, CAST(coalesce(c.t, 0) AS BIGINT) AS n_triangles
    FROM v LEFT JOIN cnt c ON v.vec_id = c.vec_id
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, n_triangles) over the canonical (src<dst) near-dup
    edge set — every triangle enumerated exactly once via the ordered
    x<y<z wedge join. Triangle density separates tight boilerplate
    families (collapse them) from chains of borderline pairs (keep).

    Scale shape: the canonical edge frame is eager-localCheckpointed
    and then self-joined twice — wedge generation is an equi-join on
    the shared endpoint and closure is an equi-join on the (x, z)
    pair, both hash joins on edge keys; no cross product anywhere.
    The ordered orientation (src < dst everywhere) is the standard
    trick that caps wedge counts by out-degree; at crawl scale the
    id ordering would be replaced by degree ordering (orient edges
    low->high degree), which bounds per-node wedge work by sqrt(E)
    without changing this plan's shape."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    prs = _pair_edges(v).localCheckpoint(eager=True)
    return triangle_counts(v.select("vec_id"), prs)


def triangle_counts(nodes: DataFrame, prs: DataFrame) -> DataFrame:
    """Per-node triangle counts over a canonical (src < dst) pair
    frame (pass it checkpointed — it is self-joined twice). See
    graph_triangle_count for the rationale."""
    a = prs.alias("a")
    b = prs.alias("b")
    c = prs.alias("c")
    tri = (
        a.join(b, F.col("b.src") == F.col("a.dst"))
        .join(
            c,
            (F.col("c.src") == F.col("a.src")) & (F.col("c.dst") == F.col("b.dst")),
        )
        .select(
            F.col("a.src").alias("x"),
            F.col("a.dst").alias("y"),
            F.col("b.dst").alias("z"),
        )
    )
    # one generate, not a 3-way self-union: the union form re-executes
    # the wedge joins once per branch (sibling-branch rule, gotcha #14)
    member = tri.select(F.explode(F.array("x", "y", "z")).alias("vec_id"))
    cnt = member.groupBy("vec_id").agg(F.count(F.lit(1)).alias("t"))
    return nodes.join(cnt, "vec_id", "left").select(
        "vec_id", F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles")
    )


@register(
    "graph_degree_assortativity",
    tags=("graph", "stats", "dedup-signal"),
    oracle=f"""
    WITH {_PR_EDGE_SQL.strip()},
    e2 AS ({_UNDIRECTED_SQL}),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      FROM e2 GROUP BY src
    ),
    j AS (
      SELECT dx.d AS x, dy.d AS y
      FROM e2
      JOIN deg dx ON dx.node = e2.src
      JOIN deg dy ON dy.node = e2.dst
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM j
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           nn // 2 AS n_edges,
           round(CAST(nn * sxy - sx * sx AS DOUBLE)
                 / nullif(nn * sxx - sx * sx, 0) + 1e-9, 6) + 0.0
             AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_nodes, n_edges, assortativity): degree-degree Pearson
    correlation over the near-dup graph — positive means template
    hubs link to other hubs (one boilerplate family to collapse),
    negative means hub-and-spoke (one canonical page quoted by many
    unique ones; keep the spokes). Standard Newman definition: each
    undirected edge contributes both orientations, so sum(x)=sum(y)
    and sum(x^2)=sum(y^2) by symmetry and one (sx, sxy, sxx) triple
    suffices. Scale shape: the canonical edge frame is
    eager-checkpointed (it feeds the degree agg AND the two
    degree-joins — sibling consumers, gotcha #9); degrees are an agg
    of the edge frame (bounded by nodes) and rejoin unhinted; every
    moment is an exact INTEGER sum, so the single output division is
    the only float op and is identical cross-engine; nullif guards
    the all-equal-degrees denominator (engine-independent NULL
    instead of a div-by-zero path)."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    prs = _pair_edges(v).localCheckpoint(eager=True)
    e2 = both_directions(prs, "src", "dst")
    deg = (
        e2.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    j = (
        e2.join(deg.select(F.col("node").alias("src"), F.col("d").alias("x")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("y")), "dst")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    num = (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = F.nullif(
        F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0).cast("bigint")
    )
    return m.join(F.broadcast(n_nodes)).select(
        "n_nodes",
        (F.col("nn") / F.lit(2)).cast("bigint").alias("n_edges"),
        (F.round(num / den + F.lit(1e-9), 6) + F.lit(0.0)).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Local clustering coefficient: lcc(v) = 2*T(v) / (deg(v)*(deg(v)-1))
# for deg >= 2 (else 0). Separates tight boilerplate cliques
# (lcc -> 1: every neighbor pair also near-dup — collapse the whole
# family) from hub-and-spoke template graphs (high degree, low lcc:
# one template quoted by many otherwise-unrelated pages — keep the
# spokes). Complements triangle counts with the degree normalization
# that makes nodes of different connectivity comparable.
@register(
    "graph_clustering_coefficient",
    tags=("graph", "triangles", "dedup-signal"),
    oracle=f"""
    WITH {_PR_EDGE_SQL.strip()},
    edges AS ({_UNDIRECTED_SQL}),
    deg AS (SELECT src AS vec_id, count(*) AS deg FROM edges GROUP BY src),
    {_TRIANGLES_SQL}
    SELECT v.vec_id,
           CAST(coalesce(d.deg, 0) AS BIGINT) AS degree,
           CAST(coalesce(c.t, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN coalesce(d.deg, 0) >= 2
                 THEN 2.0 * coalesce(c.t, 0) / (d.deg * (d.deg - 1)) + 1e-9
                 ELSE 0.0 END, 6) AS lcc
    FROM v
    LEFT JOIN deg d ON d.vec_id = v.vec_id
    LEFT JOIN cnt c ON c.vec_id = v.vec_id
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, degree, n_triangles, lcc) over the canonical near-dup
    edge set. Determinism: T(v) and deg(v) are exact integer counts;
    the single output division 2.0*t/(deg*(deg-1)) is one
    correctly-rounded double of identical integers on both engines
    (+1e-9 pre-round bias per gotcha #3; lcc >= 0 so no signed-zero
    leg). Scale shape: the checkpointed pair frame feeds BOTH the
    triangle wedge joins and the degree count (sibling consumers —
    the checkpoint is the gotcha #9 fix); wedge/closure are the same
    equi-joins as graph_triangle_count, degree is one partial agg;
    the final assembly joins two node-sized frames. At crawl scale
    the id orientation would become degree orientation exactly as
    documented on graph_triangle_count — the lcc math is unchanged."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    prs = _pair_edges(v).localCheckpoint(eager=True)
    tri = triangle_counts(v.select("vec_id"), prs)
    edges = both_directions(prs, "src", "dst")
    deg = edges.groupBy(F.col("src").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    d, dg = tri.alias("d"), deg.alias("dg")
    degree = F.coalesce(F.col("dg.deg"), F.lit(0))
    return d.join(dg, F.col("d.vec_id") == F.col("dg.vec_id"), "left").select(
        F.col("d.vec_id").alias("vec_id"),
        degree.cast("bigint").alias("degree"),
        F.col("d.n_triangles").alias("n_triangles"),
        F.when(
            degree >= 2,
            F.round(
                F.lit(2.0)
                * F.col("d.n_triangles")
                / (F.col("dg.deg") * (F.col("dg.deg") - 1))
                + F.lit(1e-9),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


# --------------------------------------------------------------------------
# K-core peel decomposition: synchronously strip nodes whose degree
# in the surviving near-dup subgraph is < KCORE_K, recording the
# round at which each node leaves, until the induced subgraph
# stabilizes. peel_round=1 nodes are isolated pair-dups (safe to
# handle pairwise), higher rounds are chain/periphery structure, and
# the peel_round=0 survivors are the cyclic 2-core — the irreducibly
# tangled duplication families where cluster-collapse dedup (not
# pairwise removal) is the right action. Rounds are FIXED
# (KCORE_ROUNDS) so the unrolled oracle matches bit-for-bit; a
# pytest gate asserts zero removals happen in the FINAL round on
# real data (=> the fixpoint was reached inside the budget), so a
# regenerated-testdata graph that peels deeper fails loudly instead
# of silently under-peeling. Removal bookkeeping is roster-diff
# (present in e_{i-1}, absent from e_i): this also catches nodes
# whose degree was >= k but whose neighbors all died that round —
# a pure HAVING deg<k rule would never record them.
KCORE_K = 2
KCORE_ROUNDS = 5

# The multiply-referenced CTE tower (each e_i feeds k_{i+1}, rm_{i+1}
# and e_{i+1}) must be MATERIALIZED in DuckDB — inlined it
# re-expands ~3x per level and the quadratic edge rule at the base
# makes the oracle effectively hang (measured: >300s inlined vs
# 0.1s materialized at sf0.1).
_KCORE_EDGE_SQL = _PR_EDGE_SQL.replace(" AS (", " AS MATERIALIZED (")


def _kcore_oracle(k: int, rounds: int) -> str:
    parts = [
        "WITH " + _KCORE_EDGE_SQL.strip(),
        f"e0 AS MATERIALIZED ({_UNDIRECTED_SQL})",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM e{i - 1}"
            f" GROUP BY src HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i - 1} e"
            f" JOIN k{i} a ON a.src = e.src"
            f" JOIN k{i} b ON b.src = e.dst)"
        )
        parts.append(
            f"rm{i} AS MATERIALIZED (SELECT DISTINCT e.src FROM e{i - 1} e"
            f" LEFT JOIN (SELECT DISTINCT src FROM e{i}) s ON s.src = e.src"
            f" WHERE s.src IS NULL)"
        )
    removed = [
        f"SELECT src AS vec_id, CAST({i} AS BIGINT) AS peel_round FROM rm{i}"
        for i in range(1, rounds + 1)
    ]
    core = (
        f"SELECT DISTINCT src AS vec_id, CAST(0 AS BIGINT) AS peel_round"
        f" FROM e{rounds}"
    )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(removed + [core])


@register(
    "graph_kcore_peel",
    tags=("graph", "kcore", "iterative", "dedup-signal"),
    oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, peel_round): the k-core peel decomposition of the
    near-dup graph — peel_round = the synchronous peel round (1-based)
    at which the node left the induced subgraph, 0 for nodes
    surviving all KCORE_ROUNDS rounds (the k-core; at KCORE_K=2 the
    cyclic families). Determinism: pure integer degree counts and
    semi/anti-join membership — no floats anywhere past the
    (hash-verified) edge rule. Scale shape: the undirected edge frame
    is checkpointed once (every round reads it) and each round is
    one partial-aggregated degree count + two semi joins on edge
    keys, re-checkpointed so
    lineage stays flat (iterative-operator rule); per-round removed
    frames read only the two adjacent checkpoints, and work per round
    shrinks with the surviving edge set. The fixed round budget is
    the oracle-parity tradeoff — production peeling loops to
    fixpoint, and test_kcore_fixpoint_within_budget proves the budget
    IS the fixpoint on this corpus (zero final-round removals)."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    prs = _pair_edges(v).localCheckpoint(eager=True)
    edges = both_directions(prs, "src", "dst").localCheckpoint(eager=True)
    return kcore_peel_rounds(edges, KCORE_K, KCORE_ROUNDS)


def kcore_peel_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """(vec_id, peel_round) decomposition of a symmetrized,
    checkpointed (src, dst) edge frame under ``rounds`` synchronous
    peels of degree < ``k``; peel_round=0 marks survivors. See
    graph_kcore_peel."""
    out: list[DataFrame] = []
    for r in range(1, rounds + 1):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        nxt = (
            edges.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        out.append(
            edges.select("src")
            .distinct()
            # No distinct on the anti-join's RIGHT side: the hash build
            # dedupes for free (duplicate-insensitive — the C2/C4 r15
            # pattern, guide §2.4), so the per-round
            # Exchange+HashAggregate pair it cost is gone. The LEFT
            # distinct is semantic (one output row per removed node).
            .join(nxt.select("src"), "src", "left_anti")
            .select(
                F.col("src").alias("vec_id"),
                F.lit(r).cast("bigint").alias("peel_round"),
            )
        )
        edges = nxt
    out.append(
        edges.select("src")
        .distinct()
        .select(
            F.col("src").alias("vec_id"),
            F.lit(0).cast("bigint").alias("peel_round"),
        )
    )
    res = out[0]
    for f in out[1:]:
        res = res.union(f)
    return res


# --------------------------------------------------------------------------
# Adamic-Adar link prediction — score non-adjacent pairs by shared
# near-dup neighbors, weighting each common neighbor v by
# 1/ln(deg(v)) (rare shared neighbors are stronger evidence). In a
# curation pipeline this predicts which documents a near-dup pass
# MISSED: a high-scoring non-edge inside a template family is a
# candidate the banded LSH should have caught, so the top of this
# list is the audit queue for threshold tuning.
@register(
    "graph_adamic_adar_linkpred",
    tags=("graph", "linkpred", "wedge"),
    oracle=f"""
    WITH {_edge_sql(LINKPRED_COS_THRESHOLD).strip()},
    edges AS ({_UNDIRECTED_SQL}),
    deg AS (SELECT src AS v, count(*) AS deg FROM edges GROUP BY 1),
    wedge AS (
      SELECT e1.dst AS u, e2.dst AS w, e1.src AS mid
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    cand AS (
      SELECT wg.u, wg.w, wg.mid FROM wedge wg
      WHERE NOT EXISTS (
        SELECT 1 FROM prs p WHERE p.src = wg.u AND p.dst = wg.w
      )
    )
    SELECT c.u AS u, c.w AS w,
           CAST(count(*) AS BIGINT) AS n_common,
           round(sum(1.0 / ln(CAST(d.deg AS DOUBLE))), 6) AS aa_score
    FROM cand c JOIN deg d ON d.v = c.mid
    GROUP BY 1, 2
    """,
)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, w, n_common, aa_score): Adamic-Adar scores for every
    non-adjacent pair sharing >=1 near-dup neighbor. Determinism:
    degrees are exact integers; 1/ln(deg) terms are transcendental —
    never ON a 6dp boundary — and the per-pair fold diverges by only
    n*ulp across engines (the events_decayed_score rationale), so
    round(.,6) is tolerance-free in practice. Scale shape: the edge
    frame is eager-checkpointed ONCE (it feeds the degree agg, the
    wedge self-join, and the anti-join — sibling consumers, gotcha
    #9); the wedge join is a self-join of the identical undirected
    frame (exchange-reused); the anti-join keys on the canonical
    (u, w) pair; no all-pairs anywhere — cost is sum over mid of
    deg(mid)^2, the banded-graph wedge bound shared with
    graph_triangle_count. Runs on the denser LINKPRED graph (0.30):
    the 0.35 near-dup graph is matching-shaped (max degree 1 at
    sf0.001 — zero wedges, empty output; see the
    LINKPRED_COS_THRESHOLD note)."""
    v = _with_vec(load_table(spark, sf_dir, "embeddings"))
    prs = _pair_edges(v, LINKPRED_COS_THRESHOLD).localCheckpoint(eager=True)
    return adamic_adar_from_edges(prs)


def adamic_adar_from_edges(prs: DataFrame) -> DataFrame:
    """Score non-adjacent wedge pairs from a canonical (src < dst)
    pair frame (already checkpointed by the caller — it feeds three
    consumers)."""
    und = both_directions(prs, "src", "dst")
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")),
    ).select(
        F.col("e1.dst").alias("u"),
        F.col("e2.dst").alias("w"),
        F.col("e1.src").alias("mid"),
    )
    cand = wedge.join(
        prs.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    return (
        cand.join(deg, cand.mid == deg.v)
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))), 6
            ).alias("aa_score"),
        )
    )
