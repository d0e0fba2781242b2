"""Connected components over near-duplicate pairs: the clustering
stage that turns a pair list (from minhash/simhash/cosine candidates)
into dedup groups with one canonical survivor each, and the three
dedup decisions every dedup query makes, each written once here:

- the exact-duplicate keeper (``exact_keepers``; oracle twin
  ``EXACT_KEEP_SQL``): the min doc_id per text digest;
- the near-dup cluster label (``cluster_labels``; oracle twin
  ``CLOSURE_SQL``): every doc gets its component's min id, or its own
  id when it is in no pair, and a pair endpoint that is not a doc
  raises;
- the quality survivor (``cluster_best``): the best-scored member per
  cluster, ties to the smaller doc_id, with the member count.

Algorithm: iterative min-label propagation (the "small-star" half of
large-star/small-star, sufficient because near-dup components are
shallow): every node starts labeled with itself; each round, every
node adopts the min label in its neighborhood; stop at fixpoint.
Rounds needed = graph diameter (near-dup clusters are cliques-ish,
so 2-3 rounds in practice; ``max_iters`` bounds pathological chains).

Scale shape per round: one join (edges x labels, shuffle on node id)
+ one groupBy min — both algebraic, both skew-tolerant under AQE. No
driver-side state beyond the converged flag (one count per round —
the same pattern GraphX/GraphFrames use).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.pairs import both_directions


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(src, dst) undirected pair list -> (node, component) with
    component = min node id reachable. Deterministic.

    Iterates to fixpoint (the convergence check is computed every
    round anyway); ``max_iters`` only bounds pathological chains, and
    hitting it without convergence RAISES rather than silently
    returning split components — label propagation needs rounds =
    graph diameter, so 50 covers any realistic near-dup chain.

    Edges are NOT deduplicated: min-label propagation is
    duplicate-tolerant by algebra (every aggregation is a min, so
    repeated edges cannot change any label), and every pair family
    in this repo is already unique on (src, dst) — each is keyed by a
    groupBy/dropDuplicates on (doc_a, doc_b) — so an edge
    ``distinct()`` would be a pure extra exchange+aggregate inside the
    (heaviest) checkpoint job (guide §2.4 "remove shuffles outright";
    measured -0.1-0.2s on pipeline_clean_corpus at sf0.1). A caller
    with a heavily duplicated pair list should dedupe it once
    upstream rather than carry the duplicates through every round."""
    # Both edge directions by one explode (not a self-union), so one
    # checkpoint job materializes the pair lineage exactly once;
    # every iteration joins against the edges.
    edges = both_directions(pairs, src, dst, ("u", "v")).localCheckpoint(eager=True)
    # Initial labels = min over the CLOSED neighborhood (self + direct
    # neighbors). The identity init ("comp = node") needs a distinct —
    # a shuffle by node — anyway, so computing round 1's result inside
    # that same aggregation is free and saves one full loop round
    # (join + union + agg + checkpoint + convergence count). Near-dup
    # clusters are clique-ish (diameter 1), so this init is usually
    # already the fixpoint and the loop's first round just confirms it.
    labels = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("_mn"))
        .select("node", F.least("node", "_mn").alias("comp"))
    )
    changed = -1
    for _ in range(max_iters):
        # min label over {self} U neighbors, as one union + one agg
        # (2 shuffles/round; the join+groupBy+left-join formulation
        # costs 3). The self rows are tagged so the SAME aggregation
        # also carries each node's previous label out — the
        # convergence check is then a plain filter over the round's
        # checkpoint, no extra join job.
        contrib = edges.join(labels, edges.v == labels.node).select(
            F.col("u").alias("node"), "comp", F.lit(0).alias("_self")
        )
        tagged = contrib.union(labels.select("node", "comp", F.lit(1).alias("_self")))
        new_labels = tagged.groupBy("node").agg(
            F.min("comp").alias("comp"),
            F.min(F.when(F.col("_self") == 1, F.col("comp"))).alias("_prev"),
        )
        # Convergence check as an OBSERVATION folded into the eager
        # checkpoint (r16, guide §5 "cut whole jobs"): the changed-row
        # count is collected as a side effect of the checkpoint's own
        # materialization pass, so the separate filter+limit+count job
        # the loop used to submit per round (~60-100ms of fixed
        # scheduling latency each) is gone. Checkpointing each round
        # stays mandatory: it truncates the growing lineage (plan size
        # would double per iteration) and materializes the round once
        # (an un-checkpointed frame would re-execute the round's join
        # for every downstream consumer — measured ~2x the loop cost).
        obs = Observation()
        new_labels = new_labels.observe(
            obs,
            F.count(F.when(F.col("comp") != F.col("_prev"), F.lit(1))).alias(
                "changed"
            ),
        ).localCheckpoint(eager=True)
        # .get blocks until the checkpoint action above has filled it
        # (verified incl. the empty-frame case: count() observes 0).
        changed = obs.get["changed"]
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "the component graph has a longer chain than expected — raise max_iters"
        )
    return labels


# The oracles' twin of exact_keepers over ``documents``: the min doc_id
# of each distinct text.
EXACT_KEEP_SQL = "SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)"

# The oracles' twin of connected_components: DuckDB's recursive
# transitive closure over a CTE ``pairs (doc_a, doc_b)``, ending in
# the CTE ``clus (doc_id, cluster)`` of every paired doc and the min
# id it reaches. Follows a WITH RECURSIVE head.
CLOSURE_SQL = """edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, v AS r FROM edges
      UNION
      SELECT t.node, e.v AS r
      FROM reach t JOIN edges e ON t.r = e.u
    ),
    clus AS (
      SELECT node AS doc_id, least(node, min(r)) AS cluster
      FROM reach GROUP BY node
    )"""


def exact_keepers(df: DataFrame, digest: Column, *payload: str) -> DataFrame:
    """The exact-duplicate keeper: ``(doc_id, *payload)`` of the min
    doc_id row per ``digest`` value (a digest of the text, so the
    shuffle key is 32 bytes, never a document body).

    An argmin AGGREGATE, ``min(struct(doc_id, *payload))`` (guide
    §2.3): it partial-aggregates map-side (as a sort aggregate: a
    struct buffer is not hash-aggregatable), so the digest exchange
    carries one row per (digest, input partition), and there is no
    join back to a second scan of the docs. doc_id is unique, so the
    kept row does not depend on partitioning."""
    return (
        df.groupBy(digest.alias("_h"))
        .agg(F.min(F.struct("doc_id", *payload)).alias("_keep"))
        .select("_keep.*")
    )


def cluster_labels(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The near-dup cluster label: ``docs`` with a ``cluster`` column,
    the min doc_id of the doc's connected component over ``pairs``, or
    the doc's own id when it is in no pair.

    Requires pair endpoints ⊆ docs.doc_id (true by construction for
    every caller — pairs are derived from the same docs frame). The
    contract is checked inside the plan, with no extra job: docs and
    components meet in a full join, and a component node with no doc
    row raises (naming the id) when the frame is evaluated, instead of
    labelling its cluster with an id that is not a doc."""
    comps = connected_components(pairs)
    missing = F.concat(
        F.lit("cluster_labels: pair endpoint "),
        F.col("node").cast("string"),
        F.lit(" is not a doc_id of docs"),
    )
    return (
        docs.join(comps, docs.doc_id == comps.node, "full")
        .filter(F.when(F.col("doc_id").isNull(), F.raise_error(missing)).otherwise(F.lit(True)))
        .select(*docs.columns, F.coalesce("comp", F.col("doc_id")).alias("cluster"))
    )


def cluster_best(labeled: DataFrame, score: str, *payload: str) -> DataFrame:
    """The quality survivor: per ``cluster`` of a ``cluster_labels``
    frame, ``(cluster, doc_id, score, *payload, n_members)`` of the
    member with the highest ``score``, ties to the smaller doc_id.

    An argmax AGGREGATE, ``max(struct(score, -doc_id, *payload))``,
    next to the member count (guide §2.3 "aggregate before you
    shuffle"): it partial-aggregates map-side (as a sort aggregate),
    so the cluster exchange carries one row per (cluster, input
    partition) instead of every member. The ordering key (score,
    -doc_id) is unique, so the kept row does not depend on
    partitioning."""
    best = F.max(F.struct(F.col(score), (-F.col("doc_id")).alias("_nid"), *payload))
    return (
        labeled.groupBy("cluster")
        .agg(best.alias("_best"), F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster",
            (-F.col("_best._nid")).alias("doc_id"),
            *[F.col(f"_best.{c}").alias(c) for c in (score, *payload)],
            "n_members",
        )
    )


def dedup_cluster_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full cluster-dedup: docs + near-dup pairs -> every doc mapped to
    its cluster and a keep/drop flag (survivor = min doc_id per
    cluster; singletons survive trivially).

    ``cluster_labels`` checks the pairs ⊆ docs contract, and under it
    the min-doc_id-per-cluster window this used to run is REDUNDANT
    (r16, guide §2.4): ``cluster`` IS the min member of its component
    — connected_components labels every component by its min node id,
    that node is itself a doc of the cluster, and singletons are
    labeled by their own doc_id — so ``is_survivor = (doc_id ==
    cluster)`` is the identical flag with no exchange and no sort (one
    full shuffle removed)."""
    return cluster_labels(docs.select("doc_id"), pairs).withColumn(
        "is_survivor", F.col("doc_id") == F.col("cluster")
    )
