"""Connected components over near-duplicate pairs: the clustering
stage that turns a pair list (from minhash/simhash/cosine candidates)
into dedup groups with one canonical survivor each.

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

from pyspark.sql import DataFrame, Observation
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


def dedup_cluster_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full cluster-dedup: docs + near-dup pairs -> every doc mapped to
    its cluster and a keep/drop flag (survivor = min doc_id per
    cluster; singletons survive trivially).

    Requires pair endpoints ⊆ docs.doc_id (true by construction for
    every caller — pairs are derived from the same docs frame). Under
    that contract the min-doc_id-per-cluster window this used to run
    is REDUNDANT (r16, guide §2.4): ``cluster`` IS the min member of
    its component — connected_components labels every component by its
    min node id, that node is itself a doc of the cluster, and
    singletons are labeled by their own doc_id — so
    ``is_survivor = (doc_id == cluster)`` is the identical flag with
    no exchange and no sort (one full shuffle removed).

    The contract is checked inside the plan: docs and components meet
    in a full join, and a component node with no doc row raises
    (naming the id) when the frame is evaluated, instead of labelling
    its cluster with an id that is not a doc."""
    comps = connected_components(pairs)
    missing = F.concat(
        F.lit("dedup_cluster_survivors: pair endpoint "),
        F.col("node").cast("string"),
        F.lit(" is not a doc_id of docs"),
    )
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.node, "full")
        .filter(F.when(F.col("doc_id").isNull(), F.raise_error(missing)).otherwise(F.lit(True)))
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("cluster"),
        )
        .withColumn("is_survivor", F.col("doc_id") == F.col("cluster"))
    )
