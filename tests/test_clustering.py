"""Connected-components / cluster-dedup invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from ray_mapreduce_spark.operators.clustering import (
    connected_components,
    dedup_cluster_survivors,
)
from ray_mapreduce_spark.plans import all_queries
from ray_mapreduce_spark.sources import load_table


@pytest.mark.parametrize("duplicated", [False, True])
def test_cc_on_known_graph(spark, duplicated):
    # components: {1,2,3,4} (chain), {10,11}, singleton 20 not in edges.
    # duplicated=True feeds DELIBERATELY duplicated edges:
    # connected_components skips the edge distinct because min-label
    # propagation is duplicate-TOLERANT (every aggregation is a min),
    # not because inputs happen to be unique — pin it (ADVICE r15).
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    if duplicated:
        edges = edges + edges + [(2, 3)]
    pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    comps = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges(spark):
    # a 12-node path needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a: long, doc_b: long"
    )
    comps = connected_components(pairs, max_iters=20).collect()
    assert {r["comp"] for r in comps} == {0}


def test_dedup_clusters_invariants(spark, sf_dir):
    out = all_queries()["dedup_clusters"].builder(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(out) == n_docs  # totality: every doc classified
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cluster, members in by_cluster.items():
        survivors = [m for m in members if m["is_survivor"]]
        assert len(survivors) == 1  # exactly one survivor per cluster
        assert survivors[0]["doc_id"] == min(m["doc_id"] for m in members)
        assert cluster == min(m["doc_id"] for m in members)


def test_cluster_members_are_connected_near_dups(spark, sf_dir):
    """Every non-singleton cluster's members must be pairwise reachable
    through the verified pair list (sanity via pair-set closure)."""
    pairs = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in all_queries()["dedup_minhash_pairs"].builder(spark, sf_dir).collect()
    }
    out = all_queries()["dedup_clusters"].builder(spark, sf_dir).collect()
    clusters: dict = {}
    for r in out:
        clusters.setdefault(r["cluster"], set()).add(r["doc_id"])
    adj: dict = {}
    for p in pairs:
        a, b = tuple(p)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for members in clusters.values():
        if len(members) == 1:
            continue
        # BFS from any member must reach all members
        start = next(iter(members))
        seen = {start}
        frontier = [start]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):  # noqa: B905
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
        assert members <= seen, f"cluster {members} not connected via pairs"


def test_cc_raises_on_nonconvergence(spark):
    """A chain longer than max_iters rounds must RAISE, never silently
    return split components (ADVICE r1)."""
    import pytest as _pytest

    from ray_mapreduce_spark.operators.clustering import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)
    # and with enough rounds the same chain is one component
    comps = connected_components(chain, max_iters=50).collect()
    assert {r["comp"] for r in comps} == {0}


@pytest.mark.parametrize("duplicated", [False, True])
def test_cc_matches_union_find_on_random_graphs(spark, duplicated):
    """connected_components vs a pure-Python union-find on seeded
    random graphs: same partition of nodes into components (component
    LABELS are min-node by construction — compare those too). The
    duplicated=True arm feeds a deliberately DUPLICATED edge list (the
    random draw already repeats edges, plus the list is doubled) to pin the
    duplicate-tolerance claim that lets the operator skip the edge
    distinct (ADVICE r15)."""
    import random

    from ray_mapreduce_spark.operators.clustering import connected_components

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(90)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # expected: node -> min node id in its component (nodes with
        # at least one edge only — cc operates on the edge list)
        touched = {x for e in edges for x in e}
        comp_min: dict[int, int] = {}
        for x in touched:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {x: comp_min[find(x)] for x in touched}

        fed = edges + edges if duplicated else edges
        pairs = spark.createDataFrame(fed, "doc_a long, doc_b long")
        got = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
        assert got == expected, f"seed {seed}: component mismatch"


def test_connected_components_empty_pairs(spark):
    """Zero near-dup pairs (a clean corpus) must yield an empty label
    frame without touching the iteration loop's failure path."""
    from ray_mapreduce_spark.operators.clustering import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0


def test_cluster_survivors_all_singletons(spark):
    """With no pairs at all, every doc is its own cluster and every
    doc survives — the coalesce(comp, doc_id) fallback path."""
    from ray_mapreduce_spark.operators.clustering import dedup_cluster_survivors

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r for r in dedup_cluster_survivors(docs, pairs).collect()}
    assert len(rows) == 3
    assert all(r["is_survivor"] and r["cluster"] == k for k, r in rows.items())


def test_cluster_survivors_missing_min_endpoint(spark):
    """Outside the pairs ⊆ docs contract: a pair endpoint missing from
    ``docs`` that is its component's minimum still labels the
    component, so that cluster has no survivor. Other clusters are
    unaffected."""
    docs = spark.createDataFrame([(2,), (3,), (10,), (11,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: (r["cluster"], r["is_survivor"])
            for r in dedup_cluster_survivors(docs, pairs).collect()}
    assert rows == {2: (1, False), 3: (1, False), 10: (10, True), 11: (10, False)}
