"""Property tests for the sampling/packing operators: the greedy
packing fold and the deterministic sampler are checked against their
pure-Python specs on arbitrary corpora (hypothesis), not just the
parquet fixtures.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32
from ray_mapreduce_spark.plans.sampling import (
    PACK_CAPACITY,
    _pack_one_class,
)

# session-scoped spark fixture comes from conftest


def py_pack(n_toks: list[int]) -> list[int]:
    """The greedy fill spec: sequential docs, overflow opens next bin."""
    bins, fill, b, first = [], 0, 0, True
    for n in n_toks:
        if not first and fill + n > PACK_CAPACITY:
            b += 1
            fill = 0
        first = False
        fill += n
        bins.append(b)
    return bins


@given(st.lists(st.integers(min_value=1, max_value=3000), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_pack_fold_matches_spec(n_toks):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(n_toks)),
            "lang": ["xx"] * len(n_toks),
            "n_tok": pd.array(n_toks, dtype="int32"),
        }
    )
    out = _pack_one_class(pdf)
    assert list(out["bin"]) == py_pack(n_toks)
    # invariants: bins are contiguous non-decreasing from 0; no bin
    # exceeds capacity unless it holds exactly one over-sized doc
    sizes: dict[int, list[int]] = {}
    for n, b in zip(out["n_tok"], out["bin"]):
        sizes.setdefault(int(b), []).append(int(n))
    assert sorted(sizes) == list(range(len(sizes)))
    for members in sizes.values():
        assert sum(members) <= PACK_CAPACITY or len(members) == 1


@given(st.sets(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=300))
@settings(max_examples=50, deadline=None)
def test_hash_sample_stable_under_permutation(ids):
    """The sampler's keep-set depends only on the key, never on order
    or grouping — the property that makes corpus builds reproducible."""
    keep = {i for i in ids if (i * KNUTH) % MOD_2_32 % 10 == 0}
    assert keep == {i for i in sorted(ids) if (i * KNUTH) % MOD_2_32 % 10 == 0}
    assert keep <= ids


def test_pack_spark_matches_spec_per_lang(spark):
    """End-to-end applyInPandas run on a multi-language frame agrees
    with the per-class pure-Python fold."""
    rows = []
    toks = {"en": [100, 2048, 1, 2000, 50, 49], "de": [3000, 10, 2039, 1]}
    for lang, ns in toks.items():
        for i, n in enumerate(ns):
            rows.append((i, lang, "w " * 0 or "x", n))  # text unused
    docs = spark.createDataFrame(
        [(i, lang, n) for (i, lang, _t, n) in rows],
        "doc_id long, lang string, n_tok int",
    )
    out = docs.groupBy("lang").applyInPandas(
        _pack_one_class, "doc_id long, lang string, n_tok int, bin int"
    )
    got = {
        lang: [b for _, b in sorted((r["doc_id"], r["bin"]) for r in out.collect() if r["lang"] == lang)]
        for lang in toks
    }
    assert got == {lang: py_pack(ns) for lang, ns in toks.items()}


def test_pack_sharded_invariants(spark):
    """shards=N: same doc set, capacity respected per bin, bins never
    span (lang, shard), and parallelism scales with the shard count."""
    from collections import defaultdict

    from ray_mapreduce_spark.plans.sampling import PACK_CAPACITY, pack_sequences_greedy

    rows = pack_sequences_greedy(spark, "/root/testdata/sf0.001", shards=4).collect()
    base = pack_sequences_greedy(spark, "/root/testdata/sf0.001").collect()
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in base}  # no docs lost
    sizes = defaultdict(list)
    for r in rows:
        sizes[(r["lang"], r["bin"])].append((r["doc_id"], r["n_tok"]))
    for members in sizes.values():
        total = sum(n for _, n in members)
        assert total <= PACK_CAPACITY or len(members) == 1
        # bins never span shards: all members share doc_id % 4
        assert len({d % 4 for d, _ in members}) == 1


def test_mixture_monotone_under_rate_increase(spark, sf_dir):
    """Raising a domain's keep rate must keep every previously
    selected doc (hash mod 100 < r1 implies < r2 for r2 > r1) — the
    property that makes incremental corpus rebuilds append-only."""
    from pyspark.sql import functions as F

    from ray_mapreduce_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(KNUTH)) % F.lit(MOD_2_32) % 100
    low = {r["doc_id"] for r in d.filter(h < 20).select("doc_id").collect()}
    high = {r["doc_id"] for r in d.filter(h < 35).select("doc_id").collect()}
    assert low <= high
    assert len(high) > len(low)  # the increase actually admits more


def test_incremental_merge_admits_disjoint_and_idempotent(spark, sf_dir):
    """Admitted batch docs must (a) collide with no standing-corpus
    hash, (b) be hash-unique among themselves, and (c) be stable under
    a rerun (determinism — same inputs, same admissions)."""
    from pyspark.sql import functions as F

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.sources import load_table

    spec = all_queries()["dedup_incremental_merge"]
    admitted = {r["doc_id"] for r in spec.builder(spark, sf_dir).collect()}
    again = {r["doc_id"] for r in spec.builder(spark, sf_dir).collect()}
    assert admitted == again
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h")
    )
    rows = d.collect()
    corpus_hashes = {r["h"] for r in rows if r["doc_id"] % 5 != 0}
    admitted_hashes = [r["h"] for r in rows if r["doc_id"] in admitted]
    assert not (set(admitted_hashes) & corpus_hashes)
    assert len(admitted_hashes) == len(set(admitted_hashes))


def test_weighted_priority_matches_python_replay(spark, sf_dir):
    """The Efraimidis–Spirakis sample is exactly reproducible outside
    Spark: recompute every doc's priority (sha256-derived uniform,
    ln(u)/n_chars) in pure Python and require the identical top-k id
    set — pins both the hash-to-uniform construction and the claim
    that the sample is partitioning-independent. Also checks the
    weighting works: the sample's mean doc length must exceed the
    corpus mean (long docs are proportionally favored)."""
    import hashlib
    import math

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.sampling import SAMPLE_WR_K, _HASH_SPACE
    from ray_mapreduce_spark.sources import load_table

    rows = all_queries()["sample_weighted_priority"].builder(spark, sf_dir).collect()
    assert len(rows) == SAMPLE_WR_K

    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    pri = {}
    for r in corpus:
        h = int(hashlib.sha256(str(r["doc_id"]).encode()).hexdigest()[:6], 16)
        pri[r["doc_id"]] = math.log((h + 0.5) / _HASH_SPACE) / r["n_chars"]
    expect = set(
        sorted(pri, key=lambda d: (-pri[d], d))[:SAMPLE_WR_K]
    )
    assert {r["doc_id"] for r in rows} == expect

    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    corpus_mean = sum(r["n_chars"] for r in corpus) / len(corpus)
    assert sample_mean > corpus_mean
