"""Extension-operator quality gates (SURVEY.md §2d): the approximate
variants are pinned against their exact counterparts — determinism
alone isn't enough for LSH-family operators; recall is the contract.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ray_mapreduce_spark.plans import all_queries
from ray_mapreduce_spark.sources import load_table

_Q = all_queries()


def _rows(spark, sf_dir, name):
    return _Q[name].builder(spark, sf_dir).collect()


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """Every exact near-dup pair (jaccard >= 0.6) should be recovered
    by the 8x8 LSH banding with high probability; at the 0.6 threshold
    the banding S-curve gives ~1 - (1 - 0.6^8)^8 ~ 0.13 per band
    family... in practice near-dup corpora sit far above threshold, so
    we assert recall on the >= 0.8 pairs (detection prob > 0.9) and
    subset-correctness for everything returned."""
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in _rows(spark, sf_dir, "dedup_ngram_jaccard")}
    approx = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in _rows(spark, sf_dir, "dedup_minhash_pairs")}

    def shingles(text: str) -> set:
        toks = text.lower().split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    docs = {
        r["doc_id"]: shingles(r["text"])
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    # 1) verified output is exact-correct (minhash is NOT lang-blocked,
    # unlike dedup_ngram_jaccard, so check jaccard from first principles)
    for (a, b), jac in approx.items():
        sa, sb = docs[a], docs[b]
        true_jac = len(sa & sb) / len(sa | sb)
        assert true_jac >= 0.6, f"minhash emitted false pair {(a, b)}: {true_jac:.3f}"
        assert abs(jac - round(true_jac, 4)) < 1e-6
    # 2) recall on strong (lang-blocked) exact pairs — a subset of the
    # minhash domain, so every strong pair should be recoverable
    strong = {p for p, j in exact.items() if j >= 0.8}
    if strong:
        found = len(strong & set(approx)) / len(strong)
        assert found >= 0.9, f"minhash recall on jaccard>=0.8 pairs: {found:.2f}"


def _adversarial_corpus(spark, n_boiler: int):
    """n_boiler docs that are pairwise near-dups ONLY through one
    shared boilerplate sentence (jaccard ~0.86 via 38 common
    boilerplate shingles), plus 10 true near-dup pairs built from
    rare (df=2) shingles with jaccard ~0.97."""
    boiler = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        (i, "en", f"{boiler} unique{i}x unique{i}y unique{i}z")
        for i in range(n_boiler)
    ]
    for p in range(10):
        text = " ".join(f"rare{p}w{j}" for j in range(30))
        rows.append((10_000 + 2 * p, "en", text))
        rows.append((10_001 + 2 * p, "en", text + " tailtok"))
    return spark.createDataFrame(rows, "doc_id: long, lang: string, text: string")


TRUE_PAIRS = {(10_000 + 2 * p, 10_001 + 2 * p) for p in range(10)}


def test_df_cap_bounds_boilerplate_skew(spark):
    """1k docs sharing one boilerplate sentence: uncapped, every
    boilerplate shingle has df=1000 and the inverted-index self-join
    is quadratic (~19M intermediate rows, ~500k output pairs). With
    the df cap the boilerplate shingles drop out of candidate
    generation entirely, output is exactly the true near-dup pairs,
    and the join stays O(true pairs)."""
    from ray_mapreduce_spark.plans.dedup import minhash_pairs, ngram_jaccard_pairs

    docs = _adversarial_corpus(spark, n_boiler=1000)

    capped = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs, df_cap=100).collect()}
    assert capped == TRUE_PAIRS  # full recall on rare-shingle pairs, zero boilerplate pairs

    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_pairs(docs, bucket_cap=100).collect()}
    assert TRUE_PAIRS <= lsh  # LSH recall on jaccard~0.97 pairs
    assert all(a >= 10_000 for a, _ in lsh)  # no boilerplate-bucket pairs


def test_df_cap_is_noop_below_cap(spark):
    """Sanity: on a corpus where every shingle df is under the cap,
    capped and uncapped runs return identical pairs except the
    boilerplate-evidence ones — i.e. the cap's ONLY effect is
    removing pairs whose overlap is capped shingles."""
    from ray_mapreduce_spark.plans.dedup import ngram_jaccard_pairs

    docs = _adversarial_corpus(spark, n_boiler=120)
    uncapped = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs, df_cap=10**9).collect()}
    capped = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs, df_cap=100).collect()}
    assert capped <= uncapped
    assert TRUE_PAIRS <= capped
    # everything the cap removed is a boilerplate-only pair
    assert all(a < 10_000 and b < 10_000 for a, b in uncapped - capped)
    # and uncapped really did find the quadratic boilerplate pair set
    assert len(uncapped - capped) == 120 * 119 // 2


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    """Simhash hamming<=3 pairs should be textually close: spot-check
    that flagged pairs share a majority of tokens far above the global
    baseline."""
    rows = _rows(spark, sf_dir, "dedup_simhash_pairs")
    assert len(rows) > 0
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows[:50]]
    docs = {
        r["doc_id"]: set(r["text"].lower().split())
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    overlaps = []
    for a, b in pairs:
        ta, tb = docs[a], docs[b]
        overlaps.append(len(ta & tb) / len(ta | tb))
    assert sum(overlaps) / len(overlaps) > 0.3


def test_lsh_topk_recall_vs_brute(spark, sf_dir):
    """Multi-table sign-LSH ANN: returned cosines must agree with
    brute force, every query must get candidates, and recall@5 must
    clear the multi-table floor (measured 0.72/0.52 at sf0.001/sf0.01
    on these near-uniform vectors; the single-table variant sat under
    0.2 — that gap is why the plan probes L=8 independent tables)."""
    brute = {}
    for r in _rows(spark, sf_dir, "similarity_topk_brute"):
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    cos_by_pair = {}
    for r in _rows(spark, sf_dir, "similarity_topk_lsh"):
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        cos_by_pair[(r["query_id"], r["neighbor_id"])] = r["cosine"]
    assert approx, "LSH returned nothing"
    assert set(approx) == set(brute)  # every query produced candidates
    hits = sum(len(brute[q] & approx.get(q, set())) for q in brute)
    total = sum(len(v) for v in brute.values())
    assert hits / total >= 0.4, f"recall@5 {hits/total:.2f} below multi-table floor"
    # sanity: LSH cosines are true cosines (match brute where overlapping)
    brute_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in _rows(spark, sf_dir, "similarity_topk_brute")
    }
    for pair, c in cos_by_pair.items():
        if pair in brute_cos:
            assert abs(c - brute_cos[pair]) < 1e-6


def test_embedding_lsh_neardup_subset_and_recall(spark, sf_dir):
    """Multi-table sign-LSH near-dup pairs: every emitted pair must be
    a true >=0.35-cosine pair (verified from first principles), and
    recall vs the exact within-label pair set must clear the S-curve
    prediction (1-(1-(1-θ/π)^4)^8 ~ 0.7 at the threshold; measured
    0.71/0.77 at sf0.001/sf0.01)."""
    import math

    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    }

    def cosine(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return dot / (na * nb)

    lsh = {(r["id_a"], r["id_b"]): r["cosine"] for r in _rows(spark, sf_dir, "dedup_embedding_lsh")}
    assert lsh, "LSH near-dup returned nothing"
    for (a, b), c in lsh.items():
        true_cos = cosine(vecs[a], vecs[b])
        assert true_cos >= 0.35 - 1e-9, f"false pair {(a, b)}: {true_cos:.4f}"
        assert abs(c - round(true_cos, 4)) < 1e-6

    exact = {(r["id_a"], r["id_b"]) for r in _rows(spark, sf_dir, "dedup_embedding_cosine")}
    if exact:
        recall = len(exact & set(lsh)) / len(exact)
        assert recall >= 0.6, f"recall {recall:.2f} below S-curve floor"


def test_clusters_minhash_recall_vs_exact(spark, sf_dir):
    """Cluster-level cross-gate (VERDICT r5 #5): the minhash-sourced
    clustering (``dedup_clusters``, rows-only by design) is pinned
    against the hash-verified exact clustering
    (``dedup_clusters_exact``) on the same corpus.

    Contract, measured at sf0.001 AND sf0.1 (r6: recall 1.0 / 1.0,
    same-lang precision 1.0 / 1.0; minhash co-pairs 28 / 256 vs exact
    8 / 79 — every surplus pair is CROSS-lang, which the exact oracle
    excludes by construction: its DuckDB recursive closure blocks
    pairs on a.lang = b.lang, while minhash LSH verifies raw shingle
    jaccard across languages):

    1. recall — every exact co-clustered pair is co-clustered by the
       minhash pipeline;
    2. same-lang precision — every SAME-lang minhash pair edge is in
       the exact pair set (the LSH never invents a same-lang pair the
       inverted index wouldn't, because both verify jaccard >= 0.6
       over the same k=3 shingles).
    """
    from collections import defaultdict
    from itertools import combinations

    def co_pairs(name, idcol, ccol):
        by_c = defaultdict(list)
        for r in _rows(spark, sf_dir, name):
            by_c[r[ccol]].append(r[idcol])
        return {
            tuple(sorted(p))
            for docs in by_c.values()
            for p in combinations(docs, 2)
        }

    exact = co_pairs("dedup_clusters_exact", "doc_id", "cluster")
    mh = co_pairs("dedup_clusters", "doc_id", "cluster")
    if exact:
        recall = len(exact & mh) / len(exact)
        assert recall >= 0.9, f"cluster co-pair recall {recall:.2f}"

    langs = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    exact_pairs = {
        (r["doc_a"], r["doc_b"]) for r in _rows(spark, sf_dir, "dedup_ngram_jaccard")
    }
    mh_pairs = [
        (r["doc_a"], r["doc_b"]) for r in _rows(spark, sf_dir, "dedup_minhash_pairs")
    ]
    same_lang = [p for p in mh_pairs if langs[p[0]] == langs[p[1]]]
    bad = [p for p in same_lang if p not in exact_pairs]
    assert not bad, f"same-lang minhash pairs missing from exact set: {bad[:5]}"


def test_ivf_topk_cosine_agreement(spark, sf_dir):
    """IVF ANN: returned cosines must be true cosines (agree with the
    brute-force result wherever the pair overlaps), and every query
    must get results."""
    brute_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in _rows(spark, sf_dir, "similarity_topk_brute")
    }
    ivf = _rows(spark, sf_dir, "similarity_topk_ivf")
    assert ivf, "IVF returned nothing"
    assert len({r["query_id"] for r in ivf}) == len({q for q, _ in brute_cos})
    for r in ivf:
        pair = (r["query_id"], r["neighbor_id"])
        if pair in brute_cos:
            assert abs(r["cosine"] - brute_cos[pair]) < 1e-6


def test_multimodal_decode_deterministic(spark, sf_dir):
    a = sorted(map(tuple, _rows(spark, sf_dir, "multimodal_decode_features")))
    b = sorted(map(tuple, _rows(spark, sf_dir, "multimodal_decode_features")))
    assert a == b
    assert all(r[-1] is None for r in a)  # no decode errors on valid payloads
    # schema contract
    df = _Q["multimodal_decode_features"].builder(spark, sf_dir)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,mime:string,n_bytes:bigint,"
        "width:int,height:int,mean_luma:double,decode_error:string>"
    )


def test_multimodal_resize_and_frames(spark):
    from ray_mapreduce_spark.operators.multimodal import resize_images, sample_frames

    blobs = spark.createDataFrame(
        [(1, b"video-bytes-1", "video/fake"), (2, b"", "video/fake"), (3, b"img", "image/fake")],
        "doc_id: long, payload: binary, mime: string",
    )
    resized = {r["doc_id"]: r for r in resize_images(blobs, 32, 32).collect()}
    assert resized[1]["width"] == 32 and resized[1]["resize_error"] is None
    assert len(resized[1]["payload"]) > 0
    assert resized[2]["resize_error"] is not None  # empty payload diverted

    frames = sample_frames(blobs, n_frames=3, fps=2.0).collect()
    by_doc: dict = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == [1, 3]  # doc 2 zero-emitted
    assert [r["frame_no"] for r in sorted(by_doc[1], key=lambda r: r["frame_no"])] == [0, 1, 2]
    assert by_doc[1][0]["ts_ms"] == 0 and sorted(r["ts_ms"] for r in by_doc[1])[-1] == 1000
    # determinism
    again = sample_frames(blobs, n_frames=3, fps=2.0).collect()
    assert sorted(map(tuple, frames)) == sorted(map(tuple, again))


def test_multimodal_decode_error_branch(spark):
    """Empty payload diverts to decode_error instead of failing (U11)."""
    from ray_mapreduce_spark.operators.multimodal import decode_features

    blobs = spark.createDataFrame(
        [(1, b"ok-bytes", "image/fake"), (2, b"", "image/fake")],
        "doc_id: long, payload: binary, mime: string",
    )
    rows = {r["doc_id"]: r for r in decode_features(blobs).collect()}
    assert rows[1]["decode_error"] is None and rows[1]["width"] > 0
    assert rows[2]["decode_error"] is not None and rows[2]["width"] == 0
    # the nested worker copy must agree with the module-level spec fn
    from ray_mapreduce_spark.operators.multimodal import _fake_decode

    w, h, luma = _fake_decode(b"ok-bytes")
    assert (rows[1]["width"], rows[1]["height"], rows[1]["mean_luma"]) == (w, h, luma)


def test_multimodal_decoder_selection(spark):
    """Decoder selection (r3): auto falls back to the fake when PIL is
    absent (this container), forced-fake pins the stub values, and
    forced-real without PIL diverts every row via U11 — identical
    schema on every path, never a job failure."""
    from ray_mapreduce_spark.operators.multimodal import (
        _fake_decode,
        decode_features,
        real_decoder_available,
    )

    assert not real_decoder_available()  # container has no PIL
    blobs = spark.createDataFrame(
        [(1, b"ok-bytes", "image/fake")],
        "doc_id: long, payload: binary, mime: string",
    )
    w, h, luma = _fake_decode(b"ok-bytes")
    for mode in ("auto", "fake"):
        row = decode_features(blobs, mode=mode).collect()[0]
        assert (row["width"], row["height"], row["mean_luma"]) == (w, h, luma)
        assert row["decode_error"] is None
    forced = decode_features(blobs, mode="real").collect()[0]
    assert forced["decode_error"] is not None
    assert "unavailable" in forced["decode_error"]
    assert forced["width"] == 0


def test_simhash_saturation_guard_raises(spark):
    """An oversaturated corpus — a near-dup mega-family whose band
    buckets hold hundreds of docs each, so candidate generation goes
    quadratic — must FAIL LOUDLY at action time, not silently lose
    the over-cap buckets to the bucket_cap filter. 1600 docs sharing
    a 60-token base with one unique token each put ~1600 rows in each
    band's hot buckets: ~4*C(1600,2)/1600 ≈ 3200 candidate pairs per
    doc >> the 1024/doc ceiling (and max bucket 1600 > cap 1000, the
    silent-drop regime the guard exists to catch)."""
    from ray_mapreduce_spark.plans.dedup import simhash_pairs

    base = " ".join(f"tok{j}" for j in range(60))
    docs = spark.createDataFrame(
        [(i, f"{base} unique{i}") for i in range(1600)],
        "doc_id: long, text: string",
    )
    with pytest.raises(Exception, match="saturated"):
        simhash_pairs(docs).collect()


def test_simhash_saturation_guard_passes_diverse_corpus(spark):
    """A diverse corpus stays far under the saturation threshold and
    the guarded plan returns normally (empty or near-empty pairs)."""
    import random

    from ray_mapreduce_spark.plans.dedup import simhash_pairs

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(500)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.sample(vocab, 30))) for i in range(120)],
        "doc_id: long, text: string",
    )
    rows = simhash_pairs(docs).collect()
    assert isinstance(rows, list)


def test_candidate_pair_core_contract(spark):
    """functions/pairs.py on ten hand-built rows, cap 3: block x holds
    exactly the cap (kept), y one row (dropped: nothing to pair), z
    cap + 1 (dropped), and w repeats the x pair (1, 2), which comes out
    once per shared block — deduplication is the caller's job. The
    blocks imply C(3,2) + 0 + C(4,2) + C(2,2) = 10 candidate pairs for
    10 rows, so the guard passes at a limit of 1.0 per doc and raises
    just below it."""
    from collections import Counter

    from ray_mapreduce_spark.functions.pairs import canonical_pairs, cap_blocks, saturation_guard

    rows = [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "z"), (6, "z"), (7, "z"), (8, "z"),
            (1, "w"), (2, "w")]
    df = spark.createDataFrame(rows, "id: long, k: string")
    capped = cap_blocks(df, ["k"], 3)
    assert sorted(capped.collect()) == sorted(r for r in df.collect() if r["k"] in ("x", "w"))
    pairs = canonical_pairs(capped, ["k"], "id").select("a.id", "b.id").collect()
    assert Counter(tuple(r) for r in pairs) == {(1, 2): 2, (1, 3): 1, (2, 3): 1}

    message = ["blocks are saturated: ", " candidate pairs for ", " docs"]
    guarded = saturation_guard(df, ["k"], 1.0, *message)
    assert guarded.columns == df.columns
    assert sorted(guarded.collect()) == sorted(df.collect())
    capped_guarded = saturation_guard(df, ["k"], 1.0, *message, cap=3)
    assert sorted(capped_guarded.collect()) == sorted(capped.collect())
    with pytest.raises(Exception, match="saturated: 10.0 candidate pairs for 10.0 docs"):
        saturation_guard(df, ["k"], 0.99, *message).collect()


def test_ivf_kmeans_topk_agreement_and_recall(spark, sf_dir):
    """Trained-cell IVF: cosines must agree with brute force on
    overlapping pairs, every query answered, and recall@5 vs brute
    above the uniform-data floor. NOTE the driver embeddings are
    near-UNIFORM — the worst case for any IVF (no cluster structure
    for cells to align with; measured 0.38 here, same ballpark as
    seed-IVF) — so the meaningful recall pin lives in
    test_ann_adversarial.py, where clustered data measures 1.0 for
    trained cells vs 0.62/0.86 for seed sampling."""
    brute = {}
    for r in _rows(spark, sf_dir, "similarity_topk_brute"):
        brute.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["cosine"]
    ivf = _rows(spark, sf_dir, "similarity_topk_ivf_kmeans")
    assert ivf, "kmeans-IVF returned nothing"
    got: dict[int, set] = {}
    for r in ivf:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        if r["neighbor_id"] in brute.get(r["query_id"], {}):
            assert abs(r["cosine"] - brute[r["query_id"]][r["neighbor_id"]]) < 1e-6
    assert set(got) == set(brute)
    recalls = [
        len(got[q] & set(nbrs)) / len(nbrs) for q, nbrs in brute.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


# --------------------------------------------------------------------------
# Round-7 late additions: containment, hashed classifier, PMI,
# semantic (SemDeDup-style) kmeans dedup.


def test_containment_catches_subset_duplication(spark):
    """The operator's reason to exist: a short doc quoted wholesale
    inside a long one has LOW Jaccard (union dominated by the long
    doc) but containment ~1.0 for the short side. Jaccard at 0.6
    misses the pair; containment at 0.7 must catch it — and report the
    direction (contain_ab ~1, contain_ba small)."""
    from ray_mapreduce_spark.plans.dedup import containment_pairs, ngram_jaccard_pairs

    long_text = " ".join(f"body{i}" for i in range(100))
    short_text = " ".join(f"body{i}" for i in range(20))  # strict prefix
    other = " ".join(f"other{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, "en", short_text), (2, "en", long_text), (3, "en", other)],
        "doc_id: long, lang: string, text: string",
    )
    jac = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) not in jac  # jaccard 18/98 ~ 0.18 — invisible to jaccard dedup

    rows = {(r["doc_a"], r["doc_b"]): r for r in containment_pairs(docs).collect()}
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["contain_ab"] == 1.0  # all 18 shingles of the short doc are in the long doc
    assert r["contain_ba"] < 0.25


def test_containment_superset_of_jaccard_at_equal_threshold(spark, sf_dir):
    """max(containment) >= jaccard always (min <= union), so at the
    SAME threshold the containment pair set must contain the jaccard
    pair set — the algebraic relationship that makes containment the
    more sensitive screen."""
    from ray_mapreduce_spark.plans.dedup import (
        JACCARD_THRESHOLD,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    jac = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(d).collect()}
    cont = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(d, threshold=JACCARD_THRESHOLD).collect()
    }
    assert jac <= cont


def test_quality_classifier_margin_consistency(spark, sf_dir):
    """verdict is the sign of the integer margin, so it must agree
    with the sigmoid score's 0.5 crossing on every row, and scores
    stay in (0, 1)."""
    rows = _rows(spark, sf_dir, "text_quality_classifier")
    assert len(rows) > 0
    for r in rows:
        assert 0.0 < r["clf_score"] < 1.0 or r["clf_score"] in (0.0, 1.0)
        if r["clf_score"] > 0.5:
            assert r["verdict"] == "keep"
        elif r["clf_score"] < 0.5:
            assert r["verdict"] == "drop"


def test_bigram_pmi_ranks_planted_collocation_first(spark):
    """A planted collocation — two tokens that ONLY ever occur
    adjacent to each other — must out-PMI high-frequency independent
    pairs. 40 docs of shared filler (high count, low PMI) each
    containing 'san francisco' exactly once."""
    from ray_mapreduce_spark.plans.text_analysis import bigram_pmi

    filler = "the cat sat on the mat near the dog"
    docs = spark.createDataFrame(
        [(i, f"{filler} san francisco {filler}") for i in range(40)],
        "doc_id: long, text: string",
    )
    rows = bigram_pmi(docs, min_count=5, top_n=10).collect()
    assert rows, "no collocations found"
    top = rows[0]
    assert (top["w1"], top["w2"]) == ("san", "francisco")
    assert top["pair_count"] == 40
    # planted pair must strictly dominate any filler bigram
    filler_pmis = [r["pmi"] for r in rows[1:]]
    assert all(top["pmi"] > p for p in filler_pmis)


def test_semantic_kmeans_complete_and_consistent(spark, sf_dir):
    """Independent replay of the definition: the output must be
    EXACTLY the same-cluster pairs (per cluster_kmeans_assign's
    hash-verified assignment) whose exact numpy cosine clears the
    threshold — completeness and soundness in one set equality,
    computed outside Spark."""
    import numpy as np

    from ray_mapreduce_spark.plans.similarity import SEMANTIC_COS_THRESHOLD

    assign = {
        r["vec_id"]: r["cluster"]
        for r in _rows(spark, sf_dir, "cluster_kmeans_assign")
    }
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}
    ids = sorted(vecs)
    expected = set()
    for i, a in enumerate(ids):
        va = vecs[a]
        na = np.sqrt(va @ va)
        for b in ids[i + 1 :]:
            if assign[a] != assign[b]:
                continue
            vb = vecs[b]
            cos = (va @ vb) / (na * np.sqrt(vb @ vb))
            if cos >= SEMANTIC_COS_THRESHOLD:
                expected.add((a, b))
    got = {
        (r["id_a"], r["id_b"]): r["cluster"]
        for r in _rows(spark, sf_dir, "dedup_semantic_kmeans")
    }
    assert set(got) == expected
    # reported cluster ids match the assignment operator
    for (a, b), c in got.items():
        assert assign[a] == c and assign[b] == c


def test_survivors_quality_keeps_best_not_min_id(spark):
    """The operator's reason to exist vs dedup_survivors_window: in a
    near-dup cluster the HIGHEST-quality member must survive even
    when it has the larger doc_id (min-id would pick the other). On an
    equal-quality tie the smaller doc_id survives."""
    from ray_mapreduce_spark.plans.dedup import survivors_quality

    # doc 1: 30-token doc with every token repeated (low diversity ->
    # low quality); doc 2: near-identical but with distinct tail
    # tokens (higher diversity -> higher quality). jaccard >= 0.6.
    base = " ".join(f"tok{i}" for i in range(28))
    low = base + " tok0 tok1"          # repeats drop uniq ratio
    high = base + " fresh1 fresh2"
    solo = (3, "en", "solo doc entirely different")
    # second input: docs 8 and 5 share one text (jaccard 1, equal
    # quality), the larger id listed first.
    cases = [
        ([(1, "en", low), (2, "en", high), solo], {1: (2, 2), 3: (3, 1)}),
        ([(8, "en", high), (5, "en", high), solo], {5: (5, 2), 3: (3, 1)}),
    ]
    for docs, want in cases:
        frame = spark.createDataFrame(docs, "doc_id: long, lang: string, text: string")
        rows = survivors_quality(frame).collect()
        # cluster -> (survivor doc_id, n_members)
        assert {r["cluster"]: (r["doc_id"], r["n_members"]) for r in rows} == want


def test_calibration_deciles_are_contiguous_and_monotone(spark, sf_dir):
    """Per lang: deciles 1..10 all present, tile sizes differ by at
    most 1 (ntile contract), and quality ranges never overlap across
    consecutive deciles."""
    rows = _rows(spark, sf_dir, "quality_calibration_deciles")
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert by_lang
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["decile"])
        assert [r["decile"] for r in rs] == list(range(1, 11)), lang
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1, lang
        for lo, hi in zip(rs, rs[1:]):
            assert lo["q_max"] <= hi["q_min"] + 1e-9, lang


def test_skew_profile_ranking_consistent(spark, sf_dir):
    """rk must be 1..N with n_events non-increasing, shares in (0,1]
    and skew_vs_avg proportional to share (same ratio for every row:
    skew = share * n_keys)."""
    rows = sorted(_rows(spark, sf_dir, "events_key_skew_profile"), key=lambda r: r["rk"])
    assert rows and [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    evs = [r["n_events"] for r in rows]
    assert evs == sorted(evs, reverse=True)
    for r in rows:
        assert 0 < r["share"] <= 1
        ratio = r["skew_vs_avg"] / r["share"]
        ratio0 = rows[0]["skew_vs_avg"] / rows[0]["share"]
        assert abs(ratio - ratio0) / ratio0 < 0.01  # common n_keys factor


def test_winsorize_clip_fractions(spark, sf_dir):
    """Each bound must clip ~1% of its type's rows (exact percentile
    semantics put at most 1% strictly outside each bound) and the
    bounds must be ordered."""
    rows = _rows(spark, sf_dir, "events_winsorize_stats")
    assert rows
    for r in rows:
        assert r["p01"] < r["p99"]
        assert r["n_below"] <= r["n_events"] * 0.01 + 1
        assert r["n_above"] <= r["n_events"] * 0.01 + 1
        assert r["n_below"] >= 1 and r["n_above"] >= 1  # 0.01 quantile interpolates inside the data at these group sizes


def test_bigram_logprob_prefers_fluent_docs(spark):
    """Context-awareness gate: 30 docs repeat the same sentence
    (every bigram common); one doc uses the SAME vocabulary in
    scrambled order (every bigram unseen, only smoothing mass). The
    scrambled doc must score strictly lower — a unigram model cannot
    make this distinction."""
    from ray_mapreduce_spark.plans.text_analysis import bigram_logprob_frame

    sent = "the quick brown fox jumps over the lazy dog again"
    scrambled = "dog the over quick again fox brown lazy jumps the"
    docs = [(i, sent) for i in range(30)] + [(99, scrambled)]
    frame = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob_frame(frame).collect()}
    fluent_scores = [got[i] for i in range(30)]
    assert all(s == fluent_scores[0] for s in fluent_scores)
    assert got[99] < fluent_scores[0] - 1.0  # decisively lower, not noise


def test_prefixfilter_equals_uncapped_exact(spark):
    """dedup_jaccard_prefixfilter's AllPairs plan is EXACT with no df
    cap: on the adversarial corpus it must return the uncapped
    inverted-index result bit-for-bit — true rare-shingle pairs AND
    every boilerplate-evidence pair the capped plan drops (7140 of
    them at n_boiler=120), with identical jaccard values."""
    from ray_mapreduce_spark.plans.dedup import (
        jaccard_prefixfilter_pairs,
        ngram_jaccard_pairs,
    )

    docs = _adversarial_corpus(spark, n_boiler=120)
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, df_cap=10**9).collect()
    }
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_prefixfilter_pairs(docs).collect()
    }
    assert pf == uncapped
    assert TRUE_PAIRS <= set(pf)
    assert len(pf) == len(TRUE_PAIRS) + 120 * 119 // 2


def test_token_entropy_bounds(spark, sf_dir):
    """Information-theoretic invariants at sf: 0 <= H <= ln(n_distinct)
    (norm_entropy in [0,1]), H == 0 exactly when the doc repeats one
    token, and n_distinct <= n_tokens."""
    import math

    from ray_mapreduce_spark.plans import all_queries

    rows = all_queries()["text_token_entropy"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_distinct"] <= r["n_tokens"]
        # 1e-4 tolerance: outputs carry a 4dp display round
        assert -1e-4 <= r["entropy"] <= math.log(r["n_distinct"]) + 1e-4
        assert -1e-4 <= r["norm_entropy"] <= 1 + 1e-4
        if r["n_distinct"] == 1:
            assert abs(r["entropy"]) < 1e-6


def test_anomaly_mad_rates_and_median_cover(spark, sf_dir):
    """MAD profile sanity: rates in [0,1] and consistent with counts;
    med/mad finite; every event_type present exactly once."""
    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.sources import load_table

    rows = all_queries()["events_anomaly_mad"].builder(spark, sf_dir).collect()
    types = {r["event_type"] for r in rows}
    expected = {
        r["event_type"]
        for r in load_table(spark, sf_dir, "events").select("event_type").distinct().collect()
    }
    assert types == expected
    for r in rows:
        assert 0.0 <= r["outlier_rate"] <= 1.0
        assert abs(r["outlier_rate"] - round(r["n_outliers"] / r["n_events"] + 1e-9, 4)) < 1e-6
        assert r["mad"] >= 0.0


def test_linreg_trend_invariants(spark, sf_dir):
    """OLS invariants: r2 in [0,1]; slope/intercept finite; a python
    replay of the closed-form sums from the raw rows reproduces the
    slope (pins the anchor/day construction, not just SQL parity)."""
    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.sources import load_table

    rows = all_queries()["events_linreg_trend"].builder(spark, sf_dir).collect()
    assert rows
    raw = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", F.unix_micros("ts").alias("us"))
        .collect()
    )
    t0 = min(r["us"] for r in raw)
    by_type: dict = {}
    for r in raw:
        by_type.setdefault(r["event_type"], []).append(
            ((r["us"] - t0) / 86400000000.0, r["value"])
        )
    for r in rows:
        assert -1e-6 <= r["r2"] <= 1 + 1e-4
        pts = by_type[r["event_type"]]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert abs(r["slope"] - slope) < 1e-4, (r["event_type"], r["slope"], slope)


def test_source_kl_nonnegative_and_sums(spark, sf_dir):
    """Gibbs' inequality: KL(source || corpus) >= 0 for every source,
    and the per-source token totals must sum to the corpus total."""
    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.sources import load_table

    rows = all_queries()["corpus_source_kl"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["kl_vs_corpus"] >= -1e-4, r
        assert r["n_distinct"] <= r["n_tokens"]
    total = sum(r["n_tokens"] for r in rows)
    n_corpus = (
        load_table(spark, sf_dir, "documents")
        .select(F.size(F.split(F.lower("text"), " ")).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    assert total == n_corpus


@pytest.mark.parametrize("k", [3, 5, 10])
def test_mg_heavy_hitters_exact_under_eviction(spark, k):
    """Force real sketch evictions (k counters ≪ distinct keys) on a
    zipf-ish corpus and require the composed sketch+refine output to
    equal the exact >n/k set — the candidate-completeness guarantee,
    not just the easy no-eviction path. 3 dominant tokens + 400 rare
    distinct tokens across 8 partitions."""
    from ray_mapreduce_spark.plans.text_analysis import heavy_hitters_mg

    rows = (
        [("alpha",)] * 300 + [("beta",)] * 200 + [("gamma",)] * 120
        + [(f"rare{i}",) for i in range(400)]
    )
    tok = spark.createDataFrame(rows, "token: string").repartition(8)
    n = len(rows)
    got = {r["token"]: r["n_occurrences"] for r in heavy_hitters_mg(tok, k).collect()}
    from collections import Counter

    true_counts = Counter(t for (t,) in rows)
    expect = {t: c for t, c in true_counts.items() if c * k > n}
    assert got == expect, (k, got, expect)


def test_markov_rows_normalize(spark, sf_dir):
    """Transition probabilities must sum to ~1 per from_type and
    transition counts must total n_events - n_users (each user
    contributes len-1 transitions)."""
    rows = _Q["events_markov_transitions"].builder(spark, sf_dir).collect()
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for ft, rs in by_from.items():
        assert abs(sum(r["prob"] for r in rs) - 1.0) < 1e-2, ft
    e = load_table(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert sum(r["n_trans"] for r in rows) == n_events - n_users


def test_rfm_quintiles_balanced(spark, sf_dir):
    """Each axis's quintile populations must be balanced to within
    one customer (ntile contract) and cover all customers."""
    rows = _Q["orders_rfm_segments"].builder(spark, sf_dir).collect()
    total = sum(r["n_customers"] for r in rows)
    for axis in ("r_score", "f_score", "m_score"):
        per = {}
        for r in rows:
            per[r[axis]] = per.get(r[axis], 0) + r["n_customers"]
        assert set(per) == {1, 2, 3, 4, 5}
        assert max(per.values()) - min(per.values()) <= 1, (axis, per)
    assert total == sum(v for v in per.values())


def test_power_iteration_rayleigh_bounds(spark, sf_dir):
    """The driver embeddings are near-isotropic (λ₁/λ₂ ≈ 1.02), so 3
    power iterations CANNOT align with the top eigenvector — the
    honest contract is the Rayleigh property: the eigenvalue estimate
    sits strictly between the mean eigenvalue (trace/dim, where the
    uniform start begins) and λ_max, and well toward the top
    (measured est/λ_max 0.77-0.87 across sfs; pinned ≥ 0.6)."""
    import numpy as np

    from ray_mapreduce_spark.sources import load_table

    rows = _Q["embedding_power_iteration"].builder(spark, sf_dir).collect()
    assert len(rows) == 64
    est = rows[0]["eigenvalue"]
    m = np.vstack(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings").select("embedding").collect()
        ]
    ).astype(np.float64)
    ev = np.linalg.eigvalsh(np.cov(m.T, bias=True))
    assert ev.mean() < est <= ev[-1] * 1.001, (est, ev.mean(), ev[-1])
    assert est >= 0.6 * ev[-1], (est, ev[-1])
    # unit vector (up to the 6dp per-component rounding)
    nrm = sum(r["component"] ** 2 for r in rows) ** 0.5
    assert abs(nrm - 1.0) < 1e-3


def test_power_iteration_converges_on_spiked_spectrum(spark, tmp_path):
    """On a gapped spectrum (one planted dominant direction) 3
    iterations DO converge: alignment with the true top eigenvector
    ≥ 0.99. This is the convergence-rate contract the isotropic
    driver data cannot exercise."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    spike = rng.normal(size=64)
    spike /= np.linalg.norm(spike)
    m = (
        np.outer(rng.normal(size=300) * 3.0, spike)
        + 0.1 * rng.normal(size=(300, 64))
    ).astype(np.float32)
    pd.DataFrame(
        {
            "vec_id": np.arange(300),
            "embedding": list(m),
            "label": np.zeros(300, dtype=np.int32),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    rows = _Q["embedding_power_iteration"].builder(spark, str(tmp_path)).collect()
    v = np.zeros(64)
    for r in rows:
        v[r["dim_i"] - 1] = r["component"]
    ev, evec = np.linalg.eigh(np.cov(m.astype(np.float64).T, bias=True))
    align = abs(np.dot(v / np.linalg.norm(v), evec[:, -1]))
    assert align >= 0.99, align
    assert rows[0]["eigenvalue"] >= 0.9 * ev[-1]


# ---------------------------------------------------------------- r8 ops


def test_q13_keeps_zero_order_customers(spark, sf_dir):
    """The Q13 trap: the priority predicate lives in the JOIN
    condition, so customers whose only orders are urgent must appear
    in the c_count=0 bucket — and every customer must be counted
    exactly once across the histogram."""
    rows = _rows(spark, sf_dir, "q13_customer_distribution")
    n_customers = load_table(spark, sf_dir, "customer").count()
    assert sum(r["custdist"] for r in rows) == n_customers
    by_count = {r["c_count"]: r["custdist"] for r in rows}
    # the zero bucket = urgent-only customers PLUS customers with no
    # orders at all (none at sf0.001, present at sf0.1)
    o = load_table(spark, sf_dir, "orders")
    only_urgent = (
        o.groupBy("o_custkey")
        .agg(
            F.sum((F.col("o_orderpriority") != "1-URGENT").cast("int")).alias(
                "non_urgent"
            )
        )
        .filter(F.col("non_urgent") == 0)
        .count()
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    no_orders = c.join(
        o.select("o_custkey").distinct(),
        c.c_custkey == F.col("o_custkey"),
        "left_anti",
    ).count()
    assert by_count.get(0, 0) == only_urgent + no_orders


def test_q4_semi_join_counts_orders_once(spark, sf_dir):
    """An order with five late lines must count once (left-semi, not
    inner): total across priorities == distinct qualifying orders."""
    rows = _rows(spark, sf_dir, "q4_order_priority")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    qualifying = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .filter(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 90
        )
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert sum(r["order_count"] for r in rows) == qualifying


def test_q22_threshold_and_anti_join(spark, sf_dir):
    """Every reported customer group sits above the positive-balance
    average and none of its members ordered on/after the cutoff."""
    rows = _rows(spark, sf_dir, "q22_idle_capital")
    assert rows and all(r["numcust"] > 0 for r in rows)
    c = load_table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal")).collect()[0][0]
    )
    # totals are sums over customers strictly above the average
    for r in rows:
        assert r["totacctbal"] / r["numcust"] > avg_bal


def test_market_basket_pair_explosion_bounded(spark, sf_dir):
    """Pairs per order are C(width, 2): the self-join output over the
    whole corpus must equal the exact per-order sum — no pair lost,
    no pair double-counted (a < b ordering)."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    expected_pairs = (
        op.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("w"))
        .agg(F.sum(F.col("w") * (F.col("w") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    )
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"))
    total_pairs = a.join(
        b, (a.ok == b.ok2) & (F.col("pa") < F.col("pb"))
    ).count()
    assert total_pairs == int(expected_pairs)
    rows = _rows(spark, sf_dir, "orders_market_basket_pairs")
    assert all(r["part_a"] < r["part_b"] and r["lift"] > 0 for r in rows)
    counts = [r["n_both"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_user_overlap_jaccard_bounds(spark, sf_dir):
    """Jaccard in (0, 1]; shared <= min(set sizes); all C(types,2)
    pairs present (the synthetic users hit every type at any sf)."""
    rows = _rows(spark, sf_dir, "events_user_overlap")
    n_types = (
        load_table(spark, sf_dir, "events").select("event_type").distinct().count()
    )
    assert len(rows) == n_types * (n_types - 1) // 2
    for r in rows:
        assert 0 < r["jaccard"] <= 1.0001
        assert r["n_shared"] <= min(r["n_a"], r["n_b"])
        assert r["type_a"] < r["type_b"]


def test_dim_stats_cover_all_dims(spark, sf_dir):
    """One row per dimension, every row covering the whole corpus;
    min <= mean <= max and std >= 0."""
    rows = _rows(spark, sf_dir, "embedding_dim_stats")
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == 64
    assert {r["dim"] for r in rows} == set(range(64))
    for r in rows:
        assert r["n"] == n_vecs
        assert r["min_val"] <= r["mean"] <= r["max_val"]
        assert r["std"] >= 0.0


def test_truncation_loss_consistency(spark, sf_dir):
    """tokens_lost <= total and the loss rate matches the integer
    counters; truncated docs exist at every sf (cap 64 < max 99)."""
    rows = _rows(spark, sf_dir, "text_truncation_loss")
    assert rows
    assert any(r["n_truncated"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["tokens_lost"] <= r["total_tokens"]
        assert r["n_truncated"] <= r["n_docs"]
        expect = r["tokens_lost"] / r["total_tokens"]
        assert abs(r["loss_rate"] - expect) < 5e-4


def test_q2_argmax_picks_actual_best_shipper(spark, sf_dir):
    """Each reported supplier must actually ship the part, and carry
    the max acctbal among that part's shippers (suppkey tiebreak)."""
    rows = _rows(spark, sf_dir, "q2_best_supplier_per_part")
    assert len(rows) == 100
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    best = {
        r["l_partkey"]: (r["mx"], r["nsupp"])
        for r in ps.join(s, ps.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.max("s_acctbal").alias("mx"),
            F.countDistinct("l_suppkey").alias("nsupp"),
        )
        .collect()
    }
    for r in rows:
        mx, _ = best[r["p_partkey"]]
        assert abs(r["s_acctbal"] - round(mx, 2)) < 1e-9


def test_ngram_novelty_first_doc_and_mass_balance(spark, sf_dir):
    """The lowest doc_id is 100% novel by construction; novelty mass
    across docs equals the global distinct-shingle count (every
    shingle is novel exactly once)."""
    rows = _rows(spark, sf_dir, "text_ngram_novelty")
    first = min(r["doc_id"] for r in rows)
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[first]["novelty_rate"] >= 0.9999
    assert all(0 <= r["novelty_rate"] <= 1.0001 for r in rows)
    from ray_mapreduce_spark.plans.dedup import _shingle_hashes

    n_distinct_shingles = (
        _shingle_hashes(load_table(spark, sf_dir, "documents"))
        .select("s")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == n_distinct_shingles


def test_session_length_stats_match_sessionize(spark, sf_dir):
    """The stats row must describe exactly the sessionize output —
    shared-frame discipline (one definition, two consumers)."""
    sessions = _rows(spark, sf_dir, "events_sessionize_gap")
    stats = _rows(spark, sf_dir, "events_session_length_stats")[0]
    assert stats["n_sessions"] == len(sessions)
    assert stats["n_single"] == sum(1 for s in sessions if s["n_events"] == 1)
    mean = sum(s["n_events"] for s in sessions) / len(sessions)
    assert abs(stats["mean_events"] - mean) < 5e-4
    durs = sorted(s["end_us"] - s["start_us"] for s in sessions)
    assert durs[0] <= stats["p50_duration_us"] <= stats["p90_duration_us"] <= durs[-1]


def test_temperature_mixture_rebalances_toward_tail(spark, sf_dir):
    """keep fraction ∝ 1/sqrt(n_lang): the head language must keep a
    strictly smaller FRACTION than the tail language, total near the
    50% budget, and the kept set must be deterministic (hash-based)."""
    kept = _rows(spark, sf_dir, "sample_temperature_mixture")
    corpus = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from collections import Counter

    got = Counter(r["lang"] for r in kept)
    head = max(corpus, key=corpus.get)
    tail = min(corpus, key=corpus.get)
    assert corpus[head] > corpus[tail]
    assert got[head] / corpus[head] < got[tail] / corpus[tail]
    total = sum(corpus.values())
    assert 0.35 * total <= len(kept) <= 0.65 * total
    again = _rows(spark, sf_dir, "sample_temperature_mixture")
    assert sorted(map(tuple, kept)) == sorted(map(tuple, again))


def test_znorm_outliers_scores_sane(spark, sf_dir):
    """Σz² over 64 z-normalized dims has expectation ≈ 64; the top-20
    outliers must all sit above it, sorted descending."""
    rows = _rows(spark, sf_dir, "embedding_znorm_outliers")
    assert len(rows) == 20
    scores = [r["maha_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 64 for s in scores)


def test_cusum_peak_bounds_and_days(spark, sf_dir):
    """change_day must be inside the observed day range and the peak
    must equal the max |running deviation| recomputed in python."""
    rows = _rows(spark, sf_dir, "events_cusum_changepoint")
    assert len(rows) == 5
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.unix_micros("ts") / F.lit(86_400_000_000))
            .cast("bigint")
            .alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("m"))
        .collect()
    )
    from collections import defaultdict

    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], r["m"]))
    for r in rows:
        pts = sorted(series[r["event_type"]])
        assert r["n_days"] == len(pts)
        t = round(sum(m for _, m in pts) / len(pts) + 1e-9, 6)
        c, best_day, best = 0.0, None, -1.0
        for day, m in pts:
            c += m - t
            if abs(c) > best:
                best, best_day = abs(c), day
        assert r["change_day"] == best_day
        assert abs(r["cusum_peak"] - best) < 5e-6


def test_momentum_growth_consistent(spark, sf_dir):
    """Growth recomputes from the reported revenues; trailing3 is the
    mean of the last ≤3 reported revenues; months are contiguous."""
    rows = sorted(_rows(spark, sf_dir, "orders_revenue_momentum"),
                  key=lambda r: r["month"])
    assert rows[0]["mom_growth"] is None
    for i, r in enumerate(rows):
        lo = max(0, i - 2)
        t3 = sum(x["revenue"] for x in rows[lo : i + 1]) / (i + 1 - lo)
        assert abs(r["trailing3_avg"] - t3) < 0.02
        if i:
            g = (r["revenue"] - rows[i - 1]["revenue"]) / rows[i - 1]["revenue"]
            assert abs(r["mom_growth"] - g) < 5e-4


def test_gini_matches_python_and_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "events_user_gini")[0]
    counts = sorted(
        r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n, tot = len(counts), sum(counts)
    wsum = sum((i + 1) * x for i, x in enumerate(counts))
    g = 2.0 * wsum / (n * tot) - (n + 1.0) / n
    assert rows["n_users"] == n and rows["n_events"] == tot
    assert abs(rows["gini"] - g) < 5e-6
    assert 0.0 <= rows["gini"] < 1.0


def test_priority_drift_full_replay_including_missing_cells(spark, sf_dir):
    """Python replay of the COMPLETE chi-square over every
    (month, priority) cell — including obs=0 cells absent from the
    observed aggregate — must match the missing-cell-corrected
    closed form the query computes from observed cells only."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("m"),
            "o_orderpriority",
        )
        .count()
        .collect()
    )
    from collections import defaultdict

    obs, m_tot, p_tot = defaultdict(int), defaultdict(int), defaultdict(int)
    for r in cells:
        obs[(r["m"], r["o_orderpriority"])] = r["count"]
        m_tot[r["m"]] += r["count"]
        p_tot[r["o_orderpriority"]] += r["count"]
    total = sum(m_tot.values())
    rows = _rows(spark, sf_dir, "orders_priority_drift")
    assert len(rows) == len(m_tot)
    for r in rows:
        chi2 = sum(
            (obs.get((r["month"], p), 0) - m_tot[r["month"]] * (np / total)) ** 2
            / (m_tot[r["month"]] * (np / total))
            for p, np in p_tot.items()
        )
        assert abs(r["chi2"] - chi2) < 5e-4, r["month"]
        assert r["chi2"] >= 0
    assert any(r["chi2"] > 0.5 for r in rows)


def test_weighted_length_quantiles_ordering(spark, sf_dir):
    """Token weighting can only move quantiles RIGHT (long docs carry
    more mass): doc median ≤ token-weighted median ≤ token p90."""
    r = _rows(spark, sf_dir, "text_length_weighted_quantiles")[0]
    assert r["doc_median_len"] <= r["tok_weighted_median_len"]
    assert r["tok_weighted_median_len"] <= r["tok_weighted_p90_len"]
    d = load_table(spark, sf_dir, "documents")
    assert r["n_docs"] == d.count()
    tot = d.select(F.sum(F.size(F.split("text", " ")))).collect()[0][0]
    assert r["total_tokens"] == tot


def test_distinctive_terms_actually_distinctive(spark, sf_dir):
    """Every reported term must be RELATIVELY more frequent inside
    its source than outside it (the log-odds sign check, recomputed
    from raw counts), 5 rows per source."""
    rows = _rows(spark, sf_dir, "text_distinctive_terms")
    from collections import Counter

    per_source = Counter(r["source"] for r in rows)
    assert all(v == 5 for v in per_source.values())
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .groupBy("source", "t")
        .count()
        .collect()
    )
    c_st = {(r["source"], r["t"]): r["count"] for r in tok}
    n_s = Counter()
    c_t = Counter()
    for (s, t), c in c_st.items():
        n_s[s] += c
        c_t[t] += c
    n = sum(n_s.values())
    for r in rows:
        ins = c_st[(r["source"], r["term"])]
        assert ins == r["n_in_source"] >= 5
        rate_in = ins / n_s[r["source"]]
        rate_out = (c_t[r["term"]] - ins) / (n - n_s[r["source"]])
        if r["log_odds"] > 0:
            assert rate_in > rate_out, (r, rate_in, rate_out)


def test_cohort_ltv_monotone_and_mass_balance(spark, sf_dir):
    """Cumulative LTV never decreases within a cohort; revenue across
    all cells equals total order revenue; offsets are sane."""
    rows = _rows(spark, sf_dir, "orders_cohort_ltv")
    from collections import defaultdict

    by_cohort = defaultdict(list)
    for r in rows:
        assert r["since"] >= 0
        assert r["active_customers"] <= r["cohort_size"]
        by_cohort[r["cohort_month"]].append(r)
    for rs in by_cohort.values():
        rs.sort(key=lambda r: r["since"])
        ltvs = [r["cum_ltv_per_customer"] for r in rs]
        assert ltvs == sorted(ltvs)
        assert rs[0]["since"] == 0  # acquisition month always present
    total = sum(r["revenue"] for r in rows)
    expect = (
        load_table(spark, sf_dir, "orders")
        .agg(F.sum("o_totalprice"))
        .collect()[0][0]
    )
    assert abs(total - expect) < 0.02 * len(rows)


def test_bot_score_python_replay(spark, sf_dir):
    """Replay one user's features in python from raw events; flag
    semantics (volume AND regularity) hold for every row."""
    rows = _rows(spark, sf_dir, "events_bot_score")
    for r in rows:
        assert (r["bot_flag"] == 1) == (
            r["gap_cv"] is not None
            and r["gap_cv"] < 0.5001
            and r["n_events"] >= 50
        ) or r["gap_cv"] is None
    target = max(rows, key=lambda r: r["n_events"])
    ev = sorted(
        (r["us"], r["event_id"]) for r in
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") == target["user_id"])
        .select(F.unix_micros("ts").alias("us"), "event_id")
        .collect()
    )
    gaps = [(b[0] - a[0]) // 60_000_000 for a, b in zip(ev, ev[1:])]
    import math

    mean = sum(gaps) / len(gaps)
    cv = math.sqrt(sum(g * g for g in gaps) / len(gaps) - mean * mean) / mean
    assert target["n_events"] == len(ev)
    assert abs(target["gap_cv"] - cv) < 5e-4


def test_q8_market_share_bounds_and_replay(spark, sf_dir):
    """Shares live in [0, 1]; the German share recomputes from the raw
    joined frame for every year."""
    rows = _rows(spark, sf_dir, "q8_national_market_share")
    assert rows and all(0.0 <= r["mkt_share"] <= 1.0 for r in rows)
    from ray_mapreduce_spark.plans.relational import (
        Q8_PART_TYPE,
        Q8_REGION,
        Q8_SHARE_NATION,
    )

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_PART_TYPE)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r_ = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    s = load_table(spark, sf_dir, "supplier")
    sn = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    cn = n.join(r_, n.n_regionkey == r_.r_regionkey).select(
        F.col("n_nationkey").alias("cnk")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cnk"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("snk"))
        .groupBy(F.year("o_orderdate").alias("y"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == Q8_SHARE_NATION, rev)).alias("g"),
            F.sum(rev).alias("t"),
        )
        .collect()
    )
    expect = {r["y"]: (r["g"] or 0.0) / r["t"] for r in base}
    for r in rows:
        assert abs(r["mkt_share"] - expect[r["o_year"]]) < 5e-4


# ---------------------------------------------------------------------------
# r9: MinHash estimator audit + exact-substring span decontamination


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """dedup_minhash_estimate_pairs puts the k=16 sketch estimate
    next to the exact Jaccard for every pair — the estimator must
    actually track the truth (σ = sqrt(j(1-j)/16) ≈ 0.1 at j≈0.7;
    gates leave ~2-3σ headroom). Deterministic: the sha256 signature
    family is seed-free."""
    rows = all_queries()["dedup_minhash_estimate_pairs"].builder(
        spark, sf_dir
    ).collect()
    assert rows, "no pairs at this sf"
    errs = [abs(r.jaccard - r.est_jaccard) for r in rows]
    assert max(errs) <= 0.35, max(errs)
    assert sum(errs) / len(errs) <= 0.15, sum(errs) / len(errs)
    for r in rows:
        assert r.est_jaccard == round(r.n_match / 16.0, 4)


def test_substring_span_decon_planted_quote(spark):
    """A train doc quoting 8+ consecutive benchmark tokens must be
    flagged; a train doc with no 8-token overlap must not. Benchmark
    split = doc_id % 7 == 0."""
    from ray_mapreduce_spark.plans.dedup import substring_span_hits

    phrase = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        # benchmark doc (0 % 7 == 0) containing the phrase
        (0, "xx yy " + phrase + " zz ww"),
        # train doc quoting the phrase verbatim -> contaminated
        (1, "intro words here " + phrase + " closing words"),
        # train doc sharing only a 7-token prefix -> clean
        (2, "alpha bravo charlie delta echo foxtrot golf DIFFERENT tail words pad pad"),
        # train doc with no overlap at all -> clean
        (3, "one two three four five six seven eight nine ten"),
    ]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in substring_span_hits(d).collect()}
    assert 1 in out and out[1].n_hit >= 1
    assert out[1].hit_frac == round(out[1].n_hit / out[1].n_spans, 4)
    assert 2 not in out
    assert 3 not in out


def test_wilson_bound_below_rate_and_sample_size_aware(spark, sf_dir):
    """Wilson lower bound sits strictly below the raw rate whenever
    0 < k < n, stays in [0, 1], and a synthetic 2/2 supplier must not
    outrank a 580/600 one (the ranking property the statistic buys)."""
    rows = _rows(spark, sf_dir, "supplier_reliability_wilson")
    assert rows
    for r in rows:
        assert 0.0 <= r.wilson_lb <= 1.0
        if 0 < r.k < r.n:
            assert r.wilson_lb < r.ontime_rate
    # the ranking property, computed with the same formula in python
    import math

    def wlb(k, n, z=1.96):
        p = k / n
        return (p + z * z / (2 * n) - z * math.sqrt((p * (1 - p) + z * z / (4 * n) / n) / n)) / (
            1 + z * z / n
        )

    assert wlb(2, 2) < wlb(580, 600)


def test_profile_documents_invariants(spark, sf_dir):
    """doc_id is the primary key (distinct == rows, zero nulls); every
    column's null count is bounded by the row count."""
    rows = {r.col_name: r for r in _rows(spark, sf_dir, "profile_documents_columns")}
    assert set(rows) == {"doc_id", "text", "lang", "source", "n_chars"}
    pk = rows["doc_id"]
    assert pk.n_nulls == 0 and pk.n_distinct == pk.n_rows
    for r in rows.values():
        assert 0 <= r.n_nulls <= r.n_rows
        assert 1 <= r.n_distinct <= r.n_rows


def test_assortativity_in_pearson_range(spark, sf_dir):
    """Degree assortativity is a Pearson correlation: |r| <= 1 (or
    NULL when every node has the same degree); edge/node counts agree
    with the pagerank family's edge rule."""
    (row,) = _rows(spark, sf_dir, "graph_degree_assortativity")
    assert row.n_nodes > 0 and row.n_edges > 0
    if row.assortativity is not None:
        assert -1.0 <= row.assortativity <= 1.0


def test_sq8_error_bounded_by_half_step(spark, sf_dir):
    """Symmetric SQ8 rounds to the nearest code, so every squared
    error is <= (scale/2)^2 and the per-dim MSE (in 1e-12 units) is
    <= scale^2/4 * 1e12. Also: 64 dims, equal n everywhere."""
    rows = _rows(spark, sf_dir, "embedding_sq8_error")
    assert len(rows) == 64
    ns = {r.n for r in rows}
    assert len(ns) == 1
    for r in rows:
        assert r.scale > 0
        assert r.mse_p12 <= (r.scale * r.scale / 4) * 1e12 + 1.0


def test_backlog_running_sum_consistency(spark, sf_dir):
    """Backlog invariants: open_count == cumulative(opened - closed)
    at every change day, never negative, and total opened == total
    closed (every joined order eventually closes)."""
    rows = _rows(spark, sf_dir, "orders_open_backlog_daily")
    assert rows
    run = 0
    prev_day = ""
    for r in sorted(rows, key=lambda r: r.day):
        assert r.day > prev_day
        prev_day = r.day
        run += r.n_opened - r.n_closed
        assert run == r.open_count
        assert r.open_count >= 0
    assert run == 0
    assert sum(r.n_opened for r in rows) == sum(r.n_closed for r in rows)


def test_pca_histogram_covers_corpus(spark, sf_dir):
    """Histogram counts sum to the corpus size and the bucket edges
    tile the projection axis (lo == bucket * 0.05)."""
    from ray_mapreduce_spark.sources import load_table

    rows = _rows(spark, sf_dir, "embedding_pca_histogram")
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n for r in rows) == n_vecs
    for r in rows:
        assert r.lo == round(r.bucket * 0.05, 2)


def test_ab_test_aa_sanity(spark, sf_dir):
    """Hash-split halves of the same population: the readout is an
    A/A test, so |z| should be small (< 5 leaves huge slack — a
    biased assignment would blow far past it) and group sizes near
    balanced."""
    (row,) = _rows(spark, sf_dir, "events_ab_test_zscore")
    assert row.n0 > 0 and row.n1 > 0
    assert abs(row.n0 - row.n1) <= max(5, 0.2 * (row.n0 + row.n1))
    assert row.z is not None and abs(row.z) < 5.0
    assert 0.0 < row.rate0 < 1.0 and 0.0 < row.rate1 < 1.0


def test_gopher_filters_fire_and_pass(spark, sf_dir):
    """The rule set must be NON-degenerate on real data: some docs
    fail each individual rule class at least once across the corpus,
    most docs pass overall, and pass == AND of the flags."""
    rows = _rows(spark, sf_dir, "text_gopher_filters")
    n = len(rows)
    assert n > 0
    for r in rows:
        expected = int(r.flag_len and r.flag_wordlen and r.flag_rep)
        assert r["pass"] == expected
    n_pass = sum(r["pass"] for r in rows)
    assert 0 < n_pass < n  # both outcomes occur on this corpus


def test_consistency_rules_expected_violations(spark, sf_dir):
    """Referential integrity holds (zero orphans), domain rules hold,
    and the ship-before-order rule actually FIRES (backdated ships
    exist in this data — the rule engine is verified against a
    non-zero rule)."""
    rows = {r.rule: r for r in _rows(spark, sf_dir, "lineitem_consistency_rules")}
    assert rows["orphan_lineitem"].n_violations == 0
    assert rows["discount_out_of_range"].n_violations == 0
    assert rows["tax_out_of_range"].n_violations == 0
    assert rows["nonpositive_quantity"].n_violations == 0
    assert rows["nonpositive_price"].n_violations == 0
    assert rows["ship_before_order"].n_violations > 0
    for r in rows.values():
        assert r.n_checked == rows["orphan_lineitem"].n_checked


def test_truncation_fidelity_monotone(spark, sf_dir):
    """Fidelity is a prefix-norm ratio: increases with k, reaches <= 1,
    and k=32 of 64 near-isotropic dims should carry roughly sqrt(1/2)
    of the norm (well above sqrt(8/64))."""
    rows = sorted(_rows(spark, sf_dir, "embedding_truncation_fidelity"),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == [8, 16, 32]
    assert all(0.0 < r.min_fidelity <= r.mean_fidelity <= 1.0 for r in rows)
    assert rows[0].mean_fidelity < rows[1].mean_fidelity < rows[2].mean_fidelity
    assert rows[2].mean_fidelity > 0.5


def test_clustering_coefficient_consistency(spark, sf_dir):
    """lcc in [0,1]; triangles imply degree >= 2; lcc re-derivable
    from the integer counts in the same row."""
    rows = _rows(spark, sf_dir, "graph_clustering_coefficient")
    assert rows
    for r in rows:
        assert 0.0 <= r.lcc <= 1.0
        if r.n_triangles > 0:
            assert r.degree >= 2
        if r.degree >= 2:
            want = 2.0 * r.n_triangles / (r.degree * (r.degree - 1))
            assert abs(r.lcc - want) < 1e-5
        else:
            assert r.lcc == 0.0


def test_seasonal_forecast_smape_bounds(spark, sf_dir):
    """SMAPE terms are 2|a-f|/(a+f) in [0,2]; backtest days require a
    lag-7 observed day, so n_days is less than the type's full span."""
    rows = _rows(spark, sf_dir, "events_seasonal_forecast_smape")
    assert rows
    known = {"view", "click", "purchase", "signup", "error"}
    for r in rows:
        assert r.event_type in known
        assert r.n_days > 0
        assert 0.0 <= r.smape <= 2.0
        assert r.mean_daily > 0


def test_tokenizer_fertility_ordering(spark, sf_dir):
    """BPE-ish tokens are at least word tokens minus empty-string ws
    artifacts, so bytes/bpeish <= bytes/ws; all ratios positive."""
    rows = _rows(spark, sf_dir, "text_tokenizer_fertility")
    assert rows
    for r in rows:
        assert r.n_docs > 0 and r.ws_tokens > 0 and r.bpeish_tokens > 0
        assert r.bytes_per_bpeish_token <= r.bytes_per_ws_token
        assert r.fertility > 0.5


def test_attribution_linear_conservation(spark, sf_dir):
    """Exactly the two touch rows; credited value never exceeds total
    purchase value (floor-div credit loses only sub-micro remainders)."""
    rows = {r.event_type: r for r in
            _rows(spark, sf_dir, "events_attribution_linear")}
    assert set(rows) == {"view", "click"}
    total_attr = sum(r.attributed_value for r in rows.values())
    e = _Q["events_attribution_linear"].builder  # noqa: F841 (registry touch)
    from ray_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F
    purch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value").alias("s"))
        .collect()[0].s
    )
    assert 0 < total_attr <= purch + 1e-6
    assert all(r.n_touches > 0 for r in rows.values())


def test_edit_distance_pairs_catch_head_clones(spark, sf_dir):
    """Every pair sharing the full lowercase head-200 shares the
    blocking prefix by construction, so it must surface with dist=0,
    sim=1; all pairs are canonical and clear the threshold."""
    from ray_mapreduce_spark.plans.dedup import EDIT_HEAD_CHARS
    from ray_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F
    rows = _rows(spark, sf_dir, "dedup_edit_distance_pairs")
    got = {(r.doc_a, r.doc_b): r for r in rows}
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.dist >= 0
        assert 0.9 <= r.sim <= 1.0 + 1e-9
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.sha2(F.substring(F.lower("text"), 1, EDIT_HEAD_CHARS), 256).alias("h"),
        )
        .collect()
    )
    by_h = {}
    for r in d:
        by_h.setdefault(r.h, []).append(r.doc_id)
    clone_pairs = [
        (a, b)
        for ids in by_h.values()
        for i, a in enumerate(sorted(ids))
        for b in sorted(ids)[i + 1:]
    ]
    assert clone_pairs, "fixture should contain head-200 clones"
    for p in clone_pairs:
        assert p in got and got[p].dist == 0 and got[p].sim == 1.0


def test_ewma_volatility_bounds(spark, sf_dir):
    """std >= 0; ewma lies within each type's [min, max] daily mean;
    the first observed day of each type has ewma == its own mean (only
    the k=0 weight contributes)."""
    rows = _rows(spark, sf_dir, "events_ewma_volatility")
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        mns = [r.mean_daily for r in rs]
        lo, hi = min(mns), max(mns)
        for r in rs:
            assert r.ewm_std >= 0.0
            assert lo - 1e-3 <= r.ewma <= hi + 1e-3
        first = min(rs, key=lambda r: r.day)
        assert abs(first.ewma - first.mean_daily) < 1e-3
        assert first.ewm_std < 1e-3


def test_kcenter_coreset_properties(spark, sf_dir):
    """Greedy k-center invariants: the covering radius is
    non-increasing in the budget; picks are distinct; every pair of
    selected centers is separated by at least the final covering
    radius (the 2-approximation argument's separation property)."""
    import numpy as np

    rows = sorted(_rows(spark, sf_dir, "sample_kcenter_coreset"),
                  key=lambda r: r.sel_order)
    assert [r.sel_order for r in rows] == list(range(1, 9))
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == 8
    radii = [r.radius2 for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(radii, radii[1:]))
    assert radii[-1] >= 0.0
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(ids))
        .collect()
    }
    final_r = radii[-1]
    for i in range(8):
        for j in range(i + 1, 8):
            d = float(np.sum((vecs[ids[i]] - vecs[ids[j]]) ** 2))
            assert d >= final_r - 1e-3, (ids[i], ids[j], d, final_r)


def test_kcore_planted_semantics(spark):
    """Peel semantics on a planted graph: triangle {1,2,3} with a
    pendant chain 3-4-5-6. Synchronous k=2 peel: 6 leaves round 1;
    5 (now degree 1) leaves round 2; 4 leaves round 3; the triangle
    survives as the 2-core (peel_round=0). Exercises the roster-diff
    bookkeeping on multi-round chains, which the driver corpus only
    shows at sf0.1."""
    from ray_mapreduce_spark.plans.graph import kcore_peel_rounds

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    ).localCheckpoint(eager=True)
    got = {
        r.vec_id: r.peel_round
        for r in kcore_peel_rounds(edges, 2, 5).collect()
    }
    assert got == {1: 0, 2: 0, 3: 0, 4: 3, 5: 2, 6: 1}


def test_kcore_fixpoint_within_budget(spark, sf_dir):
    """The fixed KCORE_ROUNDS budget must BE the fixpoint on this
    corpus: zero removals in the final round (a peel round that
    removes nothing leaves the graph stable forever, so the round-0
    survivors are the true k-core). A regenerated-testdata graph
    that peels deeper fails here loudly instead of silently
    under-peeling."""
    from ray_mapreduce_spark.plans.graph import KCORE_ROUNDS

    rows = _rows(spark, sf_dir, "graph_kcore_peel")
    assert len(rows) > 0
    last = [r for r in rows if r.peel_round == KCORE_ROUNDS]
    assert last == [], f"peel did not stabilize: {len(last)} removals in final round"


def test_rrf_fusion_integer_identity(spark, sf_dir):
    """rrf_units must equal the exact integer formula from the two
    leg ranks (rank 0 = absent leg contributes nothing), and
    fused_rank must be the dense permutation ordered by
    (rrf_units DESC, doc_id)."""
    from ray_mapreduce_spark.plans.similarity import RRF_K, RRF_SCALE

    rows = _rows(spark, sf_dir, "similarity_rrf_fusion")
    assert rows
    for r in rows:
        want = (RRF_SCALE // (RRF_K + r.lex_rank) if r.lex_rank else 0) + (
            RRF_SCALE // (RRF_K + r.sem_rank) if r.sem_rank else 0
        )
        assert r.rrf_units == want, (r.doc_id, r.rrf_units, want)
        assert r.lex_rank > 0 or r.sem_rank > 0
    order = sorted(rows, key=lambda r: (-r.rrf_units, r.doc_id))
    assert [r.fused_rank for r in order] == list(range(1, len(rows) + 1))


def test_k_anonymity_generalization_monotone(spark, sf_dir):
    """Every generalization level must cover every customer exactly
    once, and coarser levels can only have FEWER groups (merging
    never splits)."""
    rows = _rows(spark, sf_dir, "privacy_k_anonymity")
    n_cust = load_table(spark, sf_dir, "customer").count()
    by_level = {}
    for r in rows:
        lv = by_level.setdefault(r.level, {"groups": 0, "rows": 0})
        lv["groups"] += r.n_groups
        lv["rows"] += r.n_rows
    assert set(by_level) == {0, 1, 2}
    for lv in by_level.values():
        assert lv["rows"] == n_cust
    assert by_level[2]["groups"] <= by_level[1]["groups"] <= by_level[0]["groups"]


def test_benford_digits_complete(spark, sf_dir):
    """All nine digit rows always present (zero-obs digits included);
    observed counts cover every order; expected counts sum to ~n;
    chi terms non-negative."""
    rows = sorted(_rows(spark, sf_dir, "orders_benford_digits"),
                  key=lambda r: r.digit)
    assert [r.digit for r in rows] == list(range(1, 10))
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_obs for r in rows) == n_orders
    assert abs(sum(r.exp_count for r in rows) - n_orders) < 0.01
    assert all(r.chi_term >= 0.0 for r in rows)


def test_split_leakage_consistent_with_pairs(spark, sf_dir):
    """The leakage matrix must partition the exact near-dup pair set:
    n_pairs sums to the dedup_ngram_jaccard pair count, split labels
    are canonical (split_a <= split_b), and recomputing each pair's
    splits in Python from the shared hash reproduces the matrix."""
    from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32

    def split_of(doc_id):
        b = (doc_id * KNUTH) % MOD_2_32 % 100
        return "train" if b < 90 else ("val" if b < 95 else "test")

    rows = _rows(spark, sf_dir, "dedup_split_leakage")
    pairs = _rows(spark, sf_dir, "dedup_ngram_jaccard")
    assert sum(r.n_pairs for r in rows) == len(pairs)
    want = {}
    for p in pairs:
        k = tuple(sorted((split_of(p.doc_a), split_of(p.doc_b))))
        want[k] = want.get(k, 0) + 1
    got = {(r.split_a, r.split_b): r.n_pairs for r in rows}
    assert got == want
    assert all(r.split_a <= r.split_b for r in rows)


def test_label_agreement_bounds_and_panel(spark, sf_dir):
    """Per-label audited counts must cover the whole fixed panel;
    matches are bounded by k*n_audited; agreement is the exact
    integer ratio. On a CLUSTERED fixture (labels = well-separated
    clusters) agreement must be ~1 — proving the op detects clean
    labels, not just chance."""
    from ray_mapreduce_spark.plans.similarity import (
        KNN_AGREE_K,
        KNN_AUDIT_N,
        embedding_label_agreement,
    )

    rows = _rows(spark, sf_dir, "embedding_label_agreement")
    total = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < KNN_AUDIT_N
    ).count()
    assert sum(r.n_audited for r in rows) == total
    for r in rows:
        assert 0 <= r.n_matches <= KNN_AGREE_K * r.n_audited
        assert abs(r.agreement - round(r.n_matches / (KNN_AGREE_K * r.n_audited), 4)) < 1e-9

    # clustered fixture: 4 labels at orthogonal-ish corners, 40 vecs
    import random

    rng = random.Random(7)
    rows_fx = []
    for vid in range(40):
        lab = vid % 4
        base = [0.0] * 8
        base[lab * 2] = 10.0
        rows_fx.append(
            (vid, lab, [b + rng.uniform(-0.5, 0.5) for b in base])
        )
    fx = spark.createDataFrame(
        rows_fx, "vec_id long, label long, embedding array<double>"
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        fx.write.parquet(os.path.join(td, "embeddings.parquet"))
        got = {r.label: r.agreement
               for r in embedding_label_agreement(spark, td).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert all(a >= 0.99 for a in got.values()), got


def test_psi_drift_properties(spark, sf_dir):
    """PSI is symmetric-positive: every term (pa-pb)*ln(pa/pb) >= 0,
    so psi >= 0 (+bias); totals cover every event; identical halves
    would give ~0 (sanity via an A/A-style bound: psi finite and
    small on this stationary synthetic stream)."""
    rows = _rows(spark, sf_dir, "events_psi_drift")
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_a + r.n_b for r in rows) == n_events
    for r in rows:
        assert r.psi >= 0.0
        assert r.psi < 1.0, r  # stationary generator: far below alert level


def test_seasonal_index_properties(spark, sf_dir):
    """Ratio-to-CMA invariants: all 12 calendar months present (the
    orders axis spans years at every sf); indexes are positive and
    their n_obs-weighted mean is ~1 (the CMA normalization
    identity holds approximately on any series without extreme
    trend)."""
    rows = _rows(spark, sf_dir, "orders_seasonal_index")
    assert sorted(r.month_of_year for r in rows) == list(range(12))
    assert all(r.seasonal_index > 0 for r in rows)
    tot = sum(r.n_obs for r in rows)
    mean = sum(r.seasonal_index * r.n_obs for r in rows) / tot
    assert 0.9 < mean < 1.1, mean


def test_compression_quality_python_replay(spark, sf_dir):
    """Full Python replay of the rows-only zlib screen: recompute
    every per-language aggregate from raw documents with plain
    zlib/python and require EXACT equality (the
    sample_weighted_priority replay precedent — as strong as an
    oracle, just not SQL)."""
    import zlib

    from ray_mapreduce_spark.plans.pandas_udfs import ZLIB_LEVEL

    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    agg = {}
    for r in docs:
        raw = len(r.text.encode("utf-8"))
        comp = len(zlib.compress(r.text.encode("utf-8"), ZLIB_LEVEL))
        a = agg.setdefault(r.lang, {"n": 0, "raw": 0, "comp": 0, "ratios": []})
        a["n"] += 1
        a["raw"] += raw
        a["comp"] += comp
        a["ratios"].append(round(comp / raw, 6))
    got = {r.lang: r for r in _rows(spark, sf_dir, "text_compression_quality")}
    assert set(got) == set(agg)
    for lang, a in agg.items():
        g = got[lang]
        assert g.n_docs == a["n"]
        assert g.bytes_raw == a["raw"]
        assert g.bytes_comp == a["comp"]
        assert abs(g.comp_ratio - round(a["comp"] / a["raw"], 6)) < 1e-12
        assert abs(g.min_doc_ratio - min(a["ratios"])) < 1e-12
        assert abs(g.max_doc_ratio - max(a["ratios"])) < 1e-12


def test_compression_quality_separates_boilerplate(spark, tmp_path):
    """Planted separation: a corpus of one repeated sentence must
    compress far better than varied text — the signal the screen
    exists to produce."""
    import os

    from ray_mapreduce_spark.plans.pandas_udfs import text_compression_quality

    rep = "the same boilerplate sentence again and again " * 40
    varied = " ".join(f"tok{i}x{i * 7919 % 104729}" for i in range(240))
    rows = [(i, rep, "rep", "s", len(rep)) for i in range(20)] + [
        (100 + i, varied + f" uniq{i}", "var", "s", len(varied)) for i in range(20)
    ]
    fx = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fx.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = {r.lang: r.comp_ratio
           for r in text_compression_quality(spark, str(tmp_path)).collect()}
    assert got["rep"] < 0.1, got
    assert got["var"] > 0.3, got
    assert got["rep"] < got["var"] / 3


def test_diversity_gram_matches_bruteforce(spark, sf_dir):
    """The Gram-identity mean must equal the O(n^2) pairwise mean
    (numpy replay over the real corpus) to ~quantization error —
    proving the no-pairs shortcut computes the same statistic."""
    import numpy as np

    rows = load_table(spark, sf_dir, "embeddings").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(
            np.array(r.embedding, dtype=np.float64)
        )
    got = {r.label: (r.n, r.mean_pairwise_cos)
           for r in _rows(spark, sf_dir, "embedding_diversity_gram")}
    for label, vecs in by_label.items():
        if len(vecs) < 2:
            continue
        m = np.stack(vecs)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        g = m @ m.T
        n = len(vecs)
        want = (g.sum() - np.trace(g)) / (n * (n - 1))
        gn, gc = got[label]
        assert gn == n
        assert abs(gc - want) < 5e-5, (label, gc, want)


def test_dedup_funnel_consistent_with_layers(spark, sf_dir):
    """Funnel conservation + cross-checks against the standalone
    queries: exact layer matches dedup_exact's survivor count; the
    jaccard layer's removals equal the distinct doc_b count of
    dedup_ngram_jaccard (no exact dups on this corpus => same input
    set); every layer conserves n_in = n_removed + n_out and chains
    n_out -> next n_in."""
    rows = {r.layer: r for r in _rows(spark, sf_dir, "dedup_funnel_report")}
    assert set(rows) == {"exact", "ngram_jaccard", "embedding_cosine"}
    for r in rows.values():
        assert r.n_in == r.n_removed + r.n_out
    assert rows["exact"].n_out == rows["ngram_jaccard"].n_in
    assert rows["ngram_jaccard"].n_out == rows["embedding_cosine"].n_in
    n_exact = len(_rows(spark, sf_dir, "dedup_exact"))
    assert rows["exact"].n_out == n_exact
    if rows["exact"].n_removed == 0:
        jac = _rows(spark, sf_dir, "dedup_ngram_jaccard")
        assert rows["ngram_jaccard"].n_removed == len({p.doc_b for p in jac})


def test_langid_confusion_consistency(spark, sf_dir):
    """The matrix must re-aggregate text_lang_id's per-doc
    predictions exactly; per-truth shares sum to 1; row totals
    cover the whole corpus."""
    rows = _rows(spark, sf_dir, "text_langid_confusion")
    preds = _rows(spark, sf_dir, "text_lang_id")
    langs = {r.doc_id: r.lang
             for r in load_table(spark, sf_dir, "documents").collect()}
    want = {}
    for p in preds:
        k = (langs[p.doc_id], p.predicted_lang)
        want[k] = want.get(k, 0) + 1
    got = {(r.true_lang, r.predicted_lang): r.n for r in rows}
    assert got == want
    assert sum(r.n for r in rows) == len(langs)
    by_true = {}
    for r in rows:
        by_true.setdefault(r.true_lang, []).append(r.share)
    for shares in by_true.values():
        assert abs(sum(shares) - 1.0) < 5e-4


def test_next_event_accuracy_bounds(spark, sf_dir):
    """Backtest sanity: accuracy in [0,1] and is the exact integer
    ratio; on this near-uniform 5-type generator the argmax baseline
    must land in a loose band around chance (0.05..0.6) — a 1.0
    would mean the eval leaks training data."""
    rows = _rows(spark, sf_dir, "events_next_event_accuracy")
    assert rows
    for r in rows:
        assert 0 <= r.n_correct <= r.n_eval
        assert abs(r.accuracy - round(r.n_correct / r.n_eval, 4)) < 1e-9
        assert 0.05 <= r.accuracy <= 0.6, r


def test_hhi_and_stickiness_bounds(spark, sf_dir):
    """HHI lies in (10000/n_suppliers, 10000]; revenue conserves vs a
    direct lineitem sum. Stickiness lies in (1/7, 1] by construction
    (mean DAU <= WAU; a user active daily pushes it to 1)."""
    rows = _rows(spark, sf_dir, "supplier_brand_hhi")
    assert rows
    for r in rows:
        assert 10000.0 / r.n_suppliers - 1e-6 <= r.hhi <= 10000.0 + 1e-6, r
    li = load_table(spark, sf_dir, "lineitem")
    total = li.selectExpr(
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS c"
    ).collect()[0].c
    assert sum(r.revenue_cents for r in rows) == total

    st = _rows(spark, sf_dir, "events_dau_wau_stickiness")
    assert st
    for r in st:
        assert 1 <= r.n_days <= 7
        assert 0.0 < r.stickiness <= 1.0 + 1e-9, r
        assert r.dau_sum >= r.wau  # every weekly active is active >=1 day


def test_twap_interval_accounting(spark, sf_dir):
    """Per type: n_intervals must be exactly count-1, total_seconds
    the floor-div span of the (min, max) timestamps minus the
    per-interval sub-second losses (so bounded by the span), and
    twap must lie within the type's [min, max] value range."""
    rows = {r["event_type"]: r for r in _rows(spark, sf_dir, "timeseries_twap")}
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000").alias(
                "span_s"
            ),
        )
        .collect()
    )
    assert rows
    for e in ev:
        r = rows[e["event_type"]]
        assert r["n_intervals"] == e["n"] - 1
        assert 0 < r["total_seconds"] <= e["span_s"]
        assert e["lo"] - 1e-4 <= r["twap"] <= e["hi"] + 1e-4
        assert e["lo"] - 1e-4 <= r["unweighted_mean"] <= e["hi"] + 1e-4


def test_dedup_aware_weights_unit_mass(spark, sf_dir):
    """Every duplicate cluster must contribute exactly one unit of
    total weight: rows with dup_count=k come in multiples of k, each
    weighing round(1/k, 6); clusters of size >= 2 must exist (the
    corpus plants head-fingerprint template families at every sf)."""
    rows = _rows(spark, sf_dir, "sample_dedup_aware_weights")
    by_k: dict[int, int] = {}
    for r in rows:
        by_k[r["dup_count"]] = by_k.get(r["dup_count"], 0) + 1
        assert r["weight"] == round(1.0 / r["dup_count"], 6)
    assert max(by_k) >= 2, "no duplicate clusters — trivial oracle"
    for k, n in by_k.items():
        assert n % k == 0, f"cluster-size-{k} rows not a multiple of {k}"


def test_readability_flesch_python_replay(spark, sf_dir):
    """Full python replay of the three regexp counts and the score
    formula — the per-row arithmetic must match exactly (same
    literals, same order, same +1e-9 bias and +0.0 guard)."""
    import re

    rows = {r["doc_id"]: r for r in _rows(spark, sf_dir, "text_readability_flesch")}
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    checked = 0
    for d in docs[:200]:
        lo = d["text"].lower()
        w = len(re.findall("[a-z]+", lo))
        if w == 0:
            assert d["doc_id"] not in rows
            continue
        s = max(len(re.findall("[.!?]+", d["text"])), 1)
        y = len(re.findall("[aeiouy]+", lo))
        r = rows[d["doc_id"]]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (w, s, y)
        assert r["flesch"] == round(
            206.835 - 1.015 * (w / s) - 84.6 * (y / w) + 1e-9, 4
        ) + 0.0
        checked += 1
    assert checked >= 100


def test_l_diversity_covers_all_customers(spark, sf_dir):
    """The per-nation audit must partition the customer table: n_rows
    sums to the table count, at-risk counts are bounded by their
    nation's totals, and min_l >= 1."""
    rows = _rows(spark, sf_dir, "privacy_l_diversity")
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n_rows"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["min_l"]
        assert r["n_low_l_groups"] <= r["n_groups"]
        assert r["n_rows_at_risk"] <= r["n_rows"]


def test_silhouette_consistent_with_kmeans(spark, sf_dir):
    """Silhouette cells must be exactly the k-means cells (same
    shared Lloyd helpers): per-cluster populations match
    cluster_kmeans_assign, scores lie in [-1, 1], intra distances
    are non-negative."""
    sil = {r["cluster"]: r for r in _rows(spark, sf_dir, "cluster_silhouette_simplified")}
    counts: dict[int, int] = {}
    for r in _rows(spark, sf_dir, "cluster_kmeans_assign"):
        counts[r["cluster"]] = counts.get(r["cluster"], 0) + 1
    assert {c: r["n_points"] for c, r in sil.items()} == counts
    for r in sil.values():
        assert -1.0 <= r["mean_silhouette"] <= 1.0
        assert r["mean_intra_dist"] >= 0.0


def test_curriculum_interleave_round_robin(spark, sf_dir):
    """global_pos must be collision-free; per-lang ranks contiguous
    from 1; and the first |langs| positions must hold each language's
    best doc in lang order (the round-robin property)."""
    rows = _rows(spark, sf_dir, "sample_curriculum_interleave")
    pos = [r["global_pos"] for r in rows]
    assert len(set(pos)) == len(pos)
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rank_in_lang"])
    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang
    n_langs = len(by_lang)
    head = sorted(rows, key=lambda r: r["global_pos"])[:n_langs]
    assert [r["lang"] for r in head] == sorted(by_lang)
    assert all(r["rank_in_lang"] == 1 for r in head)


def test_gap_survival_monotone_and_complete(spark, sf_dir):
    """Survival must be non-increasing over bands, band 0 must cover
    everything (survival 1.0), and the gap count must equal
    n_events - n_users (one lead per user-consecutive pair)."""
    rows = sorted(_rows(spark, sf_dir, "events_gap_survival"), key=lambda r: r["band"])
    ev = load_table(spark, sf_dir, "events")
    n_gaps_expected = ev.count() - ev.select("user_id").distinct().count()
    assert sum(r["n_gaps"] for r in rows) == n_gaps_expected
    assert rows[0]["n_surviving"] == n_gaps_expected
    surv = [r["survival"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    los = [r["band_lo_min"] for r in rows]
    assert los == sorted(los)


def test_charclass_profile_python_replay(spark, sf_dir):
    """Exact python replay of the four counts, both ratios, and the
    cross-multiplied flag for 200 docs."""
    import re

    rows = {r["doc_id"]: r for r in _rows(spark, sf_dir, "text_charclass_profile")}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for d in docs[:200]:
        t = d["text"]
        n = len(t)
        a = len(re.findall("[a-z]", t.lower()))
        g = len(re.findall("[0-9]", t))
        s = t.count(" ")
        o = n - a - g - s
        r = rows[d["doc_id"]]
        assert (r["n_chars"], r["n_alpha"], r["n_digit"], r["n_other"]) == (n, a, g, o)
        assert r["alpha_ratio"] == round(a / n + 1e-9, 4)
        assert r["other_ratio"] == round(o / n + 1e-9, 4)
        assert r["symbol_heavy"] == (1 if o * 5 > n else 0)


def test_ushape_attribution_python_replay(spark, sf_dir):
    """Full python replay of the U-shaped credit rules over the raw
    event stream — role touch counts and attributed micro-unit sums
    must match exactly (conservation: credits sum to each group's
    purchase value, which the replay asserts too)."""
    rows = {r["role"]: r for r in _rows(spark, sf_dir, "events_attribution_ushape")}
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("us"), "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    tot = {"first": [0, 0], "last": [0, 0], "middle": [0, 0]}
    for _u, rs in by_user.items():
        rs.sort(key=lambda r: (r["us"], r["event_id"]))
        groups: list[list] = [[]]
        for r in rs:
            groups[-1].append(r)
            if r["event_type"] == "purchase":
                groups.append([])
        for grp in groups:
            if not grp or grp[-1]["event_type"] != "purchase":
                continue
            vu = round(grp[-1]["value"] * 100) * 10000
            n_t = len(grp) - 1
            if n_t == 0:
                continue
            if n_t == 1:
                f, l, m = vu, 0, 0
            elif n_t == 2:
                l = vu // 2
                f, m = vu - l, 0
            else:
                f = l = (2 * vu) // 5
                m = vu - f - l
            assert f + l + m == vu
            tot["first"][0] += 1
            tot["first"][1] += f
            if n_t >= 2:
                tot["last"][0] += 1
                tot["last"][1] += l
            if n_t >= 3:
                tot["middle"][0] += n_t - 2
                tot["middle"][1] += m
    for role, (n, u) in tot.items():
        assert rows[role]["n_touches"] == n, role
        assert rows[role]["attributed_value"] == round(u / 1e6 + 1e-9, 6), role


def test_threshold_curve_matches_jaccard_pairs(spark, sf_dir):
    """The cumulative curve at tenth 6 must equal dedup_ngram_jaccard's
    pair count exactly (jaccard >= 0.6 <=> 10*n_common >= 6*union —
    both integer-exact), and the cumulative column must be the suffix
    sum of the bands."""
    rows = sorted(_rows(spark, sf_dir, "dedup_threshold_curve"), key=lambda r: -r["tenth"])
    n_exact = len(_rows(spark, sf_dir, "dedup_ngram_jaccard"))
    at6 = sum(r["n_pairs_in_band"] for r in rows if r["tenth"] >= 6)
    assert at6 == n_exact
    run = 0
    for r in rows:
        run += r["n_pairs_in_band"]
        assert r["n_pairs_at_or_above"] == run


def test_hapax_ratio_consistency(spark, sf_dir):
    """Per-source token totals must match a direct count; hapax is
    bounded by vocab; share = hapax/vocab re-derived."""
    rows = {r["source"]: r for r in _rows(spark, sf_dir, "text_hapax_ratio")}
    tot = {
        r["source"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("source", F.size(F.split(F.lower("text"), " ")).alias("k"))
        .groupBy("source")
        .agg(F.sum("k").alias("n"))
        .collect()
    }
    assert set(rows) == set(tot)
    for s, r in rows.items():
        assert r["n_tokens"] == tot[s]
        assert 0 <= r["hapax"] <= r["vocab"] <= r["n_tokens"]
        assert r["hapax_share"] == round(r["hapax"] / r["vocab"] + 1e-9, 4)


def test_activity_migration_partitions_customers(spark, sf_dir):
    """The matrix must partition the customer table, use only the four
    class labels, and orderless customers land in ('0','0')."""
    rows = _rows(spark, sf_dir, "orders_activity_migration")
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    labels = {"0", "1", "2-3", "4+"}
    for r in rows:
        assert r["seg_before"] in labels and r["seg_after"] in labels
        assert r["n_customers"] > 0


def test_burstiness_bounds_and_gap_count(spark, sf_dir):
    """B must lie in [-1, 1]; total gap count = orders - active
    customers (one lead per consecutive pair per customer)."""
    rows = _rows(spark, sf_dir, "orders_interarrival_burstiness")
    o = load_table(spark, sf_dir, "orders")
    expected = o.count() - o.select("o_custkey").distinct().count()
    assert sum(r["n"] for r in rows) == expected
    for r in rows:
        assert -1.0 <= r["burstiness"] <= 1.0
        assert r["std_gap_days"] >= 0.0
        assert r["mean_gap_days"] > 0.0


def test_clip_calibration_tail_mass(spark, sf_dir):
    """64 dims; bounds ordered; each clipped tail holds at most ~1% of
    the corpus (interpolated quantile guarantees), never zero total
    coverage."""
    rows = _rows(spark, sf_dir, "embedding_clip_calibration")
    assert len(rows) == 64
    n = load_table(spark, sf_dir, "embeddings").count()
    for r in rows:
        assert r["p01"] <= r["p99"]
        assert 0 <= r["n_below"] <= int(0.011 * n) + 1
        assert 0 <= r["n_above"] <= int(0.011 * n) + 1


def test_abc_analysis_partitions_revenue(spark, sf_dir):
    """Classes partition the part set and the cent total; shares sum
    to ~1; the A boundary respects the 80% rule (cum <= 80% for every
    A part by construction, so A's share can't exceed 0.8 by more
    than nothing — it is <= 0.8 + epsilon from rounding only)."""
    rows = {r["abc_class"]: r for r in _rows(spark, sf_dir, "orders_abc_analysis")}
    assert set(rows) == {"A", "B", "C"}
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    total = li.select(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias("t")
    ).collect()[0]["t"]
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    assert sum(r["revenue_cents"] for r in rows.values()) == total
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 5e-4
    assert rows["A"]["revenue_share"] <= 0.8001


def test_overdispersion_mean_consistency(spark, sf_dir):
    """mean_daily must re-derive from the type's event count over its
    active days; dispersion is non-negative."""
    rows = {r["event_type"]: r for r in _rows(spark, sf_dir, "events_overdispersion")}
    per_type = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("d").alias("days"))
        .collect()
    )
    for t in per_type:
        r = rows[t["event_type"]]
        assert r["n_days"] == t["days"]
        assert r["mean_daily"] == round(t["n"] / t["days"] + 1e-9, 4)
        assert r["dispersion"] >= 0.0


def test_user_entropy_bands_cover_users(spark, sf_dir):
    """Band user counts partition the user set; entropies bounded by
    ln(#event types)."""
    import math

    rows = _rows(spark, sf_dir, "events_user_entropy_bands")
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    n_types = ev.select("event_type").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    cap = round(math.log(n_types) + 1e-4, 4)
    for r in rows:
        assert 0.0 <= r["mean_entropy"] <= r["max_entropy"] <= cap


def test_daily_peaks_python_replay(spark, sf_dir):
    """Exact replay: rebuild the daily series per type and recompute
    interior strict local maxima with gap-as-zero semantics."""
    got = {
        (r["event_type"], r["day"]): (r["n"], r["prev_n"], r["next_n"])
        for r in _rows(spark, sf_dir, "events_daily_peaks")
    }
    daily = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict[str, dict[int, int]] = {}
    for r in daily:
        series.setdefault(r["event_type"], {})[r["day"]] = r["n"]
    want = {}
    for t, m in series.items():
        days = sorted(m)
        for i, d in enumerate(days):
            if i == 0 or i == len(days) - 1:
                continue
            pn = m[d - 1] if d - 1 in m else 0
            nn = m[d + 1] if d + 1 in m else 0
            if m[d] > pn and m[d] > nn:
                want[(t, d)] = (m[d], pn, nn)
    assert got == want


def test_lead_time_consistency(spark, sf_dir):
    """Ship counts partition lineitem; percentiles ordered; numpy
    linear-interpolation replay of p50/p90 for the three largest
    suppliers (quantile_cont == numpy 'linear')."""
    import numpy as np

    rows = {r["suppkey"]: r for r in _rows(spark, sf_dir, "supplier_lead_time")}
    li_n = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r["n_ship"] for r in rows.values()) == li_n
    top = sorted(rows.values(), key=lambda r: -r["n_ship"])[:3]
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lags = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_suppkey", F.datediff("l_shipdate", "o_orderdate").alias("d"))
        .collect()
    )
    by_s: dict[int, list] = {}
    for r in lags:
        by_s.setdefault(r["l_suppkey"], []).append(r["d"])
    for r in top:
        arr = np.array(sorted(by_s[r["suppkey"]]), dtype=float)
        assert r["p50"] == round(float(np.percentile(arr, 50)), 4)
        assert r["p90"] == round(float(np.percentile(arr, 90)), 4)
        assert r["p50"] <= r["p90"]


def test_assortment_depth_partitions_parts(spark, sf_dir):
    rows = _rows(spark, sf_dir, "part_assortment_depth")
    n_parts = load_table(spark, sf_dir, "part").count()
    assert sum(r["n_parts"] for r in rows) == n_parts
    for r in rows:
        assert 1 <= r["n_brands"] <= r["n_parts"]
        assert r["min_price_cents"] <= r["max_price_cents"]
        assert r["min_price_cents"] / 100 <= r["avg_price"] <= r["max_price_cents"] / 100 + 1e-6


def test_cuped_readout_bounds(spark, sf_dir):
    """r^2 in [0, 1]; theta sign matches the covariance sign implied
    by r^2 ordering; user counts bounded by the type's distinct
    users."""
    rows = _rows(spark, sf_dir, "events_cuped_readout")
    assert rows
    per_type = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert 0.0 <= r["var_reduction"] <= 1.0 + 1e-9
        assert r["n_users"] <= per_type[r["event_type"]]
        if r["var_reduction"] > 1e-6:
            assert r["theta"] != 0.0


def test_tukey_fences_consistency(spark, sf_dir):
    """Fences partition events; python replay of the outlier count
    from the emitted quantiles."""
    rows = _rows(spark, sf_dir, "events_tukey_fences")
    by_type = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("value").alias("vals"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(by_type)
    for r in rows:
        src = by_type[r["event_type"]]
        assert r["n"] == src["n"]
        assert r["q1"] <= r["q3"]
        assert 0.0 <= r["outlier_share"] <= 0.5
        # replay with the emitted (rounded) quantiles: the rounded
        # fence classification can differ from the exact one only for
        # values within 1e-6 of a fence — assert the count is close
        # and exactly right for clearly-outside values.
        iqr = r["q3"] - r["q1"]
        lo, hi = r["q1"] - 1.5 * iqr, r["q3"] + 1.5 * iqr
        clearly = sum(1 for v in src["vals"] if v < lo - 1e-5 or v > hi + 1e-5)
        loose = sum(1 for v in src["vals"] if v < lo + 1e-5 or v > hi - 1e-5)
        assert clearly <= r["n_outliers"] <= loose


def test_pettitt_python_replay(spark, sf_dir):
    """Exact replay: rebuild the daily count series and recompute the
    full Pettitt U_t argmax in python."""
    got = _rows(spark, sf_dir, "events_pettitt_changepoint")[0]
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    series = sorted((r["day"], r["cnt"]) for r in daily)
    best = None
    for ti in range(len(series)):
        t = series[ti][0]
        u = 0
        for di, ci in series[: ti + 1]:
            for dj, cj in series[ti + 1 :]:
                u += (ci > cj) - (ci < cj)
        cand = (abs(u), -t, u)
        if best is None or cand > best:
            best = cand
    assert got["u_t"] == best[2]
    assert got["change_day"] == -best[1]
    assert got["abs_u"] == best[0]


def test_acf_lags_bounds(spark, sf_dir):
    """Pearson r bounded; pair counts shrink (weakly) with lag and
    match the day-overlap arithmetic."""
    rows = {r["lag"]: r for r in _rows(spark, sf_dir, "timeseries_acf_lags")}
    assert set(rows) == set(range(1, 8))
    days = {
        r["day"]
        for r in load_table(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .distinct()
        .collect()
    }
    for lag, r in rows.items():
        assert -1.0 <= r["r_count"] <= 1.0
        assert -1.0 <= r["r_value"] <= 1.0
        assert r["n_pairs"] == sum(1 for d in days if d + lag in days)


def test_discount_elasticity_numpy_replay(spark, sf_dir):
    """np.polyfit replay of the per-flag OLS to 1e-6."""
    np = pytest.importorskip("numpy")
    rows = _rows(spark, sf_dir, "lineitem_discount_elasticity")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_discount", "l_quantity")
        .collect()
    )
    by_flag: dict[str, list] = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (round(r["l_discount"] * 100), r["l_quantity"])
        )
    for r in rows:
        xs, ys = zip(*by_flag[r["l_returnflag"]])
        slope, intercept = np.polyfit(xs, ys, 1)
        cc = np.corrcoef(xs, ys)[0, 1]
        assert r["n"] == len(xs)
        assert abs(r["slope_qty_per_point"] - slope) < 1e-5
        assert abs(r["intercept"] - intercept) < 1e-4
        assert abs(r["r2"] - cc * cc) < 1e-5


def test_bloom_prefilter_agrees_with_plain_antijoin(spark, sf_dir):
    """End-to-end equivalence: the bloom stage is physical-only, so
    the classification must equal the direct EXISTS semantics; also
    replay the bloom's no-false-negative property in python — every
    true corpus dup must be a bloom candidate."""
    got = {r["lang"]: r for r in _rows(spark, sf_dir, "dedup_bloom_prefilter")}
    d = [
        (r["doc_id"], r["lang"], r["h"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.sha2(F.col("text"), 256).alias("h"))
        .collect()
    ]
    corpus = {h for doc_id, _, h in d if doc_id % 5 != 0}
    batch = sorted((doc_id, lang, h) for doc_id, lang, h in d if doc_id % 5 == 0)
    want: dict[str, list[int]] = {}
    seen: set[str] = set()
    for doc_id, lang, h in batch:
        w = want.setdefault(lang, [0, 0, 0, 0])
        w[0] += 1
        if h in corpus:
            w[1] += 1
        elif h in seen:
            w[2] += 1
        else:
            w[3] += 1
            seen.add(h)
    assert set(got) == set(want)
    for lang, (nb, ndc, ndb, na) in want.items():
        r = got[lang]
        assert (r["n_batch"], r["n_dup_vs_corpus"], r["n_dup_in_batch"], r["n_admitted"]) == (
            nb, ndc, ndb, na
        ), lang


def test_code_detection_separates_planted_code(spark, tmp_path):
    """Planted separation: code-looking docs (braces, semicolons,
    keywords) must cross the integer score threshold; prose must not
    — the routing signal the screen exists to produce."""
    import os

    code = (
        "def frob(x): { return x; } import os ; class Foo { void bar() "
        "{ a = b ; } } func main() { x = (a + b) ; return x ; } " * 6
    )
    prose = (
        "the quiet library held many old maps and letters from distant "
        "travelers who wrote about rivers mountains and long roads home " * 6
    )
    rows = [(i, code, "en", "codey", len(code)) for i in range(15)] + [
        (100 + i, prose, "en", "prosey", len(prose)) for i in range(15)
    ]
    fx = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fx.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = {r["source"]: r for r in _rows(spark, str(tmp_path), "text_code_detection")}
    assert got["codey"]["code_share"] == 1.0, got
    assert got["prosey"]["code_share"] == 0.0, got
    assert got["codey"]["mean_score"] > got["prosey"]["mean_score"] * 3


def test_did_readout_python_replay(spark, sf_dir):
    """Exact replay of the 2x2 cell means and the DiD estimate from
    the raw events (integer-cent arithmetic, hash coin, midpoint)."""
    rows = {r["event_type"]: r for r in _rows(spark, sf_dir, "events_did_readout")}
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("vc"),
        )
        .collect()
    )
    days = [r["day"] for r in ev]
    mid = (min(days) + max(days) + 1) // 2
    cells: dict[tuple, list[int]] = {}
    for r in ev:
        treat = (r["user_id"] * 2654435761) % 4294967296 % 2
        post = 1 if r["day"] >= mid else 0
        c = cells.setdefault((r["event_type"], treat, post), [0, 0])
        c[0] += 1
        c[1] += r["vc"]
    types = {k[0] for k in cells}
    for t in types:
        by = {(tr, po): cells.get((t, tr, po), [0, 0]) for tr in (0, 1) for po in (0, 1)}
        if any(by[k][0] == 0 for k in by):
            assert t not in rows
            continue
        mean = {k: by[k][1] / (100 * by[k][0]) for k in by}
        r = rows[t]
        assert r["n_treat"] == by[(1, 0)][0] + by[(1, 1)][0]
        assert r["n_control"] == by[(0, 0)][0] + by[(0, 1)][0]
        assert abs(r["treat_pre"] - mean[(1, 0)]) < 1e-3
        assert abs(r["did"] - ((mean[(1, 1)] - mean[(1, 0)]) - (mean[(0, 1)] - mean[(0, 0)]))) < 1e-3


def test_t_closeness_python_replay(spark, sf_dir):
    """Full python replay of the per-nation max total-variation
    distance and group counts from the raw customer rows."""
    from ray_mapreduce_spark.plans.advanced import KANON_BUCKET_CENTS

    got = {r["nation"]: r for r in _rows(spark, sf_dir, "privacy_t_closeness")}
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_nationkey").alias("nation"),
            F.expr(
                f"CAST(round(c_acctbal * 100) AS BIGINT) div {KANON_BUCKET_CENTS}"
            ).alias("bucket"),
            F.col("c_mktsegment").alias("seg"),
        )
        .collect()
    )
    n_tot = len(cust)
    glob: dict[str, int] = {}
    groups: dict[tuple, dict[str, int]] = {}
    for r in cust:
        glob[r["seg"]] = glob.get(r["seg"], 0) + 1
        g = groups.setdefault((r["nation"], r["bucket"]), {})
        g[r["seg"]] = g.get(r["seg"], 0) + 1
    per_nation: dict[int, list] = {}
    for (nation, _), segs in groups.items():
        sz = sum(segs.values())
        t = 0.5 * (
            sum(abs(c / sz - glob[s] / n_tot) for s, c in segs.items())
            + (1 - sum(glob[s] / n_tot for s in segs))
        )
        per_nation.setdefault(nation, []).append((sz, round(t + 1e-9, 6)))
    assert set(got) == set(per_nation)
    for nation, gs in per_nation.items():
        r = got[nation]
        assert r["n_groups"] == len(gs)
        assert r["n_rows"] == sum(sz for sz, _ in gs)
        assert abs(r["max_t"] - max(t for _, t in gs)) < 1e-9
        assert r["n_over_03"] == sum(1 for _, t in gs if t > 0.3)
        assert 0.0 <= r["max_t"] <= 1.0 + 1e-9


def test_hard_negatives_numpy_replay(spark, sf_dir):
    """Top-k replay: every returned negative has a different label,
    ranks are 1..K with cosine non-increasing, and the set matches
    the numpy brute-force top-k under the same (round(cos,4), id)
    order."""
    import numpy as np

    from ray_mapreduce_spark.plans.similarity import HARDNEG_K, KNN_AUDIT_N

    rows = _rows(spark, sf_dir, "sample_hard_negatives")
    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
    labels = {r["vec_id"]: r["label"] for r in emb}
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    panel = [i for i in vecs if i < KNN_AUDIT_N]
    assert set(by_q) == {i for i in panel if any(labels[j] != labels[i] for j in vecs)}
    for qid, got in by_q.items():
        got.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in got] == list(range(1, len(got) + 1))
        assert all(r["neg_label"] != labels[qid] for r in got)
        qv = vecs[qid]
        cand = []
        for vid, v in vecs.items():
            if vid == qid or labels[vid] == labels[qid]:
                continue
            cos = float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v)))
            cand.append((-round(cos, 4), vid))
        cand.sort()
        want = cand[:HARDNEG_K]
        assert [(r["neg_id"]) for r in got] == [vid for _, vid in want]
        for r, (negcos, _) in zip(got, want):
            assert abs(r["cos"] - (-negcos)) < 5e-4


def test_rolling_median_python_replay(spark, sf_dir):
    """Replay the trailing-7 median from the emitted locked daily
    means (statistics.median interpolates identically for the
    odd/even cases produced by quantile_cont at 0.5)."""
    import statistics

    rows = _rows(spark, sf_dir, "timeseries_rolling_median")
    by_type: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        means = [r["day_mean"] for r in series]
        for i, r in enumerate(series):
            window = means[max(0, i - 6) : i + 1]
            assert r["n_in_window"] == len(window)
            assert abs(r["rolling_median"] - statistics.median(window)) < 2e-6


def test_returnflag_anova_numpy_replay(spark, sf_dir):
    """Closed-form F replay from the raw quantities."""
    import numpy as np

    got = _rows(spark, sf_dir, "lineitem_returnflag_anova")[0]
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .collect()
    )
    groups: dict[str, list[float]] = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(float(r["l_quantity"]))
    k, n = len(groups), len(li)
    grand = sum(sum(g) for g in groups.values()) / n
    means = {f: np.mean(g) for f, g in groups.items()}
    ssb = sum(len(g) * (means[f] - grand) ** 2 for f, g in groups.items())
    ssw = sum(sum((x - means[f]) ** 2 for x in g) for f, g in groups.items())
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["k"] == k and got["n"] == n
    assert abs(got["ss_between"] - ssb) < max(1e-3, 1e-9 * abs(ssb))
    assert abs(got["f_stat"] - f) < 1e-4
    assert abs(got["eta_sq"] - ssb / (ssb + ssw)) < 1e-6


def test_scd2_intervals_python_replay(spark, sf_dir):
    """Exact replay of the run segmentation; interval-chain
    invariants (versions contiguous, valid_to = next valid_from,
    last = CURRENT, n_orders partitions the order count)."""
    rows = _rows(spark, sf_dir, "orders_scd2_intervals")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .collect()
    )
    by_cust: dict[int, list] = {}
    for r in orders:
        by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"], r["o_orderpriority"])
        )
    want: dict[int, list] = {}
    for cust, os_ in by_cust.items():
        os_.sort()
        runs = []
        for ts, _, prio in os_:
            if runs and runs[-1][0] == prio:
                runs[-1][2] += 1
            else:
                runs.append([prio, ts, 1])
        want[cust] = runs
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["custkey"], r["version"])):
        got.setdefault(r["custkey"], []).append(r)
    assert set(got) == set(want)
    for cust, runs in want.items():
        g = got[cust]
        assert [r["version"] for r in g] == list(range(1, len(runs) + 1))
        assert sum(r["n_orders"] for r in g) == len(by_cust[cust])
        for i, (r, (prio, ts, n)) in enumerate(zip(g, runs)):
            assert r["priority"] == prio
            assert r["n_orders"] == n
            assert r["valid_from"] == str(ts.date())
            if i + 1 < len(runs):
                assert r["valid_to"] == g[i + 1]["valid_from"]
            else:
                assert r["valid_to"] == "CURRENT"


def test_ks_two_sample_python_replay(spark, sf_dir):
    """Exact integer replay of the KS D numerator and the decision."""
    import math

    got = {r["event_type"]: r for r in _rows(spark, sf_dir, "events_ks_two_sample")}
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "value",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .collect()
    )
    days = [r["day"] for r in ev]
    mid = (min(days) + max(days) + 1) // 2
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["value"], r["day"] >= mid))
    for t, vals in by_type.items():
        pre = sorted(v for v, post in vals if not post)
        post = sorted(v for v, p in vals if p)
        n1, n2 = len(pre), len(post)
        grid = sorted(set(pre) | set(post))
        import bisect

        dnum = max(
            abs(bisect.bisect_right(pre, x) * n2 - bisect.bisect_right(post, x) * n1)
            for x in grid
        )
        r = got[t]
        assert (r["n_pre"], r["n_post"]) == (n1, n2)
        d = dnum / (n1 * n2)
        assert abs(r["d_stat"] - d) < 2e-6
        assert r["significant_05"] == (d > 1.358 * math.sqrt((n1 + n2) / (n1 * n2)))


def test_hill_tail_index_python_replay(spark, sf_dir):
    """Replay the Hill mean over the top-k value multiset."""
    import math

    from ray_mapreduce_spark.plans.advanced import HILL_K

    got = {r["event_type"]: r for r in _rows(spark, sf_dir, "events_hill_tail_index")}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for t, vals in by_type.items():
        vals.sort(reverse=True)
        if len(vals) < HILL_K:
            assert t not in got
            continue
        xk = vals[HILL_K - 1]
        hill = sum(math.log(v / xk) for v in vals[: HILL_K - 1]) / (HILL_K - 1)
        r = got[t]
        assert r["k_used"] == HILL_K - 1
        assert abs(r["x_k"] - xk) < 1e-6
        assert abs(r["hill_mean"] - hill) < 1e-5
        assert abs(r["tail_alpha"] - 1.0 / hill) < 1e-4


def test_reactivation_python_replay(spark, sf_dir):
    """Replay monthly win-back counts from the raw order stream."""
    from ray_mapreduce_spark.plans.relational import REACTIVATION_GAP_DAYS

    got = {r["yyyymm"]: r for r in _rows(spark, sf_dir, "orders_reactivation")}
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .collect()
    )
    by_cust: dict[int, list] = {}
    for r in orders:
        by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"].date(), r["o_orderkey"])
        )
    want: dict[int, list[int]] = {}
    for os_ in by_cust.values():
        os_.sort()
        prev = None
        for d, _ in os_:
            m = d.year * 100 + d.month
            w = want.setdefault(m, [0, 0, 0])
            w[0] += 1
            if prev is None:
                w[1] += 1
            elif (d - prev).days > REACTIVATION_GAP_DAYS:
                w[2] += 1
            prev = d
    assert set(got) == set(want)
    for m, (n, nf, nr) in want.items():
        r = got[m]
        assert (r["n_orders"], r["n_first"], r["n_reactivated"]) == (n, nf, nr)
        assert abs(r["reactivation_share"] - nr / n) < 2e-6


def test_qte_python_replay(spark, sf_dir):
    """Replay per-arm linear-interpolated deciles and the QTE."""
    import numpy as np

    rows = _rows(spark, sf_dir, "events_quantile_treatment_effect")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id", "value")
        .collect()
    )
    arms: dict[tuple, list] = {}
    for r in ev:
        treat = (r["user_id"] * 2654435761) % 4294967296 % 2
        arms.setdefault((r["event_type"], treat), []).append(r["value"])
    got: dict[tuple, dict] = {(r["event_type"], r["decile"]): r for r in rows}
    types = {t for t, _ in arms}
    for t in types:
        qt = np.quantile(arms[(t, 1)], [0.1 * k for k in range(1, 10)])
        qc = np.quantile(arms[(t, 0)], [0.1 * k for k in range(1, 10)])
        for k in range(1, 10):
            r = got[(t, k)]
            assert r["n_treat"] == len(arms[(t, 1)])
            assert r["n_control"] == len(arms[(t, 0)])
            assert abs(r["q_treat"] - qt[k - 1]) < 2e-6
            assert abs(r["q_control"] - qc[k - 1]) < 2e-6
            assert abs(r["qte"] - (qt[k - 1] - qc[k - 1])) < 4e-6


def test_quality_retention_curve_monotone(spark, sf_dir):
    """Retention must be monotone non-increasing in the cutoff and
    anchored: ~90% of docs survive the decile-1 cutoff (interpolated
    boundary), ~10% the decile-9 cutoff; token replay vs direct
    filter at each emitted cutoff."""
    rows = sorted(
        _rows(spark, sf_dir, "text_quality_retention_curve"),
        key=lambda r: r["cutoff_decile"],
    )
    assert [r["cutoff_decile"] for r in rows] == list(range(1, 10))
    for a, b in zip(rows, rows[1:]):
        assert a["n_docs"] >= b["n_docs"]
        assert a["n_tokens"] >= b["n_tokens"]
        assert a["cutoff_quality"] <= b["cutoff_quality"]
    n_all = round(rows[0]["n_docs"] / rows[0]["doc_share"])
    assert abs(rows[0]["doc_share"] - 0.9) < 0.05
    assert abs(rows[-1]["doc_share"] - 0.1) < 0.05
    # direct replay of one cutoff (the median)
    from ray_mapreduce_spark.plans.text_analysis import quality_raw_col

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.round(quality_raw_col() + F.lit(1e-9), 4).alias("q"),
            F.size(F.split("text", " ")).cast("bigint").alias("ntok"),
        )
        .collect()
    )
    assert n_all == len(d)
    mid = rows[4]
    keep = [r for r in d if r["q"] >= mid["cutoff_quality"] - 5e-7]
    strict = [r for r in d if r["q"] >= mid["cutoff_quality"] + 5e-7]
    assert len(strict) <= mid["n_docs"] <= len(keep)


def test_weekday_hour_heatmap_replay(spark, sf_dir):
    """Exact integer replay of the 7x24 grid."""
    got = {(r["dow"], r["hour"]): r for r in _rows(spark, sf_dir, "events_weekday_hour_heatmap")}
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts)").alias("us"))
        .collect()
    )
    want: dict[tuple, int] = {}
    for r in ev:
        dow = (r["us"] // 86400000000 + 3) % 7
        hour = (r["us"] // 3600000000) % 24
        want[(dow, hour)] = want.get((dow, hour), 0) + 1
    assert set(got) == set(want)
    dow_tot: dict[int, int] = {}
    for (dow, _), n in want.items():
        dow_tot[dow] = dow_tot.get(dow, 0) + n
    total = sum(want.values())
    for k, n in want.items():
        r = got[k]
        assert r["n"] == n
        assert abs(r["dow_share"] - n / dow_tot[k[0]]) < 2e-6
        assert abs(r["corpus_share"] - n / total) < 2e-6


def test_user_growth_curve_replay(spark, sf_dir):
    """Exact integer replay of the adoption frontier."""
    rows = sorted(
        _rows(spark, sf_dir, "events_user_growth_curve"), key=lambda r: r["day"]
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .collect()
    )
    first: dict[int, int] = {}
    per_day: dict[int, set] = {}
    n_events: dict[int, int] = {}
    for r in ev:
        first[r["user_id"]] = min(first.get(r["user_id"], r["day"]), r["day"])
        per_day.setdefault(r["day"], set()).add(r["user_id"])
        n_events[r["day"]] = n_events.get(r["day"], 0) + 1
    new_per_day: dict[int, int] = {}
    for u, d in first.items():
        new_per_day[d] = new_per_day.get(d, 0) + 1
    assert [r["day"] for r in rows] == sorted(per_day)
    cum = 0
    for r in rows:
        cum += new_per_day.get(r["day"], 0)
        assert r["n_events"] == n_events[r["day"]]
        assert r["n_active"] == len(per_day[r["day"]])
        assert r["n_new_users"] == new_per_day.get(r["day"], 0)
        assert r["n_cum_users"] == cum
    assert rows[-1]["n_cum_users"] == len(first)


def test_recency_decay_replay_and_calibration(spark, sf_dir):
    """Full python replay of the integer acceptance rule; the kept
    rate of the freshest bucket is exactly 1 and rates decay."""
    import hashlib

    from ray_mapreduce_spark.plans.sampling import (
        _HASH_SPACE,
        RECENCY_HALF_LIFE_DAYS,
        RECENCY_MAX_W,
    )

    got = {(r["event_type"], r["age_weeks"]): r
           for r in _rows(spark, sf_dir, "sample_recency_decay")}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", F.expr("unix_micros(ts)").alias("us"))
        .collect()
    )
    mx = max(r["us"] for r in ev)
    want: dict[tuple, list[int]] = {}
    for r in ev:
        w = min((mx - r["us"]) // (86400000000 * RECENCY_HALF_LIFE_DAYS),
                RECENCY_MAX_W)
        h = int(hashlib.sha256(str(r["event_id"]).encode()).hexdigest()[:6], 16)
        c = want.setdefault((r["event_type"], w), [0, 0])
        c[0] += 1
        if h * (1 << w) < _HASH_SPACE:
            c[1] += 1
    assert set(got) == set(want)
    for k, (nt, nk) in want.items():
        r = got[k]
        assert (r["n_total"], r["n_kept"]) == (nt, nk), k
        assert abs(r["expected_rate"] - 1.0 / (1 << k[1])) < 2e-6
    # freshest bucket keeps everything
    for (t, w), (nt, nk) in want.items():
        if w == 0:
            assert nk == nt


def test_window_funnel_python_replay(spark, sf_dir):
    """Exact replay of per-user max funnel depth within the window."""
    from ray_mapreduce_spark.plans.advanced import WINDOW_FUNNEL_HOURS

    W = WINDOW_FUNNEL_HOURS * 3600000000
    got = {r["depth"]: r for r in _rows(spark, sf_dir, "events_window_funnel")}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.expr("unix_micros(ts)").alias("us"))
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_type"]))
    want: dict[int, int] = {}
    for u, evs in by_user.items():
        views = sorted(us for us, t in evs if t == "view")
        clicks = sorted(us for us, t in evs if t == "click")
        purch = sorted(us for us, t in evs if t == "purchase")
        depth = 0
        if views:
            depth = 1
            for v in views:
                cs = [c for c in clicks if v < c <= v + W]
                if cs:
                    depth = max(depth, 2)
                    if any(p for p in purch for c in cs if c < p <= v + W):
                        depth = 3
                        break
        want[depth] = want.get(depth, 0) + 1
    assert {d: r["n_users"] for d, r in got.items()} == want
    n_all = len(by_user)
    for d, r in got.items():
        assert abs(r["user_share"] - want[d] / n_all) < 2e-6


def test_naive_bayes_langid_learns(spark, sf_dir):
    """The trained classifier must beat chance decisively on the
    synthetic corpus (distinct per-lang vocabularies) and cover every
    held-out lang; totals must match the split."""
    rows = _rows(spark, sf_dir, "text_naive_bayes_langid")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    test = [r for r in d if r["doc_id"] % 2 == 1]
    by_lang: dict[str, int] = {}
    for r in test:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    got = {r["true_lang"]: r for r in rows}
    assert set(got) == set(by_lang)
    n_correct = sum(r["n_correct"] for r in rows)
    n_test = sum(r["n_test"] for r in rows)
    assert n_test == len(test)
    for lang, r in got.items():
        assert r["n_test"] == by_lang[lang]
        assert 0.0 <= r["accuracy"] <= 1.0
    # The driver corpus gives ALL langs the SAME 31-token vocabulary —
    # language is frequency-only separable at ~54 tokens/doc, so the
    # honest NB floor is modestly above the 1/k=0.2 chance rate (the
    # IVF near-uniform-floor precedent); the planted-fixture test
    # below pins ~1.0 when real vocabulary signal exists.
    assert n_correct / n_test > 0.25, f"overall acc {n_correct / n_test:.2f}"


def test_naive_bayes_langid_separable_fixture(spark, tmp_path):
    """Planted separation: disjoint per-lang vocabularies must be
    classified ~perfectly by the trained NB."""
    import os

    from ray_mapreduce_spark.plans.text_analysis import text_naive_bayes_langid

    vocab = {
        "aa": "alpha beta gamma delta epsilon",
        "bb": "zork mumble frotz plugh xyzzy",
        "cc": "uno dos tres cuatro cinco",
    }
    rows = []
    i = 0
    for lang, words in vocab.items():
        for k in range(40):
            text = " ".join((words + " ").split() * 3) + f" {words.split()[k % 5]}"
            rows.append((i, text, lang, "s", len(text)))
            i += 1
    fx = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fx.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = {r["true_lang"]: r for r in text_naive_bayes_langid(spark, str(tmp_path)).collect()}
    assert set(got) == set(vocab)
    for lang, r in got.items():
        assert r["accuracy"] == 1.0, (lang, r)


def test_slo_burn_rate_replay(spark, sf_dir):
    """Exact replay of hourly burn rates and the page condition."""
    from ray_mapreduce_spark.plans.advanced import (
        SLO_FAST_BURN,
        SLO_SLOW_BURN,
        SLO_TARGET_MILLI,
    )

    budget = (1000 - SLO_TARGET_MILLI) / 1000.0
    rows = sorted(_rows(spark, sf_dir, "events_slo_burn_rate"), key=lambda r: r["hour"])
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("unix_micros(ts) div 3600000000").alias("hour"), "event_type"
        )
        .collect()
    )
    agg: dict[int, list[int]] = {}
    for r in ev:
        c = agg.setdefault(r["hour"], [0, 0])
        c[0] += 1
        if r["event_type"] == "error":
            c[1] += 1
    hours = sorted(agg)
    assert [r["hour"] for r in rows] == hours
    for i, r in enumerate(rows):
        n, n_err = agg[r["hour"]]
        w = hours[max(0, i - 5) : i + 1]
        n6 = sum(agg[h][0] for h in w)
        e6 = sum(agg[h][1] for h in w)
        assert (r["n"], r["n_err"]) == (n, n_err)
        b1, b6 = n_err / n / budget, e6 / n6 / budget
        assert abs(r["burn_1h"] - b1) < 2e-6
        assert abs(r["burn_6h"] - b6) < 2e-6
        assert r["page"] == (b1 > SLO_FAST_BURN and b6 > SLO_SLOW_BURN)


def test_duplicate_lines_screen_replay(spark, sf_dir):
    """Exact replay of the within-order duplicate-line groups."""
    rows = {(r["orderkey"], r["partkey"]): r
            for r in _rows(spark, sf_dir, "lineitem_duplicate_lines_screen")}
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        .collect()
    )
    from collections import defaultdict

    groups: dict[tuple, list] = defaultdict(list)
    for r in li:
        groups[(r["l_orderkey"], r["l_partkey"])].append(
            (r["l_suppkey"], int(r["l_quantity"]))
        )
    want = {k: v for k, v in groups.items() if len(v) > 1}
    assert set(rows) == set(want)
    assert len(want) > 0  # differentiated at every sf (checked r9)
    for k, lines in want.items():
        r = rows[k]
        assert r["n_lines"] == len(lines)
        assert r["n_suppliers"] == len({s for s, _ in lines})
        assert r["total_qty"] == sum(q for _, q in lines)
        assert r["max_qty"] == max(q for _, q in lines)
        assert r["same_supplier_dup"] == (len(lines) > len({s for s, _ in lines}))


def test_incremental_neardup_consistency(spark, sf_dir):
    """Every reported hit must be a true cross pair from the full
    pair set, and every cross pair must be reported (orientation
    batch->corpus)."""
    full = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in _rows(spark, sf_dir, "dedup_ngram_jaccard")}
    got = {(r["batch_doc"], r["corpus_doc"]): r["jaccard"]
           for r in _rows(spark, sf_dir, "dedup_incremental_neardup")}
    want = {}
    for (a, b), j in full.items():
        fa, fb = a % 5 == 0, b % 5 == 0
        if fa != fb:
            want[(a, b) if fa else (b, a)] = j
    assert got == want
    for (bd, cd) in got:
        assert bd % 5 == 0 and cd % 5 != 0


def test_user_similarity_python_replay(spark, sf_dir):
    """Replay the capped-universe jaccard top-N in python."""
    from ray_mapreduce_spark.plans.relational import CF_DF_CAP, CF_TOP_N

    rows = _rows(spark, sf_dir, "orders_user_similarity_jaccard")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect()
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    cust = {r["o_orderkey"]: r["o_custkey"] for r in od}
    bp = {(cust[r["l_orderkey"]], r["l_partkey"]) for r in li}
    from collections import defaultdict

    df: dict[int, int] = defaultdict(int)
    for _, pk in bp:
        df[pk] += 1
    keep = {(ck, pk) for ck, pk in bp if 2 <= df[pk] <= CF_DF_CAP}
    by_part: dict[int, list] = defaultdict(list)
    sz: dict[int, int] = defaultdict(int)
    for ck, pk in keep:
        by_part[pk].append(ck)
        sz[ck] += 1
    nc: dict[tuple, int] = defaultdict(int)
    for pk, cks in by_part.items():
        cks.sort()
        for i, a in enumerate(cks):
            for b in cks[i + 1 :]:
                nc[(a, b)] += 1
    cand = sorted(
        (
            -round(n / (sz[a] + sz[b] - n), 6),
            a,
            b,
            n,
        )
        for (a, b), n in nc.items()
        if n >= 2
    )[:CF_TOP_N]
    assert len(rows) == min(CF_TOP_N, len(cand))
    got = [(-r["jaccard"], r["cust_a"], r["cust_b"], r["n_common"]) for r in
           sorted(rows, key=lambda r: (-r["jaccard"], r["cust_a"], r["cust_b"]))]
    for g, w in zip(got, cand):
        assert g[1:] == w[1:]
        assert abs(g[0] - w[0]) < 2e-6


def test_lifecycle_stages_replay(spark, sf_dir):
    """Exact replay of the growth-accounting ledger, plus the
    identity n_active(day) = new + retained + resurrected."""
    rows = {r["day"]: r for r in _rows(spark, sf_dir, "events_lifecycle_stages")}
    ud = {
        (r["user_id"], r["day"])
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .distinct()
        .collect()
    }
    by_user: dict[int, list] = {}
    for u, d in ud:
        by_user.setdefault(u, []).append(d)
    want: dict[int, list[int]] = {}
    active: dict[int, set] = {}
    for u, days in by_user.items():
        days.sort()
        prev = None
        for d in days:
            w = want.setdefault(d, [0, 0, 0, 0])
            active.setdefault(d, set()).add(u)
            if prev is None:
                w[0] += 1
            elif prev == d - 1:
                w[1] += 1
            else:
                w[2] += 1
            prev = d
    for u, days in by_user.items():
        ds = set(days)
        for d in days:
            if d + 1 not in ds and (d + 1) in want:
                want[d + 1][3] += 1
    assert set(rows) == set(want)
    for d, (nn, nr, nres, nch) in want.items():
        r = rows[d]
        assert (r["n_new"], r["n_retained"], r["n_resurrected"]) == (nn, nr, nres)
        assert r["n_churned_from_prev"] == nch
        assert r["n_new"] + r["n_retained"] + r["n_resurrected"] == len(active[d])
        assert abs(r["quick_ratio"] - (nn + nres) / max(nch, 1)) < 2e-6


def test_balanced_langs_replay(spark, sf_dir):
    """Every lang keeps exactly n_min docs, chosen by smallest hash."""
    import hashlib

    rows = {r["lang"]: r for r in _rows(spark, sf_dir, "sample_balanced_langs")}
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    by_lang: dict[str, list] = {}
    for r in d:
        h = int(hashlib.sha256(str(r["doc_id"]).encode()).hexdigest()[:6], 16)
        by_lang.setdefault(r["lang"], []).append((h, r["doc_id"]))
    n_min = min(len(v) for v in by_lang.values())
    assert set(rows) == set(by_lang)
    for lang, lst in by_lang.items():
        lst.sort()
        r = rows[lang]
        assert r["n_before"] == len(lst)
        assert r["n_kept"] == n_min
        assert r["max_hash_kept"] == max(h for h, _ in lst[:n_min])
        assert abs(r["keep_rate"] - n_min / len(lst)) < 2e-6


def test_dataset_card_replay(spark, sf_dir):
    """Field-by-field replay of the one-row card."""
    import statistics

    from ray_mapreduce_spark.plans.text_analysis import quality_raw_col

    card = _rows(spark, sf_dir, "pipeline_dataset_card")[0]
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            "source",
            F.sha2(F.col("text"), 256).alias("h"),
            F.size(F.split("text", " ")).alias("ntok"),
            F.round(quality_raw_col() + F.lit(1e-9), 4).alias("q"),
        )
        .collect()
    )
    n = len(d)
    assert card["n_docs"] == n
    assert card["n_tokens"] == sum(r["ntok"] for r in d)
    assert card["n_langs"] == len({r["lang"] for r in d})
    assert card["n_sources"] == len({r["source"] for r in d})
    from collections import Counter

    hc = Counter(r["h"] for r in d)
    n_dup = sum(c - 1 for c in hc.values() if c > 1)
    assert card["n_exact_dup_rows"] == n_dup
    assert abs(card["exact_dup_rate"] - n_dup / n) < 2e-6
    assert abs(card["mean_quality"] - sum(r["q"] for r in d) / n) < 1e-5
    assert abs(card["p50_tokens"] - statistics.median(r["ntok"] for r in d)) < 1e-6
    lc = Counter(r["lang"] for r in d)
    top = sorted(lc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert card["top_lang"] == top[0]
    assert abs(card["top_lang_share"] - top[1] / n) < 2e-6


def test_peak_concurrency_replay(spark, sf_dir):
    """Sweep-line replay from the session intervals."""
    from ray_mapreduce_spark.plans.advanced import _session_aggs

    got = {r["day"]: r for r in _rows(spark, sf_dir, "events_peak_concurrency")}
    sess = _session_aggs(spark, sf_dir).collect()
    pts = []
    for r in sess:
        pts.append((r["start_us"], 1, r["user_id"], r["session_no"]))
        pts.append((r["end_us"] + 1, -1, r["user_id"], r["session_no"]))
    pts.sort()
    want: dict[int, list[int]] = {}
    open_now = 0
    for us, delta, _, _ in pts:
        open_now += delta
        if delta == 1:
            d = us // 86400000000
            w = want.setdefault(d, [0, 0])
            w[0] = max(w[0], open_now)
            w[1] += 1
    assert set(got) == set(want)
    for d, (peak, n) in want.items():
        assert (got[d]["peak_concurrency"], got[d]["n_sessions_started"]) == (peak, n)


def test_centroid_classifier_replay_and_learns(spark, sf_dir):
    """numpy replay of the nearest-centroid rule; on the clustered
    driver embeddings (label == cluster) accuracy must be high."""
    import numpy as np

    from ray_mapreduce_spark.plans.similarity import NC_QUANT

    rows = {r["true_label"]: r for r in _rows(spark, sf_dir, "similarity_centroid_classifier")}
    emb = load_table(spark, sf_dir, "embeddings").collect()
    train: dict[str, list] = {}
    test = []
    for r in emb:
        v = np.array(r["embedding"], dtype=np.float64)
        if r["vec_id"] % 2 == 0:
            train.setdefault(r["label"], []).append(v)
        else:
            test.append((r["label"], v))
    cents = {}
    for lab, vs in train.items():
        q = np.round(np.stack(vs) * NC_QUANT)
        cents[lab] = q.sum(axis=0) / (NC_QUANT * len(vs))
    correct: dict[str, list[int]] = {}
    for true_lab, v in test:
        scored = sorted(
            (round(float(((v - c) ** 2).sum()) + 1e-9, 4), lab)
            for lab, c in cents.items()
        )
        pred = scored[0][1]
        c = correct.setdefault(true_lab, [0, 0])
        c[0] += 1
        if pred == true_lab:
            c[1] += 1
    assert set(rows) == set(correct)
    total_n = total_c = 0
    for lab, (n, nc) in correct.items():
        r = rows[lab]
        assert (r["n_test"], r["n_correct"]) == (n, nc)
        total_n += n
        total_c += r["n_correct"]
    # The driver embeddings are near-ISOTROPIC (the IVF-floor
    # precedent): label centroids all sit near the global mean, so
    # nearest-centroid has no real-data signal — the exact replay
    # above IS the correctness gate here; the clustered fixture below
    # pins ~1.0 when geometric signal exists.
    assert total_n == sum(1 for r in emb if r["vec_id"] % 2 == 1)


def test_centroid_classifier_separable_fixture(spark, tmp_path):
    """Planted separation: 3 well-separated Gaussian clusters must be
    classified ~perfectly by the nearest-centroid rule."""
    import os

    import numpy as np

    from ray_mapreduce_spark.plans.similarity import (
        similarity_centroid_classifier,
    )

    rng = np.random.default_rng(7)
    rows = []
    i = 0
    for k, lab in enumerate(["aa", "bb", "cc"]):
        center = np.zeros(16)
        center[k] = 5.0
        for _ in range(60):
            v = center + rng.normal(0, 0.3, 16)
            rows.append((i, lab, [float(x) for x in v]))
            i += 1
    fx = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    fx.write.parquet(os.path.join(str(tmp_path), "embeddings.parquet"))
    got = {r["true_label"]: r
           for r in similarity_centroid_classifier(spark, str(tmp_path)).collect()}
    assert set(got) == {"aa", "bb", "cc"}
    for lab, r in got.items():
        assert r["accuracy"] == 1.0, (lab, r)


def test_supplier_switching_replay(spark, sf_dir):
    """Exact replay of the per-part switching ledger."""
    rows = {r["partkey"]: r for r in _rows(spark, sf_dir, "lineitem_supplier_switching")}
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .collect()
    )
    od = {r["o_orderkey"]: (r["o_custkey"], r["o_orderdate"])
          for r in load_table(spark, sf_dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate").collect()}
    from collections import defaultdict

    rel: dict[tuple, list] = defaultdict(list)
    for r in li:
        ck, d = od[r["l_orderkey"]]
        rel[(ck, r["l_partkey"])].append(
            (d, r["l_orderkey"], r["l_linenumber"], r["l_suppkey"])
        )
    want: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for (ck, pk), buys in rel.items():
        buys.sort()
        trans = len(buys) - 1
        switches = sum(1 for a, b in zip(buys, buys[1:]) if a[3] != b[3])
        w = want[pk]
        w[0] += 1
        if trans > 0:
            w[1] += 1
        w[2] += trans
        w[3] += switches
    want = {pk: w for pk, w in want.items() if w[2] > 0}
    assert set(rows) == set(want)
    for pk, (nr, nrr, nt, ns) in want.items():
        r = rows[pk]
        assert (r["n_relationships"], r["n_repeat_relationships"],
                r["n_transitions"], r["n_switches"]) == (nr, nrr, nt, ns)
        assert abs(r["switch_rate"] - ns / max(nt, 1)) < 2e-6


def test_metric_correlations_numpy_replay(spark, sf_dir):
    """numpy replay of the three cross-metric Pearson r values."""
    import numpy as np

    rows = {(r["metric_a"], r["metric_b"]): r
            for r in _rows(spark, sf_dir, "timeseries_metric_correlations")}
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "user_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("vc"),
        )
        .collect()
    )
    agg: dict[int, list] = {}
    for r in ev:
        a = agg.setdefault(r["day"], [0, set(), 0])
        a[0] += 1
        a[1].add(r["user_id"])
        a[2] += r["vc"]
    days = sorted(agg)
    cnt = np.array([agg[d][0] for d in days], dtype=np.float64)
    du = np.array([len(agg[d][1]) for d in days], dtype=np.float64)
    meanv = np.array([round(agg[d][2] / (100.0 * agg[d][0]), 6) for d in days])
    series = {"count": cnt, "distinct_users": du, "mean_value": meanv}
    assert set(rows) == {("count", "distinct_users"), ("count", "mean_value"),
                         ("distinct_users", "mean_value")}
    for (a, b), r in rows.items():
        assert r["n_days"] == len(days)
        want = float(np.corrcoef(series[a], series[b])[0, 1])
        assert abs(r["r"] - want) < 1e-5, (a, b, r["r"], want)
        assert -1.0 <= r["r"] <= 1.0


def test_edit_distance_block_saturation_guard_raises(spark):
    """VERDICT r9 #3: a template-headed corpus — one giant population
    behind a single shared 24-char prefix — must FAIL LOUDLY at
    action time instead of running a corpus-quadratic in-block join.
    600 docs sharing one prefix imply C(600,2)/600 ≈ 300 candidate
    pairs per doc > the 256/doc ceiling."""
    from ray_mapreduce_spark.plans.dedup import edit_distance_pairs

    prefix = "boilerplate header x 24"  # >= EDIT_BLOCK_CHARS chars
    assert len(prefix) >= 23
    docs = spark.createDataFrame(
        [(i, f"{prefix} body text unique{i}") for i in range(600)],
        "doc_id: long, t: string",
    )
    with pytest.raises(Exception, match="saturated"):
        edit_distance_pairs(docs).collect()


def test_edit_distance_guard_passes_diverse_corpus(spark):
    """Distinct heads keep every block tiny; the guarded plan returns
    normally, and a planted near-identical pair still surfaces."""
    from ray_mapreduce_spark.plans.dedup import edit_distance_pairs

    rows = [(i, f"doc number {i:06d} heads differ entirely here") for i in range(120)]
    rows.append((900, "doc number 000007 heads differ entirely herX"))
    docs = spark.createDataFrame(rows, "doc_id: long, t: string")
    out = edit_distance_pairs(docs).collect()
    assert any(r["doc_a"] == 7 and r["doc_b"] == 900 for r in out), out


def test_r10_additions_semantics(spark, sf_dir):
    """Semantic gates for the r10 additions beyond the oracle hash:
    burstiness >= 1 (cf >= df by construction), interarrival buckets
    hold 2^(bits-1) <= gap < 2^bits, Neyman allocation never
    over-spends the budget and shares sum to ~1, seasonal weekday
    deviations are volume-weighted-zero-mean over interior days, and
    the independence test's effect size lands in [0, 1]."""
    from ray_mapreduce_spark.plans import all_queries

    q = all_queries()

    b = q["text_token_burstiness"].builder(spark, sf_dir).collect()
    assert b and all(r["cf"] >= r["df"] and r["burstiness"] >= 1.0 for r in b)

    h = q["events_interarrival_histogram"].builder(spark, sf_dir).collect()
    assert h
    for r in h:
        lo = 0 if r["gap_bits"] == 1 else 2 ** (r["gap_bits"] - 1)
        assert lo <= r["min_gap_us"] <= r["max_gap_us"] < 2 ** r["gap_bits"]

    a = q["sample_neyman_allocation"].builder(spark, sf_dir).collect()
    assert a
    assert sum(r["alloc_n"] for r in a) <= 1000
    assert abs(sum(r["alloc_share"] for r in a) - 1.0) < 1e-3

    # Seasonal decompose: full python replay of the CMA + weekday
    # means from the raw daily counts (the exact semantic, not a
    # distributional heuristic — interior days aren't a multiple of
    # 7, so deviations need NOT net to zero).
    s = q["events_seasonal_decompose"].builder(spark, sf_dir).collect()
    assert s and all(0 <= r["weekday"] <= 6 for r in s)
    import duckdb as _dd

    daily = dict(
        _dd.sql(
            "SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000, count(*) "
            f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    days = sorted(daily)
    expect: dict[int, list[float]] = {}
    for ix in range(3, len(days) - 3):
        win = days[ix - 3 : ix + 4]
        if win[-1] - win[0] != 6:
            continue
        trend = sum(daily[d] for d in win) / 7.0
        expect.setdefault((days[ix] + 3) % 7, []).append(daily[days[ix]] - trend)
    assert {r["weekday"] for r in s} == set(expect)
    for r in s:
        vals = expect[r["weekday"]]
        assert r["n_days"] == len(vals)
        assert abs(r["seasonal"] - sum(vals) / len(vals)) < 1e-3

    i = q["corpus_lang_source_independence"].builder(spark, sf_dir).collect()
    assert len(i) == 1
    row = i[0]
    assert row["chi2"] >= 0 and 0.0 <= row["cramers_v"] <= 1.0
    assert row["dof"] == (row["n_langs"] - 1) * (row["n_sources"] - 1)


def test_r11_additions_semantics(spark, sf_dir):
    """Semantic gates for the r11 additions beyond the oracle hash:
    power-analysis sample sizes replay the closed form from raw
    moments; every price index is exactly 1 for the base month and
    replays in python for a later month; entropy rates respect the
    0..ln(k) information bounds and shares sum to 1; importance
    weights preserve total corpus mass and ESS <= N; JSD is
    symmetric-bounded in [0, ln 2] and replays in python for one
    source pair."""
    import math

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.advanced import (
        POWER_MDE_REL,
        POWER_Z_ALPHA,
        POWER_Z_BETA,
    )

    q = all_queries()

    # --- events_power_analysis: full closed-form replay ---
    p = q["events_power_analysis"].builder(spark, sf_dir).collect()
    assert p and all(r["n_per_arm"] > 0 for r in p)
    mom = {
        r[0]: r
        for r in _dd.sql(
            "SELECT event_type, count(*), "
            "sum(CAST(round(value*100) AS BIGINT)), "
            "sum(CAST(round(value*100) AS BIGINT)*CAST(round(value*100) AS BIGINT)) "
            f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
        ).fetchall()
    }
    for r in p:
        _, n, s1, s2 = mom[r["event_type"]]
        var = max(s2 / n - (s1 / n) ** 2, 0.0) / 10000
        delta = POWER_MDE_REL * (s1 / n / 100)
        want = math.ceil(2.0 * (POWER_Z_ALPHA + POWER_Z_BETA) ** 2 * var / delta**2)
        assert r["n_per_arm"] == want, (r["event_type"], r["n_per_arm"], want)

    # --- lineitem_price_index: base month == 1.0, python replay of
    # the LAST month from raw part-month aggregates ---
    idx = {r["month"]: r for r in q["lineitem_price_index"].builder(spark, sf_dir).collect()}
    base = min(idx)
    assert idx[base]["laspeyres"] == 1.0 == idx[base]["paasche"] == idx[base]["fisher"]
    pm = {}
    for pk, mo, cents, qty in _dd.sql(
        "SELECT l_partkey, strftime(l_shipdate, '%Y-%m'), "
        "sum(CAST(round(l_extendedprice*100) AS BIGINT)), "
        "sum(CAST(l_quantity AS BIGINT)) "
        f"FROM '{sf_dir}/lineitem.parquet' GROUP BY 1, 2"
    ).fetchall():
        pm[(pk, mo)] = (cents / qty, qty)
    last = max(idx)
    ln = lp = pn = pp_ = 0.0
    n_matched = 0
    for (pk, mo), (u_m, q_m) in pm.items():
        if mo != last or (pk, base) not in pm:
            continue
        u_b, q_b = pm[(pk, base)]
        n_matched += 1
        ln += u_m * q_b
        lp += u_b * q_b
        pn += u_m * q_m
        pp_ += u_b * q_m
    assert idx[last]["n_matched_parts"] == n_matched
    assert abs(idx[last]["laspeyres"] - ln / lp) < 1e-4
    assert abs(idx[last]["paasche"] - pn / pp_) < 1e-4
    assert abs(idx[last]["fisher"] - math.sqrt((ln / lp) * (pn / pp_))) < 1e-4

    # --- events_markov_entropy_rate: information bounds ---
    er = q["events_markov_entropy_rate"].builder(spark, sf_dir).collect()
    assert er
    assert abs(sum(r["state_share"] for r in er) - 1.0) < 1e-3
    for r in er:
        assert 0.0 <= r["cond_entropy"] <= math.log(r["n_next_types"]) + 1e-6
        assert abs(r["rate_contribution"] - r["state_share"] * r["cond_entropy"]) < 1e-3

    # --- sample_importance_reweight: mass preservation + Kish bound ---
    w = q["sample_importance_reweight"].builder(spark, sf_dir).collect()
    assert w
    n_total = sum(r["n_docs"] for r in w)
    assert abs(sum(r["n_docs"] * r["weight"] for r in w) - n_total) < 1e-3 * n_total
    assert all(r["weight"] > 0 for r in w)
    ess = w[0]["ess"]
    assert all(r["ess"] == ess for r in w)
    assert 0 < ess <= n_total + 1e-6

    # --- text_source_js_divergence: bounds + python replay of the
    # lexicographically first pair from raw token counts ---
    j = q["text_source_js_divergence"].builder(spark, sf_dir).collect()
    assert j and all(r["source_a"] < r["source_b"] for r in j)
    assert all(-1e-9 <= r["jsd_nats"] <= math.log(2) + 1e-6 for r in j)
    first = min((r["source_a"], r["source_b"]) for r in j)
    got = next(
        r["jsd_nats"] for r in j if (r["source_a"], r["source_b"]) == first
    )
    counts: dict[str, dict[str, int]] = {first[0]: {}, first[1]: {}}
    for src, tok, c in _dd.sql(
        "SELECT source, t, count(*) FROM ("
        "SELECT source, unnest(string_split(lower(text), ' ')) AS t "
        f"FROM '{sf_dir}/documents.parquet' "
        f"WHERE source IN ('{first[0]}', '{first[1]}')"
        ") GROUP BY 1, 2"
    ).fetchall():
        counts[src][tok] = c
    na, nb = sum(counts[first[0]].values()), sum(counts[first[1]].values())
    jsd = 0.0
    for tok in set(counts[first[0]]) | set(counts[first[1]]):
        pa = counts[first[0]].get(tok, 0) / na
        pb = counts[first[1]].get(tok, 0) / nb
        m = (pa + pb) / 2
        if pa:
            jsd += 0.5 * pa * math.log(pa / m)
        if pb:
            jsd += 0.5 * pb * math.log(pb / m)
    assert abs(got - jsd) < 1e-4, (got, jsd)


def test_late_r11_additions_semantics(spark, sf_dir):
    """Semantic gates for the late-r11 additions beyond the oracle
    hash: Mann-Whitney replays FULLY in python from raw rows
    (tie-averaged ranks by sorting) and the A/A hash split keeps z
    small and AUC near 1/2; the Spearman rho replays in python for
    one language and is bounded in [-1, 1]; every DP noise scale
    replays the closed form from the observed max."""
    import math

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32
    from ray_mapreduce_spark.plans.advanced import (
        DP_EPSILONS,
        DP_GAUSS_CONST,
    )

    q = all_queries()

    # --- events_mann_whitney: full python replay + A/A sanity ---
    mw = {
        r["event_type"]: r
        for r in q["events_mann_whitney"].builder(spark, sf_dir).collect()
    }
    assert mw
    rows = _dd.sql(
        "SELECT event_type, user_id, CAST(round(value*100) AS BIGINT) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    by_type: dict[str, list[tuple[int, int]]] = {}
    for t, uid, cents in rows:
        by_type.setdefault(t, []).append((uid * KNUTH % MOD_2_32 % 2, cents))
    for t, arms in by_type.items():
        vals = sorted(c for _, c in arms)
        # tie-averaged rank per distinct value (1-based)
        rank: dict[int, float] = {}
        i = 0
        while i < len(vals):
            j = i
            while j < len(vals) and vals[j] == vals[i]:
                j += 1
            rank[vals[i]] = (i + 1 + j) / 2.0
            i = j
        n = len(arms)
        n1 = sum(v for v, _ in arms)
        n0 = n - n1
        r1 = sum(rank[c] for v, c in arms if v == 1)
        u1 = r1 - n1 * (n1 + 1) / 2.0
        auc = u1 / (n0 * n1)
        ties = 0
        from collections import Counter

        for cnt in Counter(vals).values():
            ties += cnt**3 - cnt
        var = (n0 * n1 / 12.0) * ((n + 1) - ties / (n * (n - 1)))
        z = (u1 - n0 * n1 / 2.0) / math.sqrt(var)
        got = mw[t]
        assert got["n0"] == n0 and got["n1"] == n1
        assert abs(got["auc"] - auc) < 1e-4, (t, got["auc"], auc)
        assert abs(got["z"] - z) < 1e-3, (t, got["z"], z)
        # A/A split: no real effect by construction
        assert 0.4 < got["auc"] < 0.6 and abs(got["z"]) < 5.0

    # --- text_quality_length_spearman: bounds + one-lang replay ---
    sp = q["text_quality_length_spearman"].builder(spark, sf_dir).collect()
    assert sp and all(-1.0 <= r["spearman_rho"] <= 1.0 for r in sp)
    lang0 = min(r["lang"] for r in sp)
    got_rho = next(r["spearman_rho"] for r in sp if r["lang"] == lang0)
    docs = _dd.sql(
        f"SELECT text, n_chars FROM '{sf_dir}/documents.parquet' "
        f"WHERE lang = '{lang0}'"
    ).fetchall()

    def _quality(text: str) -> float:
        toks = text.split(" ")
        n_tok = len(toks)
        n_uniq = len(set(text.lower().split(" ")))
        n_ch = len(text)
        return round(
            0.4 * min(n_tok / 64.0, 1.0)
            + 0.4 * (n_uniq / n_tok)
            + 0.2 * min((n_ch / n_tok) / 8.0, 1.0)
            + 1e-9,
            6,
        )

    xs = [_quality(t) for t, _ in docs]
    ys = [c for _, c in docs]

    def _avg_ranks(vals: list) -> list[float]:
        order = sorted(vals)
        rk: dict = {}
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and order[j] == order[i]:
                j += 1
            rk[order[i]] = (i + 1 + j) / 2.0
            i = j
        return [rk[v] for v in vals]

    ra, rb = _avg_ranks(xs), _avg_ranks(ys)
    n = len(ra)
    sa, sb = sum(ra), sum(rb)
    saa = sum(a * a for a in ra)
    sbb = sum(b * b for b in rb)
    sab = sum(a * b for a, b in zip(ra, rb))
    rho = (n * sab - sa * sb) / (
        math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
    )
    assert abs(got_rho - rho) < 1e-4, (lang0, got_rho, rho)

    # --- privacy_dp_noise_calibration: closed-form replay ---
    dp = q["privacy_dp_noise_calibration"].builder(spark, sf_dir).collect()
    types = {r["event_type"] for r in dp}
    assert len(dp) == len(types) * len(DP_EPSILONS)
    mx = dict(
        _dd.sql(
            "SELECT event_type, max(CAST(round(value*100) AS BIGINT)) "
            f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    for r in dp:
        sens = mx[r["event_type"]] / 100.0
        assert abs(r["sensitivity"] - sens) < 1e-6
        assert abs(r["laplace_b"] - sens / r["epsilon"]) < 1e-5
        assert (
            abs(r["gaussian_sigma"] - sens * DP_GAUSS_CONST / r["epsilon"])
            < 1e-5
        )
        assert r["gaussian_sigma"] > r["laplace_b"]  # delta=1e-6 regime


def test_r12_additions_semantics(spark, sf_dir):
    """Semantic gates for the r12 additions beyond the oracle hash:
    Kaplan-Meier replays FULLY in python (censoring included) and is
    non-increasing; CMH replays in python and the A/A hash split
    keeps chi2 small; Good-Turing replays in python; the EWMA
    replays via the naive recurrence s_t=(s_{t-1}+x_t)/2 (the
    power-of-two form must be BIT-identical to it); the winsorized
    z replays from discrete-percentile-clamped values."""
    import math

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32

    q = all_queries()

    # --- events_kaplan_meier: python replay + monotone ---
    km = sorted(
        q["events_kaplan_meier"].builder(spark, sf_dir).collect(),
        key=lambda r: r["duration_days"],
    )
    assert km
    surv = [r["survival"] for r in km]
    assert all(a >= b for a, b in zip(surv, surv[1:])), "not non-increasing"
    rows = _dd.sql(
        "SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    t0: dict[int, int] = {}
    tp: dict[int, int] = {}
    mx = 0
    for uid, et, us in rows:
        t0[uid] = min(t0.get(uid, us), us)
        if et == "purchase":
            tp[uid] = min(tp.get(uid, us), us)
        mx = max(mx, us)
    dur: dict[int, list[int]] = {}  # day -> [deaths, censored]
    for uid, start in t0.items():
        if uid in tp:
            d = (tp[uid] - start) // 86400000000
            dur.setdefault(d, [0, 0])[0] += 1
        else:
            d = (mx - start) // 86400000000
            dur.setdefault(d, [0, 0])[1] += 1
    n_risk = len(t0)
    s = 1.0
    expect = {}
    for day in sorted(dur):
        d_t, c_t = dur[day]
        s *= 1.0 - d_t / n_risk
        expect[day] = (n_risk, d_t, c_t, s)
        n_risk -= d_t + c_t
    assert len(km) == len(expect)
    for r in km:
        nr, d_t, c_t, sv = expect[r["duration_days"]]
        assert r["n_at_risk"] == nr and r["n_converted"] == d_t
        assert r["n_censored"] == c_t
        assert abs(r["survival"] - sv) < 1e-5, (r, sv)

    # --- events_cmh_test: python replay + A/A sanity ---
    cmh = q["events_cmh_test"].builder(spark, sf_dir).collect()
    assert len(cmh) == 1
    got = cmh[0]
    rows = _dd.sql(
        "SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000, "
        f"user_id * {KNUTH} % {MOD_2_32} % 2, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    strata: dict[int, list[tuple[int, int]]] = {}
    for day, arm, succ in rows:
        strata.setdefault(day, []).append((arm, succ))
    ca = ce = cv = 0.0
    a1 = n1t = m1t = nt = 0
    n_strata = 0
    for day in sorted(strata):
        cells = strata[day]
        nn = len(cells)
        if nn < 2:
            continue
        n_strata += 1
        n1 = sum(a for a, _ in cells)
        m1 = sum(s_ for _, s_ in cells)
        a = sum(s_ for ar, s_ in cells if ar == 1)
        ca += a
        ce += n1 * m1 / nn
        cv += (n1 * (nn - n1)) * (m1 * (nn - m1)) / (nn * nn * (nn - 1))
        a1 += a
        n1t += n1
        m1t += m1
        nt += nn
    chi2 = (ca - ce) ** 2 / cv
    assert got["n_strata"] == n_strata and got["conv_arm1"] == a1
    assert abs(got["cmh_chi2"] - chi2) < 1e-3, (got["cmh_chi2"], chi2)
    assert abs(got["rate_arm1"] - a1 / n1t) < 1e-5
    assert abs(got["rate_arm0"] - (m1t - a1) / (nt - n1t)) < 1e-5
    # A/A: the hash split carries no real effect
    assert got["cmh_chi2"] < 12.0

    # --- text_good_turing_coverage: python replay ---
    gt = {
        r["lang"]: r
        for r in q["text_good_turing_coverage"].builder(spark, sf_dir).collect()
    }
    docs = _dd.sql(
        f"SELECT lang, lower(text) FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    from collections import Counter

    per_lang: dict[str, Counter] = {}
    for lang, text in docs:
        per_lang.setdefault(lang, Counter()).update(text.split(" "))
    assert set(gt) == set(per_lang)
    for lang, cnt in per_lang.items():
        n = sum(cnt.values())
        hapax = sum(1 for v in cnt.values() if v == 1)
        dis = sum(1 for v in cnt.values() if v == 2)
        rep2 = sum(v * (v - 1) for v in cnt.values())
        r = gt[lang]
        assert r["n_tokens"] == n and r["vocab"] == len(cnt)
        assert r["hapax"] == hapax and r["dis_legomena"] == dis
        assert abs(r["gt_unseen_mass"] - hapax / n) < 1e-5
        assert abs(r["simpson_repeat"] - rep2 / (n * (n - 1))) < 1e-5

    # --- events_ewma_residuals: naive-recurrence replay (bit parity
    # of the power-of-two form is the claim) ---
    ew = q["events_ewma_residuals"].builder(spark, sf_dir).collect()
    daily: dict[str, dict[int, int]] = {}
    rows = _dd.sql(
        "SELECT event_type, "
        "epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000, "
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) "
        f"FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    for t, day, x in rows:
        daily.setdefault(t, {})[day] = x
    expect_ew: dict[tuple, tuple] = {}
    for t, series in daily.items():
        s = None
        prev = None
        for day in sorted(series):
            x = float(series[day])
            s = x if s is None else (s + x) / 2.0
            resid = None if prev is None else x - prev
            expect_ew[(t, day)] = (s, resid)
            prev = s
    assert len(ew) == len(expect_ew)
    for r in ew:
        s, resid = expect_ew[(r["event_type"], r["day"])]
        assert abs(r["ewma_value"] - round(s / 100 + 1e-9, 4)) < 1e-9, r
        if resid is None:
            assert r["residual_value"] is None
        else:
            assert (
                abs(r["residual_value"] - (round(resid / 100 + 1e-9, 4) + 0.0))
                < 1e-9
            ), r

    # --- events_winsorized_ab: python replay ---
    wab = {
        r["event_type"]: r
        for r in q["events_winsorized_ab"].builder(spark, sf_dir).collect()
    }
    rows = _dd.sql(
        "SELECT event_type, CAST(round(value*100) AS BIGINT), "
        f"user_id * {KNUTH} % {MOD_2_32} % 2 "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    vals: dict[str, list[tuple[int, int]]] = {}
    for t, cents, arm in rows:
        vals.setdefault(t, []).append((cents, arm))
    for t, cells in vals.items():
        xs = sorted(c for c, _ in cells)
        n = len(xs)
        lo = xs[(n + 99) // 100 - 1]
        hi = xs[(99 * n + 99) // 100 - 1]
        w0 = [max(lo, min(hi, c)) for c, a in cells if a == 0]
        w1 = [max(lo, min(hi, c)) for c, a in cells if a == 1]
        m0, m1 = sum(w0) / len(w0), sum(w1) / len(w1)
        v0 = sum(x * x for x in w0) / len(w0) - m0 * m0
        v1 = sum(x * x for x in w1) / len(w1) - m1 * m1
        z = (m1 - m0) / math.sqrt(v1 / len(w1) + v0 / len(w0))
        r = wab[t]
        assert r["lo_cents"] == lo and r["hi_cents"] == hi, (t, r, lo, hi)
        assert r["n0"] == len(w0) and r["n1"] == len(w1)
        assert abs(r["wmean0"] - m0 / 100) < 1e-4
        assert abs(r["wmean1"] - m1 / 100) < 1e-4
        assert abs(r["z"] - z) < 1e-3, (t, r["z"], z)


def test_good_turing_hapax_fixture(spark, tmp_path):
    """The driver corpus shares one 31-token vocabulary per language
    (hapax = 0 everywhere), so the real-data replay never exercises
    the estimator's core branch. Planted fixture: a language whose
    sample contains two hapax and one dis-legomenon must report
    gt_unseen_mass = 2/N exactly."""
    import pandas as pd

    from ray_mapreduce_spark.plans import all_queries

    docs = pd.DataFrame(
        {
            "lang": ["xx", "xx"],
            "text": [
                "alpha beta beta gamma gamma gamma",
                "gamma delta gamma gamma",
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {
        r["lang"]: r
        for r in all_queries()["text_good_turing_coverage"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    r = out["xx"]
    # counts: alpha 1, beta 2, delta 1, gamma 6 -> N=10, V=4
    assert r["n_tokens"] == 10 and r["vocab"] == 4
    assert r["hapax"] == 2 and r["dis_legomena"] == 1
    assert abs(r["gt_unseen_mass"] - 0.2) < 1e-9
    assert abs(r["gt_coverage"] - 0.8) < 1e-9
    # repeat rate: (0 + 2 + 0 + 30) / (10*9)
    assert abs(r["simpson_repeat"] - 32 / 90) < 1e-6


def test_jsd_disjoint_sources_emit_ln2(spark, tmp_path):
    """ADVICE r11: source pairs with ZERO shared tokens must appear at
    jsd = ln 2 (the fully-complementary-sources signal) instead of
    being dropped by the inner join. Planted fixture: two disjoint
    sources and one overlapping third."""
    import math

    import pandas as pd

    from ray_mapreduce_spark.plans import all_queries

    docs = pd.DataFrame(
        {
            "source": ["s_a", "s_b", "s_c"],
            "text": ["apple banana", "cherry date", "apple cherry"],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in all_queries()["text_source_js_divergence"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {("s_a", "s_b"), ("s_a", "s_c"), ("s_b", "s_c")}
    dj = out[("s_a", "s_b")]
    assert dj["n_shared_terms"] == 0
    assert abs(dj["jsd_nats"] - round(math.log(2.0) + 1e-9, 6)) < 1e-9
    assert out[("s_a", "s_c")]["n_shared_terms"] == 1
    assert out[("s_a", "s_c")]["jsd_nats"] < dj["jsd_nats"]


def test_r13_additions_semantics(spark, sf_dir):
    """Semantic gates for the r13 additions beyond the oracle hash:
    Holt double smoothing replays via the naive recurrences
    s1_t=(s1_{t-1}+x_t)/2, s2_t=(s2_{t-1}+s1_t)/2 (the power-of-two
    form must be BIT-identical to them); Benjamini-Hochberg replays
    the Welch z + A&S p + step-up in python AND pins the A&S
    approximation against math.erfc; RAKE replays the full
    chunk/degree/frequency computation; the two-way FE slope replays
    via DIRECT double demeaning (validating the 16-term algebraic
    expansion); PPS replays the integer point arithmetic exactly and
    pins sum(n_hits) == PPS_N."""
    import hashlib
    import math

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32
    from ray_mapreduce_spark.plans.advanced import (
        BH_ALPHA_INV,
        _BH_B,
        _BH_INV_SQRT_2PI,
        _BH_T,
    )
    from ray_mapreduce_spark.plans.sampling import PPS_N
    from ray_mapreduce_spark.plans.text_analysis import (
        RAKE_MIN_FREQ,
        RAKE_STOPWORDS,
        RAKE_TOP_N,
    )

    q = all_queries()

    # --- events_double_ewma_holt: naive-recurrence replay ---
    holt = {
        (r["event_type"], r["day"]): r
        for r in q["events_double_ewma_holt"].builder(spark, sf_dir).collect()
    }
    rows = _dd.sql(
        "SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000, "
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) "
        f"FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    series: dict[str, dict[int, int]] = {}
    for t, day, x in rows:
        series.setdefault(t, {})[day] = x
    n_checked = 0
    for t, days in series.items():
        s1 = s2 = None
        for day in sorted(days):
            x = float(days[day])
            s1 = x if s1 is None else (s1 + x) / 2.0
            s2 = s1 if s2 is None else (s2 + s1) / 2.0
            r = holt[(t, day)]
            lvl, trd, fct = 2 * s1 - s2, s1 - s2, 3 * s1 - 2 * s2
            assert r["level_value"] == round(lvl / 100 + 1e-9, 4) + 0.0, r
            assert r["trend_value"] == round(trd / 100 + 1e-9, 4) + 0.0, r
            assert r["forecast_value"] == round(fct / 100 + 1e-9, 4) + 0.0, r
            n_checked += 1
    assert n_checked == len(holt) > 0

    # --- events_benjamini_hochberg: python replay + A&S sanity ---
    def p_as(az: float) -> float:
        t = 1.0 / (1.0 + float(_BH_T) * az)
        b1, b2, b3, b4, b5 = (float(b) for b in _BH_B)
        poly = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
        return 2.0 * math.exp(-(az * az) / 2.0) * float(_BH_INV_SQRT_2PI) * poly

    bh = {
        r["event_type"]: r
        for r in q["events_benjamini_hochberg"].builder(spark, sf_dir).collect()
    }
    rows = _dd.sql(
        "SELECT event_type, CAST(round(value*100) AS BIGINT), "
        f"user_id * {KNUTH} % {MOD_2_32} % 2 "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    vals: dict[str, list[tuple[int, int]]] = {}
    for t, cents, arm in rows:
        vals.setdefault(t, []).append((cents, arm))
    ps = []
    for t, cells in vals.items():
        a0 = [c for c, a in cells if a == 0]
        a1 = [c for c, a in cells if a == 1]
        m0, m1 = sum(a0) / len(a0), sum(a1) / len(a1)
        v0 = max(sum(x * x for x in a0) / len(a0) - m0 * m0, 0.0)
        v1 = max(sum(x * x for x in a1) / len(a1) - m1 * m1, 0.0)
        z = (m1 - m0) / math.sqrt(v1 / len(a1) + v0 / len(a0))
        r = bh[t]
        assert abs(r["z"] - z) < 1e-3, (t, r["z"], z)
        p6 = round(p_as(abs(z)) + 1e-9, 6)
        assert abs(r["p_value"] - p6) < 1e-6, (t, r["p_value"], p6)
        # A&S 26.2.17 vs the exact normal tail (erfc): |err| < 7.5e-8
        exact = math.erfc(abs(z) / math.sqrt(2.0))
        assert abs(p_as(abs(z)) - exact) < 2e-7, (z, exact)
        ps.append((p6, t, r))
    ps.sort()
    m = len(ps)
    max_cross = 0
    for k, (p6, t, r) in enumerate(ps, start=1):
        assert r["p_rank"] == k and r["m_tests"] == m
        if p6 * BH_ALPHA_INV * m <= k:
            max_cross = k
    for k, (p6, t, r) in enumerate(ps, start=1):
        assert r["rejected"] == (1 if k <= max_cross else 0), (t, r)

    # --- text_keyword_rake: full python replay ---
    rk = [
        (r["tok"], r["freq"], r["degree"], r["score_u"])
        for r in q["text_keyword_rake"].builder(spark, sf_dir).collect()
    ]
    docs = _dd.sql(
        f"SELECT lower(text) FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    stops = set(RAKE_STOPWORDS) | {""}
    freq: dict[str, int] = {}
    deg: dict[str, int] = {}
    for (text,) in docs:
        phrase: list[str] = []
        for tok in text.split(" ") + ["the"]:  # sentinel flush
            if tok in stops:
                for w in phrase:
                    freq[w] = freq.get(w, 0) + 1
                    deg[w] = deg.get(w, 0) + len(phrase)
                phrase = []
            else:
                phrase.append(tok)
    scored = sorted(
        (
            (-(deg[w] * 1000000 // freq[w]), w, freq[w], deg[w])
            for w in freq
            if freq[w] >= RAKE_MIN_FREQ
        ),
    )[:RAKE_TOP_N]
    expect = [(w, f, d, -s) for s, w, f, d in scored]
    assert rk == expect

    # --- orders_twoway_fixed_effects: direct-demeaning replay ---
    import numpy as np

    fe = q["orders_twoway_fixed_effects"].builder(spark, sf_dir).collect()[0]
    rows = _dd.sql(
        "SELECT n.n_name, year(o.o_orderdate)*12 + month(o.o_orderdate), "
        "datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)), "
        "CAST(round(o.o_totalprice*100) AS BIGINT) "
        f"FROM '{sf_dir}/orders.parquet' o "
        f"JOIN '{sf_dir}/customer.parquet' c ON c.c_custkey = o.o_custkey "
        f"JOIN '{sf_dir}/nation.parquet' n ON n.n_nationkey = c.c_nationkey"
    ).fetchall()
    nats = sorted({r[0] for r in rows})
    mths = sorted({r[1] for r in rows})
    ii = np.array([nats.index(r[0]) for r in rows])
    tt = np.array([mths.index(r[1]) for r in rows])
    x = np.array([r[2] for r in rows], dtype=np.float64)
    y = np.array([r[3] for r in rows], dtype=np.float64)
    xi = np.bincount(ii, x) / np.bincount(ii)
    xt = np.bincount(tt, x) / np.bincount(tt)
    yi = np.bincount(ii, y) / np.bincount(ii)
    yt = np.bincount(tt, y) / np.bincount(tt)
    xd = x - xi[ii] - xt[tt] + x.mean()
    yd = y - yi[ii] - yt[tt] + y.mean()
    slope = float(xd @ yd) / float(xd @ xd)
    assert fe["n_orders"] == len(rows)
    assert fe["n_nations"] == len(nats) and fe["n_months"] == len(mths)
    assert fe["n_cells"] == len({(r[0], r[1]) for r in rows})
    assert fe["df_within"] == len(rows) - len(nats) - len(mths) + 1
    # Equality-after-round (VERDICT r13 #2): the hashed slope must
    # EQUAL the replay's HALF_UP round of (slope + bias) — the replay
    # double's own error (~1e-12 rel) and the cross-engine fold error
    # (~1e-10 rel) are both far inside the 1e-6 bias, so the rounded
    # values coincide exactly unless the output design regresses.
    from decimal import ROUND_HALF_UP, Decimal

    expect = float(
        Decimal(repr(slope + 1e-6)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
    )
    assert fe["slope_cents_per_day"] == expect, (
        fe["slope_cents_per_day"],
        expect,
        slope,
    )

    # --- sample_pps_systematic: exact integer replay ---
    pps = {
        r["o_orderkey"]: r["n_hits"]
        for r in q["sample_pps_systematic"].builder(spark, sf_dir).collect()
    }
    assert sum(pps.values()) == PPS_N
    rows = _dd.sql(
        "SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) "
        f"FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    keyed = sorted(
        (int(hashlib.sha256(str(k).encode()).hexdigest()[:6], 16), k, wc)
        for k, wc in rows
    )
    tot = sum(wc for _, _, wc in keyed)
    u0 = int(hashlib.sha256(b"pps_systematic_seed").hexdigest()[:12], 16) % tot
    expect_hits: dict[int, int] = {}
    cum = 0
    for _, k, wc in keyed:
        prev = cum
        cum += wc
        below_hi = (cum * PPS_N - u0 * PPS_N + tot * PPS_N + tot - 1) // tot - PPS_N
        below_lo = (prev * PPS_N - u0 * PPS_N + tot * PPS_N + tot - 1) // tot - PPS_N
        if below_hi - below_lo >= 1:
            expect_hits[k] = below_hi - below_lo
    assert pps == expect_hits


def test_benjamini_hochberg_rejects_planted_effect(spark, tmp_path):
    """The driver corpus is an A/A split (nothing should reject), so
    the step-up's rejection branch never fires on real data. Planted
    fixture: one type with a large true arm effect must be rejected;
    a zero-variance type exercises the degenerate guard (z = 0,
    p ~ 1, not rejected); a mild type rides the step-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32

    rows = []
    eid = 0
    for uid in range(1, 201):
        arm = uid * KNUTH % MOD_2_32 % 2
        for j in range(3):
            eid += 1
            rows.append((eid, uid, "boost", 10.0 + 90.0 * arm + 0.01 * (eid % 7)))
            eid += 1
            rows.append((eid, uid, "flat", 10.0))
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [1700000000_000000 + i for i in range(len(rows))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: r
        for r in all_queries()["events_benjamini_hochberg"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out["boost"]["rejected"] == 1 and out["boost"]["p_rank"] == 1
    assert out["boost"]["p_value"] < 1e-4
    assert out["flat"]["rejected"] == 0
    assert out["flat"]["z"] == 0.0 and out["flat"]["p_value"] > 0.99


def test_late_r13_additions_semantics(spark, sf_dir):
    """Semantic gates for the late-r13 additions: association rules
    replay exactly in python (integer confidence ranking included);
    CUPED's theta / adjusted means / z replay from per-user sums
    (validating the all-moments algebraic expansion of
    var(post - theta*pre)); Theil replays from the definition and
    the decomposition identity total = between + weighted-within
    holds."""
    import math

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.functions.grain import KNUTH, MOD_2_32
    from ray_mapreduce_spark.plans.advanced import (
        ASSOC_MIN_BOTH,
        ASSOC_TOP_N,
    )

    q = all_queries()

    # --- orders_association_rules: exact python replay ---
    got = [
        (r["antecedent"], r["consequent"], r["n_both"], r["n_antecedent"],
         r["conf_u"])
        for r in q["orders_association_rules"].builder(spark, sf_dir).collect()
    ]
    rows = _dd.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    by_order: dict[int, list[int]] = {}
    n_with: dict[int, int] = {}
    for ok, pk in rows:
        by_order.setdefault(ok, []).append(pk)
        n_with[pk] = n_with.get(pk, 0) + 1
    pair_n: dict[tuple[int, int], int] = {}
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] = pair_n.get((ps[i], ps[j]), 0) + 1
    rules = []
    for (pa, pb), nb in pair_n.items():
        if nb < ASSOC_MIN_BOTH:
            continue
        for x, y in ((pa, pb), (pb, pa)):
            cu = nb * 1000000 // n_with[x]
            rules.append((-cu, -nb, x, y, n_with[x]))
    rules.sort()
    expect = [(x, y, -nnb, nx, -cu) for cu, nnb, x, y, nx in rules[:ASSOC_TOP_N]]
    assert got == expect

    # --- events_cuped_adjusted_ab: python replay ---
    cu = q["events_cuped_adjusted_ab"].builder(spark, sf_dir).collect()[0]
    rows = _dd.sql(
        "SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000, "
        "CAST(round(value*100) AS BIGINT) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    days = [d for _, d, _ in rows]
    mid = (min(days) + max(days) + 1) // 2
    pp: dict[int, list[int]] = {}
    for uid, d, c in rows:
        e = pp.setdefault(uid, [0, 0])
        e[0 if d < mid else 1] += c
    pre = {u: v[0] for u, v in pp.items()}
    post = {u: v[1] for u, v in pp.items()}
    n = len(pp)
    mpre = sum(pre.values()) / n
    mpost = sum(post.values()) / n
    cov = sum(pre[u] * post[u] for u in pp) / n - mpre * mpost
    vpre = sum(v * v for v in pre.values()) / n - mpre * mpre
    theta = cov / vpre
    arms = {0: [], 1: []}
    for u in pp:
        arms[u * KNUTH % MOD_2_32 % 2].append(u)
    adj, var = {}, {}
    for a, us in arms.items():
        ys = [post[u] - theta * (pre[u] - mpre) for u in us]
        m = sum(ys) / len(ys)
        adj[a] = m
        var[a] = sum((y - m) ** 2 for y in ys) / len(ys)
    z = (adj[1] - adj[0]) / math.sqrt(var[1] / len(arms[1]) + var[0] / len(arms[0]))
    assert cu["n0"] == len(arms[0]) and cu["n1"] == len(arms[1])
    assert abs(cu["theta"] - theta) < 1e-5, (cu["theta"], theta)
    assert abs(cu["mean_pre"] - mpre / 100) < 1e-3
    assert abs(cu["adj_mean0"] - adj[0] / 100) < 1e-3
    assert abs(cu["adj_mean1"] - adj[1] / 100) < 1e-3
    assert abs(cu["z"] - z) < 1e-3, (cu["z"], z)
    vpost = sum(v * v for v in post.values()) / n - mpost * mpost
    assert abs(cu["var_reduction"] - cov * cov / (vpre * vpost)) < 1e-5
    assert abs(cu["z"]) < 6.0  # A/A split carries no planted effect

    # --- lineitem_theil_index: definition replay + identity ---
    th = q["lineitem_theil_index"].builder(spark, sf_dir).collect()[0]
    rows = _dd.sql(
        "SELECT s.s_nationkey, l.l_suppkey, "
        "CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) "
        f"FROM '{sf_dir}/lineitem.parquet' l "
        f"JOIN '{sf_dir}/supplier.parquet' s ON s.s_suppkey = l.l_suppkey "
        "GROUP BY 1, 2"
    ).fetchall()
    tot = sum(x for _, _, x in rows)
    N = len(rows)
    t_total = sum(x / tot * math.log(x * N / tot) for _, _, x in rows)
    groups: dict[int, list[int]] = {}
    for nat, _, x in rows:
        groups.setdefault(nat, []).append(x)
    t_between = sum(
        sum(xs) / tot * math.log((sum(xs) / tot) * (N / len(xs)))
        for xs in groups.values()
    )
    t_within = sum(
        (sum(xs) / tot)
        * sum(x / sum(xs) * math.log(x * len(xs) / sum(xs)) for x in xs)
        for xs in groups.values()
    )
    assert th["n_suppliers"] == N and th["n_nations"] == len(groups)
    assert abs(th["theil_total"] - t_total) < 1e-5
    assert abs(th["theil_between"] - t_between) < 1e-5
    assert abs(th["theil_within"] - t_within) < 1e-5
    # the additive decomposition identity
    assert abs(t_total - (t_between + t_within)) < 1e-9
    assert (
        abs(th["theil_total"] - (th["theil_between"] + th["theil_within"]))
        < 2e-6
    )


def test_r14_additions_semantics(spark, sf_dir):
    """Full python replays for the r14 additions, asserting EXACT
    equality after round (VERDICT r13 #2 — no relative tolerances):
    the engines and the replay fold identical doubles in identical
    order, so the rounded outputs must coincide bit-for-bit."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.advanced import (
        _SPRT_A,
        _SPRT_B,
        _SPRT_L0,
        _SPRT_L1,
        SPRT_MAX_DAYS,
    )
    from ray_mapreduce_spark.plans.text_analysis import BURROWS_TOP_K

    q = all_queries()

    def r6(x):
        return (
            float(
                Decimal(repr(x + 1e-9)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            + 0.0
        )

    # --- events_sprt_readout: full walk replay ---
    got = {
        r["event_type"]: tuple(r)[1:]
        for r in q["events_sprt_readout"].builder(spark, sf_dir).collect()
    }
    rows = _dd.sql(
        "SELECT event_type, "
        "CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    td: dict[tuple, int] = {}
    tot: dict[int, int] = {}
    for t, d in rows:
        td[(t, d)] = td.get((t, d), 0) + 1
        tot[d] = tot.get(d, 0) + 1
    expect = {}
    for t in {k[0] for k in td}:
        days = sorted(d for (tt, d) in td if tt == t)[:SPRT_MAX_DAYS]
        cum, walk = 0.0, []
        for d in days:
            n_t, n = td[(t, d)], tot[d]
            cum += float(n_t) * _SPRT_L1 + float(n - n_t) * _SPRT_L0
            walk.append((d, cum))
        cross = [(d, c) for d, c in walk if c >= _SPRT_A or c <= _SPRT_B]
        if cross:
            dd, cc = cross[0]
            dec = "accept_h1" if cc >= _SPRT_A else "accept_h0"
        else:
            dd, dec = -1, "continue"
        lls = [c for _, c in walk]
        expect[t] = (
            len(walk),
            dec,
            dd,
            r6(lls[-1]),
            r6(max(lls)),
            r6(min(lls)),
        )
    assert got == expect, (got, expect)

    # --- text_burrows_delta: full replay ---
    got_b = {
        (r["source_a"], r["source_b"]): (r["n_words"], r["delta"])
        for r in q["text_burrows_delta"].builder(spark, sf_dir).collect()
    }
    toks = _dd.sql(
        "SELECT source, unnest(string_split(lower(text), ' ')) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    stc: dict[tuple, int] = {}
    for s, t in toks:
        stc[(s, t)] = stc.get((s, t), 0) + 1
    totals: dict[str, int] = {}
    gcnt: dict[str, int] = {}
    for (s, t), c in stc.items():
        totals[s] = totals.get(s, 0) + c
        gcnt[t] = gcnt.get(t, 0) + c
    vocab = [t for _, t in sorted(((-c, t) for t, c in gcnt.items()))][
        :BURROWS_TOP_K
    ]
    sources = sorted(totals)
    S = len(sources)
    fu = {
        (s, t): stc.get((s, t), 0) * 1000000 // totals[s]
        for s in sources
        for t in vocab
    }
    z6: dict[tuple, float] = {}
    kept = []
    for t in vocab:
        sumf = sum(fu[(s, t)] for s in sources)
        sumf2 = sum(fu[(s, t)] ** 2 for s in sources)
        disc = S * sumf2 - sumf * sumf
        if disc <= 0:
            continue
        kept.append(t)
        for s in sources:
            z = float(fu[(s, t)] * S - sumf) / math.sqrt(float(disc))
            z6[(s, t)] = float(
                Decimal(repr(z + 1e-9)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
    expect_b = {}
    for i, sa in enumerate(sources):
        for sb in sources[i + 1 :]:
            cd = 0.0
            for t in sorted(kept):
                cd += abs(z6[(sa, t)] - z6[(sb, t)])
            if kept:
                expect_b[(sa, sb)] = (
                    len(kept),
                    float(
                        Decimal(repr(cd / len(kept) + 1e-9)).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                )
    assert got_b == expect_b, (
        len(got_b),
        len(expect_b),
        sorted(got_b.items())[:3],
        sorted(expect_b.items())[:3],
    )


def test_sprt_planted_decisions(spark, tmp_path):
    """The real corpus may or may not decide within the horizon —
    plant a fixture with one type decisively ABOVE p1 (accept_h1),
    one decisively BELOW p0 (accept_h0), and one sitting exactly at
    the p0/p1 midpoint whose drift cannot reach either boundary in
    the fixture's 10 days (continue)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ray_mapreduce_spark.plans import all_queries

    # daily counts: shares 0.30 (h1) / 0.05 (h0) / 0.20 (drift ~ +0.014
    # per day -> continue) / 0.45 filler
    per_day = [("hot", 30), ("cold", 5), ("mid", 20), ("fill", 45)]
    rows = []
    eid = 0
    for d in range(10):
        for typ, cnt in per_day:
            for j in range(cnt):
                eid += 1
                rows.append((eid, (20000 + d) * 86400_000000 + eid, typ))
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([1 + r[0] % 50 for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: r
        for r in all_queries()["events_sprt_readout"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out["hot"]["decision"] == "accept_h1"
    assert out["cold"]["decision"] == "accept_h0"
    assert out["cold"]["decision_day"] == 20000  # crosses on day 1
    assert out["mid"]["decision"] == "continue"
    assert out["mid"]["decision_day"] == -1
    assert out["hot"]["decision_day"] >= 20001  # needs >= 2 days to cross


def test_late_r14_additions_semantics(spark, sf_dir):
    """Full python replays for the late-r14 additions (exact equality
    after round — the r14 replay-gate idiom)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.advanced import PH_DELTA, PH_LAMBDA
    from ray_mapreduce_spark.plans.relational import NEWSVENDOR_FRACTILE_NUM

    q = all_queries()

    def rq(x, nd):
        return float(
            Decimal(repr(x)).quantize(
                Decimal(f"0.{'0' * (nd - 1)}1"), rounding=ROUND_HALF_UP
            )
        )

    # --- text_yule_k: exact-integer spectrum replay ---
    got = {
        r["lang"]: (r["n_tokens"], r["n_types"], r["yule_k"])
        for r in q["text_yule_k"].builder(spark, sf_dir).collect()
    }
    toks = _dd.sql(
        "SELECT lang, unnest(string_split(lower(text), ' ')) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    cnt: dict[tuple, int] = {}
    for lang, t in toks:
        cnt[(lang, t)] = cnt.get((lang, t), 0) + 1
    expect = {}
    for lang in {k[0] for k in cnt}:
        cs = [c for (lg, _), c in cnt.items() if lg == lang]
        s1, s2 = sum(cs), sum(c * c for c in cs)
        k = float(s2 - s1) * 10000 / (float(s1) * float(s1))
        expect[lang] = (s1, len(cs), rq(k + 1e-9, 6))
    assert got == expect, (got, expect)

    # --- events_page_hinkley_drift: walk replay on the locked means ---
    got_ph = {
        r["event_type"]: tuple(r)[1:]
        for r in q["events_page_hinkley_drift"].builder(spark, sf_dir).collect()
    }
    daily = _dd.sql(
        "SELECT event_type, "
        "CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT), "
        "round(avg(value) + 1e-9, 6) "
        f"FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    bytype: dict[str, list] = {}
    for t, d, x in daily:
        bytype.setdefault(t, []).append((d, x))
    expect_ph = {}
    for t, rows in bytype.items():
        rows.sort()
        cumx, mt, mn, phmax, alarm = 0.0, 0.0, None, 0.0, -1
        for i, (d, x) in enumerate(rows, start=1):
            cumx += x
            mt += x - cumx / i - PH_DELTA
            mn = mt if mn is None else min(mn, mt)
            pht = mt - mn
            phmax = max(phmax, pht)
            if alarm == -1 and pht > PH_LAMBDA:
                alarm = d
        expect_ph[t] = (
            len(rows),
            rq(phmax + 1e-9, 6) + 0.0,
            alarm,
            1 if alarm != -1 else 0,
        )
    assert got_ph == expect_ph, (got_ph, expect_ph)

    # --- lineitem_newsvendor_quantile: exact order-statistic replay ---
    got_nv = {
        r["brand"]: tuple(r)[1:]
        for r in q["lineitem_newsvendor_quantile"].builder(spark, sf_dir).collect()
    }
    dd = _dd.sql(
        "SELECT p.p_brand, l.l_shipdate, "
        "CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) "
        f"FROM '{sf_dir}/lineitem.parquet' l "
        f"JOIN '{sf_dir}/part.parquet' p ON p.p_partkey = l.l_partkey "
        "GROUP BY 1, 2"
    ).fetchall()
    byb: dict[str, list] = {}
    for b, day, d in dd:
        byb.setdefault(b, []).append((d, day))
    expect_nv = {}
    for b, rows in byb.items():
        rows.sort()
        n = len(rows)
        k = (NEWSVENDOR_FRACTILE_NUM * n + 9) // 10
        tot = sum(d for d, _ in rows)
        expect_nv[b] = (
            n,
            rows[k - 1][0],
            max(d for d, _ in rows),
            rq(tot / n + 1e-9, 6),
        )
    assert got_nv == expect_nv, (
        sorted(got_nv.items())[:2],
        sorted(expect_nv.items())[:2],
    )


def test_page_hinkley_planted_level_shift(spark, tmp_path):
    """The driver corpus is stationary (no alarm expected) — plant a
    mid-series upward level shift that must alarm, next to a flat
    type that must not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ray_mapreduce_spark.plans import all_queries

    rows = []
    eid = 0
    for d in range(30):
        for typ in ("shift", "flat"):
            v = 80.0 if (typ == "shift" and d >= 20) else 50.0
            for j in range(5):
                eid += 1
                rows.append((eid, (21000 + d) * 86400_000000 + eid, typ, v))
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([1 + r[0] % 20 for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: r
        for r in all_queries()["events_page_hinkley_drift"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out["shift"]["alarmed"] == 1
    # the shift lands on day index 20 (day 21020); PH needs a day or
    # two of accumulation past the running mean to clear lambda=10
    assert 21020 <= out["shift"]["alarm_day"] <= 21022
    assert out["flat"]["alarmed"] == 0 and out["flat"]["alarm_day"] == -1
    assert out["flat"]["ph_max"] == 0.0


# ---------------------------------------------------------------------------
# r15 additions: full python replays asserting EXACT equality after
# round (the r14 replay-gate idiom — Decimal(repr()) HALF_UP
# replicates Spark's BigDecimal.valueOf round; no tolerances).


def test_r15_additions_semantics(spark, sf_dir):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.text_analysis import TTR_BUDGETS

    q = all_queries()

    def r6(x):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    # --- orders_queue_little_law: two-route integer replay ---
    row = q["orders_queue_little_law"].builder(spark, sf_dir).collect()[0]
    per_order = _dd.sql(
        "SELECT greatest(max(CAST(l.l_shipdate AS DATE)),"
        "                min(CAST(o.o_orderdate AS DATE))) AS close_d,"
        "       min(CAST(o.o_orderdate AS DATE)) AS open_d "
        f"FROM '{sf_dir}/lineitem.parquet' l "
        f"JOIN '{sf_dir}/orders.parquet' o ON o.o_orderkey = l.l_orderkey "
        "GROUP BY l.l_orderkey"
    ).fetchall()
    n_orders = len(per_order)
    order_days = sum((c - o).days + 1 for c, o in per_order)
    lo = min(o for _, o in per_order)
    hi = max(c for c, _ in per_order)
    n_days = (hi - lo).days + 1
    # independent sweep-line replay
    delta: dict = {}
    for c, o in per_order:
        delta[o] = delta.get(o, 0) + 1
        import datetime as _dt

        nxt = c + _dt.timedelta(days=1)
        delta[nxt] = delta.get(nxt, 0) - 1
    days = sorted(delta)
    run, sweep = 0, 0
    for d, d2 in zip(days, days[1:]):
        run += delta[d]
        sweep += run * (d2 - d).days
    assert row["n_orders"] == n_orders
    assert row["n_days"] == n_days
    assert row["order_days"] == order_days
    assert row["order_days_sweep"] == sweep
    # Little's law identity: both routes count the same order-days
    assert sweep == order_days and row["sweep_matches"] == 1
    assert row["lambda_per_day"] == r6(float(n_orders) / n_days)
    assert row["w_days"] == r6(float(order_days) / n_orders)
    assert row["l_backlog"] == r6(float(order_days) / n_days)
    assert row["l_little"] == r6(
        (float(n_orders) / n_days) * (float(order_days) / n_orders)
    )

    # --- text_ttr_curve: canonical-order vocabulary-growth replay ---
    got = {
        (r["lang"], r["budget"]): (
            r["types_at_budget"],
            r["ttr"],
            r["herdan_c"],
        )
        for r in q["text_ttr_curve"].builder(spark, sf_dir).collect()
    }
    docs = _dd.sql(
        f"SELECT lang, doc_id, lower(text) FROM '{sf_dir}/documents.parquet' "
        "ORDER BY lang, doc_id"
    ).fetchall()
    seq: dict = {}
    for lang, _doc, text in docs:
        seq.setdefault(lang, []).extend(text.split(" "))
    expect = {}
    for lang, toks in seq.items():
        first: dict = {}
        for i, t in enumerate(toks, start=1):
            if t not in first:
                first[t] = i
        for b in TTR_BUDGETS:
            if b > len(toks):
                continue
            types = sum(1 for p in first.values() if p <= b)
            expect[(lang, b)] = (
                types,
                r6(float(types) / b),
                r6(math.log(float(types)) / math.log(float(b))),
            )
    assert got == expect, (
        {k: v for k, v in got.items() if expect.get(k) != v},
        {k: v for k, v in expect.items() if got.get(k) != v},
    )


def test_freq_spectrum_replay(spark, sf_dir):
    """text_freq_spectrum (late r15): exact-integer spectrum replay +
    equality-after-round shares (the r14 replay-gate idiom)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries

    def r6(x):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    got = {
        r["lang"]: tuple(r)[1:]
        for r in all_queries()["text_freq_spectrum"]
        .builder(spark, sf_dir)
        .collect()
    }
    toks = _dd.sql(
        "SELECT lang, unnest(string_split(lower(text), ' ')) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    cnt: dict = {}
    for lang, t in toks:
        cnt[(lang, t)] = cnt.get((lang, t), 0) + 1
    expect = {}
    for lang in {k[0] for k in cnt}:
        cs = [c for (lg, _), c in cnt.items() if lg == lang]
        vm = [sum(1 for c in cs if c == m) for m in range(1, 6)]
        expect[lang] = (
            sum(cs),
            len(cs),
            *vm,
            r6(float(vm[0]) / len(cs)),
            r6(float(vm[1]) / len(cs)),
        )
    assert got == expect, (got, expect)


def test_recurrence_cohorts_replay(spark, sf_dir):
    """events_recurrence_cohorts (late r15): full python replay —
    exact counts/retention/mean via equality-after-round, p50/p90 via
    the linear-interpolation formula (probing whether Spark's
    percentile matches bitwise; equality-after-round idiom)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.advanced import RECURRENCE_MAX_K

    def rnd(x, nd):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
            )
        )

    rows = (
        all_queries()["events_recurrence_cohorts"]
        .builder(spark, sf_dir)
        .collect()
    )
    got = {(r["event_type"], r["k"]): tuple(r)[2:] for r in rows}
    ev = _dd.sql(
        "SELECT event_type, user_id, epoch_us(CAST(ts AS TIMESTAMP)), event_id "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    seq: dict = {}
    for t, u, us, eid in ev:
        seq.setdefault((t, u), []).append((us, eid))
    cnt: dict = {}
    lat: dict = {}
    for (t, _u), v in seq.items():
        v.sort()
        for i in range(min(len(v), RECURRENCE_MAX_K)):
            k = i + 1
            cnt[(t, k)] = cnt.get((t, k), 0) + 1
            if k >= 2:
                lat.setdefault((t, k), []).append(v[i][0] - v[i - 1][0])

    def pct(a, q):
        a = sorted(a)
        pos = (len(a) - 1) * q
        lo = int(pos)
        d = pos - lo
        if d == 0:
            return float(a[lo])
        return a[lo] + d * (a[lo + 1] - a[lo])

    expect = {}
    for (t, k), ls in sorted(lat.items()):
        n = len(ls)
        assert n == cnt[(t, k)]
        expect[(t, k)] = (
            n,
            rnd(n / cnt[(t, k - 1)], 6),
            rnd(float(sum(ls)) / n / 1000000.0, 4),
            rnd(pct(ls, 0.5) / 1000000.0, 4),
            rnd(pct(ls, 0.9) / 1000000.0, 4),
        )
    assert got == expect, (
        {k: v for k, v in got.items() if expect.get(k) != v},
        {k: v for k, v in expect.items() if got.get(k) != v},
    )


def test_horvitz_thompson_replay(spark, sf_dir):
    """sample_horvitz_thompson (late r15): full pure-python replay —
    the PPS sample, exact-integer z/A/S pieces, and the two float
    outputs via equality-after-round (+0.0 signed-zero normalization
    mirrors the plan)."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.sampling import HT_SCALE, PPS_N

    def r6(x):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    got = (
        all_queries()["sample_horvitz_thompson"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert len(got) == 1
    got = tuple(got[0])

    rows = _dd.sql(
        "SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) "
        f"FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    keyed = sorted(
        (int(hashlib.sha256(str(k).encode()).hexdigest()[:6], 16), k, wc)
        for k, wc in rows
    )
    tot = sum(wc for _, _, wc in keyed)
    u0 = int(hashlib.sha256(b"pps_systematic_seed").hexdigest()[:12], 16) % tot
    sample: dict[int, tuple[int, int]] = {}
    cum = 0
    for _, k, wc in keyed:
        prev = cum
        cum += wc
        hi = (cum * PPS_N - u0 * PPS_N + tot * PPS_N + tot - 1) // tot - PPS_N
        lo = (prev * PPS_N - u0 * PPS_N + tot * PPS_N + tot - 1) // tot - PPS_N
        if hi - lo >= 1:
            sample[k] = (wc, hi - lo)
    ys = dict(
        _dd.sql(
            "SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) "
            f"AS BIGINT) FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"
        ).fetchall()
    )
    t_true = sum(
        r[0]
        for r in _dd.sql(
            "SELECT CAST(round(l_quantity) AS BIGINT) "
            f"FROM '{sf_dir}/lineitem.parquet'"
        ).fetchall()
    )
    z = {
        k: ys.get(k, 0) * tot * HT_SCALE // wc
        for k, (wc, _nh) in sample.items()
    }
    a = sum(nh * z[k] for k, (_wc, nh) in sample.items())
    s2 = float(
        sum(nh * (PPS_N * z[k] - a) ** 2 for k, (_wc, nh) in sample.items())
    )
    th = a // PPS_N
    expect = (
        PPS_N,
        len(sample),
        t_true,
        th,
        r6(float(th) / (float(t_true) * float(HT_SCALE)) - 1.0) + 0.0,
        r6((s2 / float(PPS_N * (PPS_N - 1))) ** 0.5 / float(a)),
    )
    assert got == expect, (got, expect)


def _heaps_expect_from_tokens(per_lang_tokens):
    """Pure-python Heaps-fit replay mirroring the plan's unrolled
    chains exactly (fixed budget order, 6dp-locked y, closed form)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from ray_mapreduce_spark.plans.text_analysis import (
        _HEAPS_MIN_POINTS,
        TTR_BUDGETS,
    )

    def rnd(x, nd):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
            )
        )

    expect = {}
    for lang, toks in per_lang_tokens.items():
        n_tok = len(toks)
        first = {}
        for i, t in enumerate(toks, start=1):
            if t not in first:
                first[t] = i
        ys = []
        for b in TTR_BUDGETS:
            if b <= n_tok:
                v = sum(1 for p in first.values() if p <= b)
                ys.append(rnd(math.log(float(v)), 6))
            else:
                ys.append(None)

        def chain(terms):
            acc = terms[0]
            for t in terms[1:]:
                acc = acc + t
            return acc

        xs = [math.log(b) for b in TTR_BUDGETS]
        n = chain([1 if y is not None else 0 for y in ys])
        sx = chain([x if y is not None else 0.0 for x, y in zip(xs, ys)])
        sy = chain([y if y is not None else 0.0 for y in ys])
        sxx = chain(
            [x * x if y is not None else 0.0 for x, y in zip(xs, ys)]
        )
        sxy = chain(
            [x * y if y is not None else 0.0 for x, y in zip(xs, ys)]
        )
        syy = chain([y * y if y is not None else 0.0 for y in ys])
        if n < _HEAPS_MIN_POINTS:
            continue
        nd = float(n)
        num = nd * sxy - sx * sy
        den = nd * sxx - sx * sx
        deny = nd * syy - sy * sy
        r2 = rnd((num * num) / (den * deny), 6) if deny > 0.0 else None
        expect[lang] = (
            n,
            rnd(num / den, 6),
            rnd(math.exp((sy - ((num / den) * sx)) / nd), 4),
            r2,
        )
    return expect


def test_heaps_law_fit_replay(spark, sf_dir):
    """text_heaps_law_fit (late r15): full python replay with
    equality-after-round on every output."""
    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries

    got = {
        r["lang"]: tuple(r)[1:]
        for r in all_queries()["text_heaps_law_fit"]
        .builder(spark, sf_dir)
        .collect()
    }
    rows = _dd.sql(
        "SELECT lang, doc_id, lower(text) "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY lang, doc_id"
    ).fetchall()
    per_lang: dict = {}
    for lang, _did, txt in rows:
        per_lang.setdefault(lang, []).extend(txt.split(" "))
    assert got == _heaps_expect_from_tokens(per_lang), (
        got,
        _heaps_expect_from_tokens(per_lang),
    )


def test_heaps_law_fit_power_law_fixture(spark, tmp_path):
    """The driver corpus has a bounded shared vocabulary (beta ~ 0.01,
    near-flat growth) so the fit's GROWTH regime never exercises on
    real data. Planted sqrt-vocabulary stream: token at global
    position p is w_isqrt(p), so V(N) = isqrt(N) and the true Heaps
    exponent is 0.5 with an almost perfect log-log line — the fit
    must recover beta in [0.45, 0.55] with r2 >= 0.98 (the
    naive_bayes/IVF planted-fixture precedent)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ray_mapreduce_spark.plans import all_queries

    n_total, per_doc = 12000, 200
    toks = [f"w{math.isqrt(p)}" for p in range(1, n_total + 1)]
    docs = []
    for d in range(n_total // per_doc):
        body = " ".join(toks[d * per_doc : (d + 1) * per_doc])
        docs.append((d + 1, body, "xx", "fixture", len(body)))
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array([r[2] for r in docs], pa.string()),
            "source": pa.array([r[3] for r in docs], pa.string()),
            "n_chars": pa.array([r[4] for r in docs], pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "documents.parquet"))
    rows = (
        all_queries()["text_heaps_law_fit"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["lang"] == "xx" and r["n_points"] == 5
    assert 0.45 <= r["beta"] <= 0.55, r["beta"]
    assert r["r2"] >= 0.98, r["r2"]
    # and the replay agrees exactly on the fixture too
    expect = _heaps_expect_from_tokens({"xx": toks})
    assert tuple(r)[1:] == expect["xx"]


def test_runs_test_replay(spark, sf_dir):
    """orders_runs_test (late r15): pure-python replay — exact
    counts, np-style interpolated median, equality-after-round on
    expected_runs and z."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries

    def r4(x):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )

    got = {
        r["o_orderpriority"]: tuple(r)[1:]
        for r in all_queries()["orders_runs_test"]
        .builder(spark, sf_dir)
        .collect()
    }
    rows = _dd.sql(
        "SELECT o_orderpriority, CAST(o_orderdate AS DATE), "
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) "
        f"FROM '{sf_dir}/orders.parquet' GROUP BY 1, 2"
    ).fetchall()
    per: dict = {}
    for pr, day, rev in rows:
        per.setdefault(pr, []).append((day, rev))
    expect = {}
    for pr, drs in per.items():
        drs.sort()
        vals = sorted(r for _, r in drs)
        pos = (len(vals) - 1) * 0.5
        lo = int(pos)
        frac = pos - lo
        med = (
            float(vals[lo])
            if frac == 0
            else vals[lo] + frac * (vals[lo + 1] - vals[lo])
        )
        sgns = [1 if float(r) > med else 0 for _, r in drs if float(r) != med]
        n = len(sgns)
        n1 = sum(sgns)
        n2 = n - n1
        runs = 1 + sum(1 for a, b in zip(sgns, sgns[1:]) if a != b)
        e = 1.0 + float(2 * n1 * n2) / n
        z = None
        if n1 > 0 and n2 > 0 and n > 1:
            var = float(2 * n1 * n2 * (2 * n1 * n2 - n)) / (
                float(n) * n * (n - 1)
            )
            z = r4((float(runs) - e) / var**0.5) + 0.0
        expect[pr] = (n, n1, n2, runs, r4(e), z)
    assert got == expect, (got, expect)


def test_runs_test_regime_fixture(spark, tmp_path):
    """The driver corpus is random-ish (|z| < 2 everywhere), so the
    clustered-regime branch never exercises on real data. Planted
    fixture: one priority whose daily revenue is high for the first
    half of days and low for the second — exactly 2 runs, z deeply
    negative; an alternating priority maxes runs, z deeply
    positive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ray_mapreduce_spark.plans import all_queries

    rows = []
    ok = 0
    base = 10957  # 2000-01-01 in epoch days
    for day in range(200):
        ok += 1
        clustered = 500.0 if day < 100 else 100.0
        rows.append((ok, "1-CLUSTER", base + day, clustered))
        ok += 1
        alternating = 500.0 if day % 2 == 0 else 100.0
        rows.append((ok, "2-ALTERNATE", base + day, alternating))
    t = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([1] * len(rows), pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(rows), pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [r[2] * 86400_000_000 for r in rows],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(t, str(tmp_path / "orders.parquet"))
    got = {
        r["o_orderpriority"]: r
        for r in all_queries()["orders_runs_test"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    c = got["1-CLUSTER"]
    assert c["n_runs"] == 2 and c["z"] < -10, dict(c.asDict())
    a = got["2-ALTERNATE"]
    assert a["n_runs"] == a["n_days"] and a["z"] > 10, dict(a.asDict())


def test_bootstrap_ci_replay(spark, sf_dir):
    """orders_bootstrap_ci (late r15): pure-python replay — integer
    Poisson weights from the same sha hashes, exact replicate sums,
    interpolated CI bounds via equality-after-round. Also pins the
    threshold provenance (floor(PoissonCDF_1(k) * 2^24))."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.plans.sampling import (
        _POISSON_T,
        POISSON_BOOT_B,
    )

    cdf, ts = 0.0, []
    for k in range(5):
        cdf += math.exp(-1.0) / math.factorial(k)
        ts.append(math.floor(cdf * 16777216))
    assert tuple(ts) == _POISSON_T

    def r4(x):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )

    def pct(a, q):
        a = sorted(a)
        pos = (len(a) - 1) * q
        lo = int(pos)
        d = pos - lo
        if d == 0:
            return float(a[lo])
        return a[lo] + d * (a[lo + 1] - a[lo])

    got = {
        r["o_orderpriority"]: tuple(r)[1:]
        for r in all_queries()["orders_bootstrap_ci"]
        .builder(spark, sf_dir)
        .collect()
    }
    rows = _dd.sql(
        "SELECT o_orderkey, o_orderpriority, "
        "CAST(round(o_totalprice*100) AS BIGINT) "
        f"FROM '{sf_dir}/orders.parquet'"
    ).fetchall()

    def weight(okey, b):
        h = int(
            hashlib.sha256(f"{okey}_{b}".encode()).hexdigest()[:6], 16
        )
        for k, t in enumerate(_POISSON_T):
            if h < t:
                return k
        return 5

    per: dict = {}
    for okey, pr, cents in rows:
        per.setdefault(pr, []).append((okey, cents))
    expect = {}
    for pr, lst in per.items():
        means = []
        for b in range(POISSON_BOOT_B):
            s = n = 0
            for okey, cents in lst:
                w = weight(okey, b)
                s += w * cents
                n += w
            if n > 0:
                means.append(float(s) / n)
        cs = sum(c for _, c in lst)
        expect[pr] = (
            len(lst),
            r4(float(cs) / len(lst)),
            len(means),
            r4(pct(means, 0.025)),
            r4(pct(means, 0.975)),
        )
    assert got == expect, (got, expect)


def _twonn_expect(vecs):
    """Pure-python TwoNN replay mirroring the plan exactly:
    {label: [vec]} -> {label: (n_points, n_used, summ, id_hat)}."""
    from decimal import ROUND_HALF_UP, Decimal
    import math

    from ray_mapreduce_spark.plans.similarity import TWONN_QUANT

    def r4(x):
        return float(
            Decimal(repr(x + 1e-9)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )

    expect = {}
    for label, pts in vecs.items():
        q = {
            i: [float(round(x * float(TWONN_QUANT))) for x in v]
            for i, v in pts.items()
        }
        nq = {i: sum(x * x for x in v) for i, v in q.items()}
        n_used = 0
        summ = 0
        for i in q:
            ds = sorted(
                (
                    nq[i]
                    + nq[j]
                    - 2 * sum(x * y for x, y in zip(q[i], q[j])),
                    j,
                )
                for j in q
                if j != i
            )
            d1, dnn = ds[0][0], ds[1][0]
            if d1 > 0:
                n_used += 1
                summ += int(round((0.5 * math.log(dnn / d1)) * 1000000.0))
        id_hat = r4(float(n_used) * 1000000.0 / summ) if summ > 0 else None
        expect[label] = (len(pts), n_used, summ, id_hat)
    return expect


def test_intrinsic_dim_replay(spark, sf_dir):
    """embedding_intrinsic_dim (late r15): pure-python replay with
    exact equality on the integer pieces and equality-after-round on
    id_hat."""
    import duckdb as _dd

    from ray_mapreduce_spark.plans import all_queries

    got = {
        r["label"]: tuple(r)[1:]
        for r in all_queries()["embedding_intrinsic_dim"]
        .builder(spark, sf_dir)
        .collect()
    }
    rows = _dd.sql(
        "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) "
        f"FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    vecs: dict = {}
    for vid, label, v in rows:
        vecs.setdefault(label, {})[vid] = v
    assert got == _twonn_expect(vecs), (got, _twonn_expect(vecs))


def test_intrinsic_dim_manifold_fixture(spark, tmp_path):
    """The driver embeddings are near-isotropic (id_hat ~ 30-40 in
    ambient 64), so the LOW-dimensional detection branch never
    exercises on real data. Planted fixture: points on a 2-D plane
    embedded in 64-D (first two coords vary over a grid+jitter, rest
    zero) must estimate id_hat ~ 2; plus one label with an exact
    duplicate pair exercising the d1 = 0 exclusion."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ray_mapreduce_spark.plans import all_queries

    def u(seed):
        # deterministic uniform in [0, 1): fractional part of a
        # high-frequency sine (classic hash-noise construction)
        return (math.sin(seed) * 43758.5453123) % 1.0

    rows = []
    vid = 0
    for vid in range(1, 401):
        v = [0.0] * 64
        v[0] = u(vid * 12.9898)
        v[1] = u(vid * 78.233)
        rows.append((vid, 0, v))
    # label 1: a tiny cluster with an exact duplicate
    for k in range(5):
        vid += 1
        v = [0.0] * 64
        v[0] = 0.1 * k
        v[2] = 0.2
        rows.append((vid, 1, v))
    vid += 1
    rows.append((vid, 1, list(rows[-1][2])))  # exact duplicate
    # label 2: ALL duplicates -> degenerate row (n_used = 0, NULL id)
    for _ in range(3):
        vid += 1
        rows.append((vid, 2, [0.5] + [0.0] * 63))
    t = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    got = {
        r["label"]: r
        for r in all_queries()["embedding_intrinsic_dim"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    plane = got[0]
    assert plane["n_used"] == 400
    assert 1.2 <= plane["id_hat"] <= 3.0, plane["id_hat"]
    dup = got[1]
    assert dup["n_points"] == 6 and dup["n_used"] == 4, dict(dup.asDict())
    deg = got[2]
    assert deg["n_points"] == 3 and deg["n_used"] == 0, dict(deg.asDict())
    assert deg["sum_lnmu_micro"] == 0 and deg["id_hat"] is None


def _write_daily_events(d, n_days):
    """One ``view`` event a day for ``n_days`` days as
    ``d/events.parquet``; returns its path."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    day0 = datetime.datetime(2024, 1, 1, 12)
    t = pa.table(
        {
            "event_id": pa.array(range(n_days), pa.int64()),
            "ts": pa.array(
                [day0 + datetime.timedelta(days=i) for i in range(n_days)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([7] * n_days, pa.int64()),
            "event_type": pa.array(["view"] * n_days, pa.string()),
            "value": pa.array([1.25 + i for i in range(n_days)], pa.float64()),
            "props": pa.array(["{}"] * n_days, pa.string()),
        }
    )
    d.mkdir()
    path = d / "events.parquet"
    pq.write_table(t, str(path))
    return path


@pytest.mark.parametrize(
    "name, duckdb_error",
    [
        ("events_ewma_residuals", "Overflow in left shift"),
        ("events_double_ewma_holt", "series longer than 62 steps"),
    ],
)
def test_dyadic_ewma_guard_past_62_steps(spark, tmp_path, name, duckdb_error):
    """A 63-day series passes the dyadic EWMA's 62-step bound (the
    power-of-two weights span 2^i in a bigint): the Spark builder
    raises an error naming its own query, and the DuckDB oracle
    raises too instead of returning wrapped rows — holt through its
    ``error()`` guard, residuals on the ``1::BIGINT << 63`` shift.
    62 days still run on both engines."""
    import duckdb

    spec = all_queries()[name]
    for n_days in (62, 63):
        path = _write_daily_events(tmp_path / f"d{n_days}", n_days)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            if n_days == 62:
                assert len(spec.builder(spark, str(path.parent)).collect()) == 62
                assert len(con.execute(spec.oracle).fetchall()) == 62
                continue
            with pytest.raises(Exception, match=f"{name}: series longer than 62 steps"):
                spec.builder(spark, str(path.parent)).collect()
            with pytest.raises(duckdb.Error, match=duckdb_error):
                con.execute(spec.oracle).fetchall()
        finally:
            con.close()
