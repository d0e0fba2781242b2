"""A warm pass reuses compiled stage code: the session's generated-class
cache (``session.CODEGEN_CACHE_ENTRIES``) holds the headline working
set, so running the 14 ``bench=True`` queries a second time in the same
order compiles nothing (the first compiles about 260 classes at
sf0.001). With Spark's default cap of 100 the LRU cache evicts classes
before their next use, and every warm pass recompiles about 300."""

from __future__ import annotations

from ray_mapreduce_spark.plans import all_queries
from ray_mapreduce_spark.testing import codegen_compiles, release_caches


def test_warm_headline_pass_compiles_nothing(spark, sf_dir):
    """AQE is off for the two passes. With it on, a self-join's build
    side can flip between runs (whichever equal-sized side's stage
    finishes first), and a flipped plan is new code, not an eviction:
    at sf0.001 ``dedup_minhash_pairs`` compiled 2-4 such classes in
    some warm passes. Static planning gives both passes the same plans,
    so any compile in the second is a cache miss."""
    specs = [s for _, s in sorted(all_queries().items()) if s.bench]
    assert len(specs) == 14

    def one_pass() -> int:
        release_caches(spark)
        before, _ = codegen_compiles(spark)
        for spec in specs:
            spec.builder(spark, sf_dir).collect()
        return codegen_compiles(spark)[0] - before

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = one_pass()
        second = one_pass()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert first > 0
    assert second == 0, f"warm headline pass recompiled {second} classes (cold pass: {first})"
