"""Physical-plan hygiene: the properties that make these queries
viable at 100 TB, pinned as assertions so a regression in plan shape
fails CI, not the cluster.
"""

from __future__ import annotations

from ray_mapreduce_spark.plans import all_queries
from ray_mapreduce_spark.testing import walk_plan


def _plan(spark, name, sf_dir) -> str:
    df = all_queries()[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "filter_project_revenue", sf_dir)
    assert "PushedFilters: [" in plan
    # shipdate range + discount + quantity predicates pushed to parquet
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 7 needed columns, not all 11 — pruning worked
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, "q5_local_supplier_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3  # c, s, n, r sides
    # the orders x lineitem fact join must NOT broadcast at scale; it
    # is either SMJ or (under AQE at test sizes) a runtime conversion.


def test_aggregates_are_partial(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    # two HashAggregate nodes (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2


def test_topn_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, "sort_limit_top100", sf_dir)
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_no_python_udfs_in_relational_paths(spark, sf_dir):
    for name in (
        "q1_pricing_summary",
        "q5_local_supplier_revenue",
        "month_count",
        "dedup_exact",
        "text_quality_score",
        "string_functions",
    ):
        plan = _plan(spark, name, sf_dir)
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"


def test_whole_stage_codegen_active(spark, sf_dir):
    df = all_queries()["q1_pricing_summary"].builder(spark, sf_dir)
    df.collect()  # AQE finalizes (and codegen-annotates) the plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_hash_sample_is_narrow(spark, sf_dir):
    """Deterministic hash sampling must be a pure scan+filter: no
    Exchange anywhere (a sample that shuffles is wrong at 100 TB)."""
    plan = _plan(spark, "sample_hash_deterministic", sf_dir)
    assert "Exchange" not in plan


def test_global_total_is_broadcast_not_window(spark, sf_dir):
    """try_cast_parsing's global count must come from a broadcast
    cross join, never an empty-partition Window funneling the table
    through one task."""
    plan = _plan(spark, "try_cast_parsing", sf_dir)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_global_ranking_is_range_partitioned(spark, sf_dir):
    """window_distribution's big-table window must be partitioned (by
    the range-partition id); the only unpartitioned window runs over
    the per-partition counts (a few hundred rows at any scale). Since
    r3 the range-partitioned+locally-ranked frame is materialized via
    an EAGER localCheckpoint (both consumer branches must see the SAME
    sampled range bounds — ADVICE r2), so the visible plan starts at
    the checkpoint scan: assert the checkpoint is there and that no
    Window in the remaining plan runs unpartitioned over the big
    table (every Window operator mentions a partition key)."""
    plan = _plan(spark, "window_distribution", sf_dir)
    # lineage truncated at the materialized checkpoint
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    # downstream windows are keyed by _pid (big table) / run over the
    # tiny per-partition counts frame only
    assert "_pid" in plan


def test_streaming_batch_aggs_are_partial(spark, sf_dir):
    plan = _plan(spark, "stream_tumbling_counts", sf_dir)
    assert plan.count("HashAggregate") >= 2  # map-side partial counts


def test_no_fact_proportional_broadcast_hint(spark, sf_dir):
    """customer AND supplier are fact-proportional: their joins must
    carry no explicit broadcast HINT (AQE may still choose broadcast
    at test sf — that's the point; a hint would remove the SMJ
    fallback and fail outright past the 8 GB ceiling). Checked on the
    optimized logical plan: ResolvedHint nodes would appear there."""
    from ray_mapreduce_spark.plans import all_queries

    for name in ("q3_shipping_priority", "q5_local_supplier_revenue",
                 "q10_returned_item_revenue", "above_segment_avg_orders",
                 "q7_nation_trade_matrix", "q8_national_market_share",
                 "q2_best_supplier_per_part", "orders_repeat_purchase_rate"):
        df = all_queries()[name].builder(spark, sf_dir)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        # region/nation/filtered-part hints are fine; none may
        # reference customer or supplier key columns
        for line in logical.splitlines():
            low = line.lower()
            if "broadcast" in low and (
                "c_custkey" in line or "s_suppkey" in line
            ):
                raise AssertionError(
                    f"{name}: broadcast hint on a fact-proportional side:\n{line}"
                )


def test_all_query_outputs_are_scalar_typed(spark, sf_dir):
    """Driver-hash safety invariant (round-1 approx_percentiles
    lesson): no registered query may emit array/map/struct/binary
    columns — flat scalar outputs only (arrays export as joined
    strings, binaries as hex digests)."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    offenders = []
    for name, spec in all_queries().items():
        df = spec.builder(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, f"non-scalar output columns: {offenders}"


def test_mixture_sampling_is_broadcast_scan_filter(spark, sf_dir):
    """sample_weighted_mixture must evaluate as a broadcast of the tiny
    rate table onto the corpus scan — no shuffle of corpus rows."""
    plan = _plan(spark, "sample_weighted_mixture", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_replicates_not_broadcasts_fact(spark, sf_dir):
    """join_salted_skew joins on (key, salt): the fact side must not be
    broadcast (the whole point is the dim side can't be), and the join
    must be a real equi-join on the salted key pair."""
    plan = _plan(spark, "join_salted_skew", sf_dir)
    assert "_salt" in plan
    # final agg partial+final as usual
    assert plan.count("HashAggregate") >= 2


def test_decontamination_has_no_cartesian(spark, sf_dir):
    """The decontamination join must be an equi-join on the shingle
    hash — any cartesian/nested-loop shape would be quadratic at
    corpus scale."""
    plan = _plan(spark, "decontaminate_ngram_overlap", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_events_ts_guard_rejects_unknown_dtype(spark, tmp_path):
    """gotcha #1 hardening (r6): the events loader branches on the ts
    dtype it actually reads (nanos-as-long vs micros); any OTHER
    physical type must fail loudly, not coerce silently — the dtype
    has already changed once between data generations."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from ray_mapreduce_spark.sources import load_table

    t = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array(["2024-01-01 00:00:00"], pa.string()),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["view"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    with _pytest.raises(TypeError, match="unexpected dtype 'string'"):
        load_table(spark, str(tmp_path), "events")


def test_schema_cache_sees_rewritten_file(spark, tmp_path):
    """The loader's per-process schema cache is keyed on
    (abspath, mtime_ns, size): rewriting a table in place with a
    different ``ts`` dtype must re-infer the schema — a path-only key
    would replay the old timestamp schema onto the new file and the
    dtype guard would never see the string column."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from ray_mapreduce_spark.sources import load_table

    def write(ts):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1], pa.int64()),
                    "ts": ts,
                    "user_id": pa.array([1], pa.int64()),
                    "event_type": pa.array(["view"], pa.string()),
                    "value": pa.array([1.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            ),
            str(path),
        )

    path = tmp_path / "events.parquet"
    write(pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us")))
    assert dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp"
    before = os.stat(path).st_mtime_ns
    write(pa.array(["2024-01-01 00:00:00"], pa.string()))
    # a coarse filesystem clock may not advance between the two writes
    os.utime(path, ns=(before + 10**9, before + 10**9))
    with _pytest.raises(TypeError, match="unexpected dtype 'string'"):
        load_table(spark, str(tmp_path), "events")


def test_load_table_rejects_unknown_table(spark, sf_dir):
    """A misspelled table name fails with the list of valid names,
    not with a missing-file error for a path nobody meant."""
    import pytest as _pytest

    from ray_mapreduce_spark.sources import TABLE_NAMES, load_table

    with _pytest.raises(KeyError, match="unknown table 'lineitems'") as err:
        load_table(spark, sf_dir, "lineitems")
    assert all(repr(t) in str(err.value) for t in TABLE_NAMES), err.value


def test_load_table_missing_file_names_path(spark, tmp_path):
    """A known table whose parquet file is absent fails at load time
    with the path it looked for; ``events`` takes its own dtype branch,
    so both paths are checked."""
    import re

    import pytest as _pytest

    from ray_mapreduce_spark.sources import load_table

    for name in ("orders", "events"):
        path = str(tmp_path / f"{name}.parquet")
        with _pytest.raises(FileNotFoundError, match=re.escape(path)):
            load_table(spark, str(tmp_path), name)


# ---------------------------------------------------------------------------
# Executed-ADAPTIVE-plan shape (gotchas #9/#14, promoted from the r6
# A/B measurements to regression tests): static explain always shows
# 0 ReusedExchange, so these walk the tree Spark actually ran
# (isFinalPlan=true), recursing through AQE query stages but NOT into
# InMemoryRelation build lineages (which print in toString but are
# cached, not re-executed).


def _executed_nodes(spark, name, sf_dir) -> list[str]:
    # Pristine cache: Spark substitutes any cached fragment from an
    # earlier test's persist into this plan (cache lookup is by
    # logical fragment), which would change the scan counts asserted
    # below.
    spark.catalog.clearCache()
    df = all_queries()[name].builder(spark, sf_dir)
    df.collect()  # drive AQE to the final plan
    out: list[str] = []
    walk_plan(df._jdf.queryExecution().executedPlan(), lambda p: out.append(p.nodeName()))
    return out


def test_minhash_shingle_lineage_executes_once(spark, sf_dir):
    """minhash_pairs' shingle table feeds the signature stage AND the
    verify stage. The r6 lazy persist makes every consumer a cache
    read; if the persist is dropped, the consumers re-embed the
    tokenize->shingle lineage and parquet scans reappear in the
    executed plan — the 2.6s no-materialization regression measured
    in the r6 A/B. Pin: zero parquet scans in the executed final
    plan, >=2 cache reads."""
    nodes = _executed_nodes(spark, "dedup_minhash_pairs", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    cache_reads = [n for n in nodes if n == "InMemoryTableScan"]
    assert scans == [], scans
    assert len(cache_reads) >= 2, nodes


def test_ngram_single_scan_and_runtime_exchange_reuse(spark, sf_dir):
    """ngram_jaccard's r6 window rework gives one tokenize lineage
    whose identical self-join sides AQE runtime-reuses: exactly ONE
    documents scan and at least one ReusedExchange in the executed
    final plan (the pre-r6 agg+rejoin form scanned documents 4x with
    zero reuse)."""
    nodes = _executed_nodes(spark, "dedup_ngram_jaccard", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert len(scans) == 1, scans
    assert any(n.startswith("ReusedExchange") for n in nodes), nodes


def test_semantic_kmeans_assignment_executes_once(spark, sf_dir):
    """dedup_semantic_kmeans' pair stage self-joins the Lloyd
    assignment. The executed-plan probe showed AQE does NOT
    exchange-reuse the two sides of an AGGREGATED sibling lineage
    (both re-ran every Lloyd round from the persisted corpus: 8
    cache reads, 14 exchanges) — hence the eager localCheckpoint.
    Pin: the executed final plan reads NO parquet and NO cache, only
    the checkpoint RDD (Lloyd ran once, at checkpoint time)."""
    nodes = _executed_nodes(spark, "dedup_semantic_kmeans", sf_dir)
    assert [n for n in nodes if n.startswith("Scan parquet")] == [], nodes
    assert [n for n in nodes if n == "InMemoryTableScan"] == [], nodes
    rdd_scans = [n for n in nodes if n == "Scan ExistingRDD"]
    assert 1 <= len(rdd_scans) <= 2, nodes


def test_prefixfilter_checkpoint_and_cache_shape(spark, sf_dir):
    """dedup_jaccard_prefixfilter: the prefix frame is an eager
    localCheckpoint (its self-join sides are aggregated siblings —
    the no-reuse shape), and the shingle table is persisted for the
    verify stage. Pin: the executed final plan reads the checkpoint
    RDD for the candidate join (>=2 reads: both sides) and the cache
    for the verify rejoins, with NO parquet re-scan of documents
    (the checkpoint action materialized the cached shingles)."""
    nodes = _executed_nodes(spark, "dedup_jaccard_prefixfilter", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    rdd_scans = [n for n in nodes if n == "Scan ExistingRDD"]
    cache_reads = [n for n in nodes if n == "InMemoryTableScan"]
    assert scans == [], scans
    assert len(rdd_scans) >= 2, nodes
    assert len(cache_reads) >= 2, nodes


def test_tfidf_cosine_checkpoint_shape(spark, sf_dir):
    """similarity_tfidf_cosine_pairs: the unit-weight frame is an
    eager localCheckpoint consumed by the prefix stage, the candidate
    join's full side, and both verify rejoins. Pin: no parquet
    re-scan in the executed final plan and >=3 checkpoint reads."""
    nodes = _executed_nodes(spark, "similarity_tfidf_cosine_pairs", sf_dir)
    assert [n for n in nodes if n.startswith("Scan parquet")] == [], nodes
    rdd_scans = [n for n in nodes if n == "Scan ExistingRDD"]
    assert len(rdd_scans) >= 3, nodes


def test_pq_codebook_checkpoint_feeds_assignment(spark, sf_dir):
    """similarity_pq_adc_topk: the trained codebook is an eager
    localCheckpoint feeding the final assignment AND the ADC lookup
    table as sibling broadcast builds. Pin: the executed final plan
    contains checkpoint-RDD reads and the corpus cache reads, but no
    Lloyd re-run from parquet."""
    nodes = _executed_nodes(spark, "similarity_pq_adc_topk", sf_dir)
    assert [n for n in nodes if n.startswith("Scan parquet")] == [], nodes
    rdd_scans = [n for n in nodes if n == "Scan ExistingRDD"]
    assert len(rdd_scans) >= 2, nodes


def test_broadcast_fallback_degrades_to_smj_not_cartesian(spark, sf_dir):
    """The 100×-scale assumption behind the TPC-H shapes: unhinted
    small-side joins (q3's customer leg, q13's outer join, q22's anti
    join) broadcast only because AQE CHOOSES to at test sizes. When
    the side no longer fits (simulated: autoBroadcastJoinThreshold
    -1), the plan must degrade to a shuffled join — never a cartesian
    or nested-loop — and produce identical results. Hint discipline
    (SCALING.md): explicit F.broadcast ONLY on frames bounded at ANY
    sf (region/nation, filter-derived scalars, brand/type-filtered
    part). customer and supplier are fact-proportional, so r9 dropped
    their hints everywhere (q2/q5/q7/q8/repeat-purchase) — those
    plans are `mixed`: bounded dims keep hints (BroadcastHashJoin
    allowed under threshold -1), but the fact-proportional side must
    degrade to a shuffled join."""
    unhinted = ["q3_shipping_priority", "q13_customer_distribution",
                "orders_repeat_purchase_rate", "q12_ship_class_priority",
                "q20_dominant_suppliers"]
    # fact-side unhinted + bounded-dim hints kept:
    mixed = ["q5_local_supplier_revenue", "q7_nation_trade_matrix",
             "q8_national_market_share", "q2_best_supplier_per_part",
             "q9_product_profit"]
    # q22/q11/q15 mix both: hinted 1-row scalar (a deliberate
    # BroadcastNestedLoopJoin with a single-row build side) + an
    # UNHINTED fact-proportional join that must degrade shuffled.
    hinted = ["q14_promo_revenue", "q19_disjunctive_revenue",
              "q17_small_quantity_revenue", "q22_idle_capital",
              "q11_important_part_value", "q15_top_supplier"]
    scalar_bnlj = {"q22_idle_capital", "q11_important_part_value",
                   "q15_top_supplier"}
    qs = all_queries()

    def rows(name):
        return sorted(
            map(tuple, qs[name].builder(spark, sf_dir).collect())
        )

    baseline = {n: rows(n) for n in unhinted + mixed + hinted}
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for n in unhinted + mixed + hinted:
            nodes = _executed_nodes(spark, n, sf_dir)
            joined = " ".join(nodes)
            assert "CartesianProduct" not in joined, n
            bnlj = sum(x == "BroadcastNestedLoopJoin" for x in nodes)
            # only the 1-row scalar-threshold joins may nested-loop
            # (q15's scalar compare is EQUI — u == max(u) — so Catalyst
            # folds it into a BroadcastHashJoin instead: 0 BNLJ is fine)
            assert bnlj <= (1 if n in scalar_bnlj else 0), n
            assert rows(n) == baseline[n], f"{n}: fallback changed results"
            if n in scalar_bnlj:
                assert any(
                    x in ("SortMergeJoin", "ShuffledHashJoin") for x in nodes
                ), f"{n}: fact join did not degrade to a shuffled join"
        for n in unhinted + mixed:
            nodes = _executed_nodes(spark, n, sf_dir)
            assert any(
                x in ("SortMergeJoin", "ShuffledHashJoin") for x in nodes
            ), f"{n}: no shuffled join appeared under threshold -1"
            if n in unhinted:
                assert "BroadcastHashJoin" not in nodes, (
                    f"{n}: unhinted join still broadcast with threshold -1"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )


def test_distinctive_terms_total_is_broadcast_scalar(spark, sf_dir):
    """text_distinctive_terms (r9, VERDICT r8 #5): the corpus total
    must be a 1-row broadcast scalar, never a Window.partitionBy()
    that funnels the vocab×sources frame through one partition. Pin:
    every Window node in the executed plan carries a partition key,
    and the scalar lands via a broadcast join."""
    qs = all_queries()
    df = qs["text_distinctive_terms"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        stripped = line.strip().lstrip("*:+- (0123456789)")
        if stripped.startswith("Window ["):
            assert "], [" in stripped and "#" in stripped.split("], [")[1], (
                f"unpartitioned window:\n{line}"
            )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_market_basket_self_join_runtime_reuses_exchange(spark, sf_dir):
    """orders_market_basket_pairs self-joins the identical distinct
    (order, part) scan-rooted subtree — the gotcha #14 reuse class.
    Pin: at least one ReusedExchange in the executed final plan and
    no cartesian anywhere."""
    nodes = _executed_nodes(spark, "orders_market_basket_pairs", sf_dir)
    assert any(n.startswith("ReusedExchange") for n in nodes), nodes
    assert "CartesianProduct" not in nodes


def test_user_overlap_self_join_runtime_reuses_exchange(spark, sf_dir):
    """events_user_overlap: same reuse class — the distinct
    (type, user) frame's self-join sides are identical subtrees."""
    nodes = _executed_nodes(spark, "events_user_overlap", sf_dir)
    assert any(n.startswith("ReusedExchange") for n in nodes), nodes
    assert "CartesianProduct" not in nodes


def test_ngram_novelty_single_scan(spark, sf_dir):
    """text_ngram_novelty is one linear lineage (shingle -> window ->
    fold): exactly one documents scan, no joins at all."""
    nodes = _executed_nodes(spark, "text_ngram_novelty", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert len(scans) == 1, nodes
    assert not any("Join" in n for n in nodes), nodes


def test_temperature_mixture_is_broadcast_scan_filter(spark, sf_dir):
    """The keep decision must stay a map-side broadcast filter. The
    per-lang counts frame is eager-checkpointed (two differently-
    pruned consumers — gotcha #14 said three documents scans without
    it): the executed final plan reads parquet exactly ONCE (the kept
    path), reads the checkpoint RDD for the rate table, and contains
    no shuffled join of corpus rows."""
    nodes = _executed_nodes(spark, "sample_temperature_mixture", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert len(scans) == 1, nodes
    assert any(n == "Scan ExistingRDD" for n in nodes), nodes
    assert "SortMergeJoin" not in nodes and "ShuffledHashJoin" not in nodes, nodes


def test_q13_one_fact_shuffle_under_smj(spark, sf_dir):
    """q13's docstring claim, pinned: under a disabled broadcast
    threshold the outer join sort-merges and the per-customer count
    REUSES the join's custkey partitioning — exactly the two
    join-input exchanges, none added for the aggregation."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        nodes = _executed_nodes(spark, "q13_customer_distribution", sf_dir)
        assert "SortMergeJoin" in nodes, nodes
        exchanges = [n for n in nodes if n == "Exchange"]
        # 2 join inputs + the tiny final histogram agg exchange; the
        # per-customer count must NOT add a custkey exchange.
        assert len(exchanges) <= 3, nodes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_q21_windows_reuse_join_partitioning_under_smj(spark, sf_dir):
    """q21's docstring claim, pinned: under forced SMJ the composite
    (orderkey, suppkey) aggregate AND the two orderkey windows all
    ride the fact-fact join's orderkey partitioning (subset-clustering
    rule) — exactly ONE l_orderkey exchange in the whole plan (the
    join's lineitem input)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = all_queries()["q21_late_sole_suppliers"].builder(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin [l_orderkey" in final, final
        n = final.count("Exchange hashpartitioning(l_orderkey")
        assert n == 1, f"expected 1 l_orderkey exchange, saw {n}:\n{final}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_sq8_window_and_agg_share_one_exchange(spark, sf_dir):
    """embedding_sq8_error computes the per-dim max-abs as a window
    over dim and then groupBys dim: the agg must REUSE the window's
    partitioning (gotcha #14 window rewrite) — exactly one shuffle
    exchange in the whole executed plan, one embeddings scan, no
    joins."""
    nodes = _executed_nodes(spark, "embedding_sq8_error", sf_dir)
    shuffles = [n for n in nodes if n == "Exchange" or n.startswith("ShuffleExchange")]
    assert len(shuffles) <= 1, nodes
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert len(scans) == 1, nodes
    assert not any("Join" in n for n in nodes), nodes


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark 4 injects a runtime BLOOM FILTER from a selective dim
    filter into the fact scan of a SHUFFLED join (InjectRuntimeFilter
    -> might_contain(...) in the scan filters). At bench scale the
    defaults suppress it (applicationSideScanSizeThreshold = 10GB and
    AQE broadcasts the dim first), which is exactly right; at the
    100 TB target the fact side crosses the threshold and the filter
    fires OUT OF THE BOX. This test recreates the at-scale conditions
    (force shuffle joins, drop the size thresholds) and pins (a) the
    bloom filter appears, (b) results are unchanged."""
    qs = all_queries()
    name = "q3_shipping_priority"
    baseline = [tuple(r) for r in qs[name].builder(spark, sf_dir).collect()]
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        df = qs[name].builder(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert rows == baseline, "bloom filter changed results"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_label_agreement_bounded_broadcast_no_cartesian(spark, sf_dir):
    """The kNN audit panel joins as a BROADCAST nested-loop of the
    bounded 50-row panel (the similarity_topk_brute whitelist shape)
    — never an unbounded CartesianProduct; both embeddings branches
    are plain scans (differently-pruned siblings, no cache
    dependency)."""
    nodes = _executed_nodes(spark, "embedding_label_agreement", sf_dir)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    bnlj = [n for n in nodes if "BroadcastNestedLoopJoin" in n]
    assert len(bnlj) == 1, nodes


def test_rrf_fusion_no_cartesian_bounded_scans(spark, sf_dir):
    """RRF's two legs: the lexical side reuses text_bm25_topdocs'
    one-lineage window form; the semantic side broadcasts ONE query
    row. Pin: no CartesianProduct anywhere, and at most 2 scans per
    source table (tf lineage + pushed-filter query branch)."""
    nodes = _executed_nodes(spark, "similarity_rrf_fusion", sf_dir)
    assert not any("CartesianProduct" in n for n in nodes), nodes
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert len(scans) <= 4, scans


def test_user_similarity_self_join_runtime_reuses_exchange(spark, sf_dir):
    """orders_user_similarity_jaccard: the pair join consumes two
    IDENTICAL (basket + df-window) subtrees — the gotcha #14 reuse
    class. Pin: ReusedExchange present, no cartesian."""
    nodes = _executed_nodes(spark, "orders_user_similarity_jaccard", sf_dir)
    assert any(n.startswith("ReusedExchange") for n in nodes), nodes
    assert "CartesianProduct" not in nodes


def test_incremental_neardup_single_scan_reuse(spark, sf_dir):
    """dedup_incremental_neardup rides the shared inverted-index
    self-join: one documents scan in the executed plan (the second
    side arrives via ReusedExchange), no cartesian."""
    nodes = _executed_nodes(spark, "dedup_incremental_neardup", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert len(scans) == 1, nodes
    assert any(n.startswith("ReusedExchange") for n in nodes), nodes
    assert "CartesianProduct" not in nodes


def test_lifecycle_distinct_frame_executes_once(spark, sf_dir):
    """events_lifecycle_stages: the distinct (user, day) frame feeds
    three consumers whose join keys differ (day+1 arithmetic — no
    exchange reuse possible), so it is eager-checkpointed (gotcha #9).
    Pin: ZERO parquet scans in the executed plan (every consumer reads
    the checkpoint) and no cartesian."""
    nodes = _executed_nodes(spark, "events_lifecycle_stages", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    assert scans == [], nodes
    assert "CartesianProduct" not in nodes


def test_centroid_classifier_broadcasts_centroids(spark, sf_dir):
    """similarity_centroid_classifier: the labels x DIM centroid frame
    must reach the test side as a broadcast (never a shuffled join),
    and nothing may fall back to cartesian."""
    nodes = _executed_nodes(spark, "similarity_centroid_classifier", sf_dir)
    assert any(n.startswith("BroadcastHashJoin") for n in nodes), nodes
    assert "CartesianProduct" not in nodes


# ---------------------------------------------------------------------------
# VERDICT r9 #2: the five fact-proportional global-ordered windows
# (gini / RFM / pareto / ABC / peak-concurrency) were swapped to the
# two-pass range-partition + broadcast-offsets pattern
# (functions/scale.py::two_pass_cumsum). Pin: in the
# executed final plan, every Window that runs on a single partition
# must be the pattern's intentionally-tiny offsets window (one row
# per range partition — its lineage contains the `_pid` scratch
# column); a single-partition Window whose subtree has no `_pid` is
# the scale-killer global sort coming back.

_TWO_PASS_NAMES = [
    "events_user_gini",
    "orders_rfm_segments",
    "orders_pareto_share",
    "orders_abc_analysis",
    "events_peak_concurrency",
    # grouped variant (VERDICT r9 #4): per-lang ntile with no
    # one-lang-one-partition sort — must show ZERO single-partition
    # windows (its offsets window is partitioned by lang).
    "quality_calibration_deciles",
]


def _executed_single_partition_windows(spark, name, sf_dir):
    spark.catalog.clearCache()
    df = all_queries()[name].builder(spark, sf_dir)
    df.collect()
    found = []

    def visit(p) -> None:
        if p.nodeName() == "Window" and "SinglePartition" in str(
            p.outputPartitioning().toString()
        ):
            found.append(p.toString())

    walk_plan(df._jdf.queryExecution().executedPlan(), visit)
    return found


import pytest as _pytest_mod


@_pytest_mod.mark.parametrize("name", _TWO_PASS_NAMES)
def test_no_fact_proportional_single_partition_window(spark, sf_dir, name):
    # Per-query allowed substrings beyond the pattern's `_pid` offsets
    # window: only pareto's 10-row decile-total window (its lineage
    # shows `_rev`, an aggregate output bounded at 10 rows). Keeping
    # the `_rev` escape global would whitelist a regressed
    # fact-proportional window in any pinned query whose lineage
    # merely mentions _rev (ADVICE r10).
    allowed = ("_pid", "_rev") if name == "orders_pareto_share" else ("_pid",)
    wins = _executed_single_partition_windows(spark, name, sf_dir)
    for w in wins:
        assert any(tok in w for tok in allowed), (
            name,
            "single-partition Window over a fact-proportional frame",
            w[:800],
        )


# ---------------------------------------------------------------------------
# VERDICT r10 #3: the RRF / BM25 top-N legs stay scale-safe only
# because Spark's rank-limit pushdown rewrites the global
# row_number-then-filter into TakeOrderedAndProject (per-partition
# heap + driver merge of k rows) feeding a k-row Window — an
# OPTIMIZER behavior, not previously a contract. Pin it: in the
# executed final plan, (a) at least one TakeOrderedAndProject exists,
# and (b) every single-partition Window's input subtree contains a
# TakeOrderedAndProject or WindowGroupLimit, so no global rank sort
# ever sees a corpus-proportional frame.

_RANK_LIMIT_PUSHDOWN_NAMES = ["similarity_rrf_fusion", "text_bm25_topdocs"]


def _subtree_node_names(p):
    names = []
    walk_plan(p, lambda n: names.append(n.nodeName()))
    return names


@_pytest_mod.mark.parametrize("name", _RANK_LIMIT_PUSHDOWN_NAMES)
def test_topn_legs_compile_to_take_ordered(spark, sf_dir, name):
    spark.catalog.clearCache()
    df = all_queries()[name].builder(spark, sf_dir)
    df.collect()

    all_names = []
    sp_windows = []

    def visit(p):
        all_names.append(p.nodeName())
        if p.nodeName() == "Window" and "SinglePartition" in str(
            p.outputPartitioning().toString()
        ):
            sp_windows.append(p)

    walk_plan(df._jdf.queryExecution().executedPlan(), visit)
    assert "TakeOrderedAndProject" in all_names, (name, all_names)
    for w in sp_windows:
        child_names = []
        for i in range(w.children().length()):
            child_names += _subtree_node_names(w.children().apply(i))
        assert (
            "TakeOrderedAndProject" in child_names
            or "WindowGroupLimit" in child_names
        ), (name, "single-partition Window without a bounded top-k input",
            child_names)


# ---------------------------------------------------------------------------
# VERDICT r11 #3: the two histogram-rank statistics (Mann-Whitney U,
# Spearman rho) are scale-safe only because every rank window runs
# over the bounded VALUE HISTOGRAM (a groupBy aggregate whose row
# count is value-range-bounded, volume-independent), never the fact
# itself. That boundedness was structural but unpinned — and the
# single-partition-window walker above would accept a regression to a
# fact-proportional PARTITIONED window. Pin: every Window node in the
# executed final plan (any partitioning) must have an Aggregate (the
# histogram collapse) on its input subtree.

_HISTOGRAM_RANK_NAMES = ["events_mann_whitney", "text_quality_length_spearman"]


@_pytest_mod.mark.parametrize("name", _HISTOGRAM_RANK_NAMES)
def test_rank_windows_run_over_bounded_histograms(spark, sf_dir, name):
    spark.catalog.clearCache()
    df = all_queries()[name].builder(spark, sf_dir)
    df.collect()

    windows = []
    walk_plan(
        df._jdf.queryExecution().executedPlan(),
        lambda p: windows.append(p) if p.nodeName() == "Window" else None,
    )
    assert windows, (name, "expected rank windows in the executed plan")
    for w in windows:
        child_names = []
        for i in range(w.children().length()):
            child_names += _subtree_node_names(w.children().apply(i))
        assert any("Aggregate" in n for n in child_names), (
            name,
            "rank Window without a histogram aggregate on its input path",
            child_names,
        )


def test_jsd_tokenize_executes_once(spark, sf_dir):
    """text_source_js_divergence: the (source, t, p) frame feeds the
    pair join's broadcast BUILD side, the PROBE side, and the source
    spine — and a broadcast build does NOT runtime-reuse the probe's
    exchange (ADVICE r11: the pre-fix executed plan re-ran the
    tokenize Generate + aggregate + window on the build side). The
    lazy persist makes every consumer a cache read. Pin: zero parquet
    scans in the executed final plan, >=2 cache reads."""
    nodes = _executed_nodes(spark, "text_source_js_divergence", sf_dir)
    scans = [n for n in nodes if n.startswith("Scan parquet")]
    cache_reads = [n for n in nodes if n == "InMemoryTableScan"]
    assert scans == [], scans
    assert len(cache_reads) >= 2, nodes
