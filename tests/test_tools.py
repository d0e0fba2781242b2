"""Tests for tools/ — the audit-sweep cache key, plan digests and the
repeated-line count.

The --changed-only cache must invalidate a query's key when ANY code
that can alter its result changes: the builder's own plans module,
any sibling plans module it (transitively) imports, or any shared
non-plans helper module (sources/ loaders, operators/, functions/).
r8's key hashed only the builder module + oracle — the closing sweep
had to run un-flagged because a loader edit was invisible
(VERDICT r8 #4)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from audit_sweep import _plan_hashes, repeated_lines  # noqa: E402


def test_helper_edit_changes_every_cache_key():
    """Editing a shared non-plans module (the sources loader) must
    change the cache key of EVERY query — all builders read tables
    through it."""
    base = _plan_hashes()
    edited = _plan_hashes(
        source_overrides={"sources/__init__.py": "# edited helper\n"}
    )
    assert base.keys() == edited.keys()
    unchanged = [n for n in base if base[n] == edited[n]]
    assert not unchanged, f"unchanged keys after helper edit: {unchanged[:5]}"


def test_sibling_plans_import_is_transitive():
    """text_analysis imports the shingle SQL from dedup, and
    graph -> similarity -> dedup: a dedup edit must invalidate
    text_analysis AND graph queries, while a module with no import
    path to it (windows) keeps its key."""
    base = _plan_hashes()
    edited = _plan_hashes(
        source_overrides={"plans/dedup.py": "from .registry import register\n"}
    )
    assert base["text_repetition_stats"] != edited["text_repetition_stats"]
    assert base["graph_pagerank_neardup"] != edited["graph_pagerank_neardup"]
    assert base["window_running_and_lag"] == edited["window_running_and_lag"]


def test_own_module_edit_changes_only_its_dependents():
    """Editing a LEAF plans module (windows.py imports only registry)
    must not touch unrelated modules' keys."""
    base = _plan_hashes()
    edited = _plan_hashes(
        source_overrides={"plans/windows.py": "from .registry import register\n"}
    )
    assert base["window_running_and_lag"] != edited["window_running_and_lag"]
    assert base["dedup_exact"] == edited["dedup_exact"]
    assert base["q1_pricing_summary"] == edited["q1_pricing_summary"]


def test_planted_copy_raises_repeated_line_count():
    """``dups`` counts the lines of every 6-line window that occurs
    twice: appending a copy of 6 counted lines that occur nowhere else
    adds 12, while blank, comment and short lines do not count."""
    block = [f"value_{i} = compute_{i}(frame)" for i in range(6)]
    base = repeated_lines()
    fresh = "\n".join(block) + "\n"
    assert repeated_lines({"planted.py": fresh}) == base
    twice = fresh + "\n# a comment\n\nx\n" + fresh
    assert repeated_lines({"planted.py": twice}) == base + 12


def test_plan_digests_ignore_session_counters(spark, sf_dir):
    """Building the same query twice in one session draws fresh
    expression ids and lambda-variable suffixes, so the raw analyzed
    plans differ; the ``plans`` mode's normalized digests must not."""
    from audit_sweep import query_digests

    from ray_mapreduce_spark.plans import all_queries

    spec = all_queries()["similarity_topk_ivf_kmeans"]
    first, second = spec.builder(spark, sf_dir), spec.builder(spark, sf_dir)
    raw = [df._jdf.queryExecution().analyzed().toString() for df in (first, second)]
    assert raw[0] != raw[1]
    digests = query_digests(spark, spec, sf_dir)
    assert sorted(digests) == ["oracle", "oracle_output", "output", "plan"]
    assert digests == query_digests(spark, spec, sf_dir)


def test_oracle_output_digest_repeats(spark, sf_dir):
    """The ``oracle_output`` digest hashes the oracle's DuckDB rows, so
    an oracle whose text moved into a shared CTE can be shown to
    return the same rows; it must repeat run to run."""
    from audit_sweep import oracle_rows, query_digests

    from ray_mapreduce_spark.plans import all_queries

    spec = all_queries()["events_markov_transitions"]
    assert oracle_rows(spec.oracle, sf_dir)
    first = query_digests(spark, spec, sf_dir)
    assert first["oracle_output"] == query_digests(spark, spec, sf_dir)["oracle_output"]
