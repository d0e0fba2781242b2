"""Query plan registry package.

``all_queries()`` returns every registered QuerySpec; registration
happens on first import of the query modules (one module per
SURVEY.md §2 capability group).
"""

from __future__ import annotations

import importlib

from .registry import QuerySpec, all_queries, register  # noqa: F401

_QUERY_MODULES = (
    "relational",
    "windows",
    "functions",
    "advanced",
    "semantics",
    "pandas_udfs",
    "dedup",
    "similarity",
    "graph",
    "text_analysis",
    "multimodal",
    "streaming_batch",
    "sampling",
    "timeseries",
)

_loaded = False


def _load_all() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__name__}.{mod}")
