"""ray_mapreduce_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
``vijayp/ray_mapreduce`` engine (a minimal map -> hash-shuffle ->
group-by-key -> reduce dataflow on Ray actors; see
``/root/reference/mapreduce.py``) as an idiomatic Spark
DataFrame/Catalyst engine, plus the LLM-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal columns) the
north star mandates.

Layout
------
- ``session``    : SparkSession builder with scale-appropriate conf.
- ``worker_daemon``: the Python worker daemon ``session`` names.
- ``sources``    : table/text/manifest readers (reference E1/E4/E9/E12).
- ``operators``  : composable DataFrame operators (joins, windows,
                   dedup, similarity, text analysis, multimodal).
- ``functions``  : column-level helpers (cosine, tokenize, minhash...).
- ``plans``      : the declarative query registry — every query has a
                   builder (spark, sf_dir) -> DataFrame and, where
                   SQL-expressible, a DuckDB oracle SQL string.
- ``streaming``  : Structured Streaming slice (windows, watermark,
                   stateful counter).
- ``mapreduce``  : reference-compatible API shim
                   (MapReduceBulk / WithOneFileInput / WithMultipleFiles).
"""

__version__ = "0.1.0"
