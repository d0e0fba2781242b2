"""The text front end is defined once: ``functions/text.py`` holds the
Spark tokenizer, word count and k-gram lead chain and the DuckDB
tokenizer ``TOKENS_SQL``, and ``plans/dedup.py`` generates the DuckDB
shingle list from SHINGLE_K.
A guard keeps inline copies from coming back; a parity test pins the
two engines' shingles to each other."""

from __future__ import annotations

import os
import re

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ray_mapreduce_spark")

# pattern -> the one file (relative to the package) allowed to spell it
_SINGLE_DEFINITIONS = {
    re.compile(r"F\.split\(F\.lower\("): "functions/text.py",
    re.compile(r"F\.size\(F\.split\(\"text\", \" \"\)\)"): "functions/text.py",
    re.compile(r"string_split\(lower\(text\), ' '\)"): "functions/text.py",
    re.compile(r"string_split\(lower\(text\), ' '\)\[i\] \|\|"): None,
}


def test_text_front_end_defined_once():
    """The inline tokenizer, the inline word count, the bare DuckDB
    tokenizer ``string_split(lower(text), ' ')`` and its
    ``[i] ||`` shingle comprehension may not appear anywhere in the
    package but their one definition (the shingle comprehension has
    none: it is generated from SHINGLE_K)."""
    hits = []
    for root, _, files in os.walk(_PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    for pattern, home in _SINGLE_DEFINITIONS.items():
                        if pattern.search(line) and rel != home:
                            hits.append(f"ray_mapreduce_spark/{rel}:{lineno}: {line.strip()}")
    assert not hits, (
        "inline copy of the text front end; call functions/text.py's tokens() / "
        "n_words() or interpolate its TOKENS_SQL or plans/dedup.py's "
        "SHINGLE_LIST_SQL / SHINGLE_MIN_SQL:\n"
        + "\n".join(hits)
    )


def test_spark_and_duckdb_shingles_agree(spark):
    """``lead_chain`` over ``tokens()`` and the generated DuckDB
    ``SHINGLE_LIST_SQL`` / ``SHINGLE_MIN_SQL`` give the same per-doc
    shingle lists, short docs included."""
    import duckdb
    from pyspark.sql import functions as F

    from ray_mapreduce_spark.functions.text import lead_chain, tokens
    from ray_mapreduce_spark.plans.dedup import SHINGLE_K, SHINGLE_LIST_SQL, SHINGLE_MIN_SQL

    docs = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "a b"),
        (3, "one two three"),
        (4, "x  y z x  y z"),
        (5, "A a A a A a"),
    ]
    d = spark.createDataFrame(docs, "doc_id bigint, text string")
    tok = d.select("doc_id", F.posexplode(tokens()).alias("pos", "t"))
    grams, cols = lead_chain(tok, "t", SHINGLE_K)
    assert len(cols) == SHINGLE_K
    rows = grams.select("doc_id", "pos", F.concat_ws(" ", *cols).alias("g")).collect()
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["pos"])):
        got.setdefault(r["doc_id"], []).append(r["g"])

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        want = dict(
            con.execute(
                f"SELECT doc_id, {SHINGLE_LIST_SQL} FROM documents WHERE {SHINGLE_MIN_SQL}"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want
    assert 2 not in got and got[3] == ["one two three"]
