"""The text front end, the candidate-pair core and the events grains
are defined once: ``functions/text.py`` holds the Spark tokenizer,
word count and k-gram lead chain and the DuckDB tokenizer
``TOKENS_SQL``; ``plans/dedup.py`` generates the DuckDB shingle list
from SHINGLE_K and spells the oracles' shingle set once;
``functions/pairs.py`` holds the canonical ``a.id < b.id`` self-join
every near-dup pair generator calls; ``functions/grain.py`` holds the
UTC day, integer cents and the Knuth hash split for both engines;
``functions/stats.py`` holds the ordered fold (gotcha #15) and
``functions/text.py`` the BM25 weight for both engines;
``operators/clustering.py`` the dedup decisions' oracle twins (the
exact keeper and the recursive closure); lineages that two queries
share are written once in their module.
A guard keeps inline copies from coming back, also when a copy is
split across lines; a parity test pins the two engines' shingles to
each other."""

from __future__ import annotations

import os
import re

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ray_mapreduce_spark")

# pattern -> (the one file, relative to the package, allowed to spell
# it; whether it may appear only ONCE there). A home of None means the
# spelling has no home: it is generated code, or a named constant's
# value. Spellings that are allowed once are lineages two queries
# share: a second copy in the home file itself is a second definition.
# Patterns match a module's text with every whitespace run collapsed
# to one space, so they spell each whitespace run as one space and use
# no pattern that spans unbounded text (``.*``).
_SINGLE_DEFINITIONS = {
    re.compile(r"F\.split\(F\.lower\("): ("functions/text.py", False),
    re.compile(r"F\.size\(F\.split\(\"text\", \" \"\)\)"): ("functions/text.py", False),
    re.compile(r"string_split\(lower\(text\), ' '\)"): ("functions/text.py", False),
    re.compile(r"string_split\(lower\(text\), ' '\)\[i\] \|\|"): (None, False),
    re.compile(r"F\.col\(\"a\.\w+\"\) < F\.col\(\"b\.\w+\"\)"): ("functions/pairs.py", False),
    re.compile(r"list_distinct\(\{SHINGLE_LIST_SQL\}\) AS shingles"): ("plans/dedup.py", False),
    re.compile(r"unix_micros\(ts\) div 86400000000"): ("functions/grain.py", False),
    re.compile(r"epoch_us\(CAST\(ts AS TIMESTAMP\)\) // 86400000000"): ("functions/grain.py", False),
    re.compile(r"F\.round\(F\.col\(\"value\"\) \* 100\)"): ("functions/grain.py", False),
    re.compile(r"round\(value \* 100\)"): ("functions/grain.py", False),
    re.compile(r"2654435761"): ("functions/grain.py", False),
    re.compile(r"F\.lead\(\"event_type\"\)"): ("plans/advanced.py", True),
    re.compile(r"lead\(event_type\) OVER"): ("plans/advanced.py", True),
    re.compile(r"greatest\(max\(CAST\(l\.l_shipdate AS DATE\)\)"): ("plans/advanced.py", True),
    re.compile(r"greatest\(CAST\(s21 AS DOUBLE\)"): ("plans/advanced.py", True),
    re.compile(r"list_intersect\(a\.shingles, b\.shingles\)\) AS DOUBLE\)"): ("plans/dedup.py", True),
    re.compile(r"F\.spark_partition_id\(\)"): ("functions/scale.py", True),
    re.compile(r"F\.col\(\"rk\"\) == F\.col\(\"k\"\)"): ("functions/stats.py", True),
    re.compile(r"WHERE rk = k\b"): ("functions/stats.py", True),
    re.compile(r"\(min\(day\) \+ max\(day\) \+ 1\) div 2"): ("plans/advanced.py", True),
    re.compile(r"\(min\(day\) \+ max\(day\) \+ 1\) // 2"): ("plans/advanced.py", True),
    re.compile(r"\(F\.lit\(100\.0\) \* F\.count\(F\.lit\(1\)\)\), 6"): ("plans/timeseries.py", True),
    re.compile(r"AS DOUBLE\) / \(100\.0 \* count\(\*\)\), 6\)"): ("plans/timeseries.py", True),
    re.compile(r"c_acctbal \* 100\) AS BIGINT\) div"): ("plans/advanced.py", True),
    re.compile(r"c_acctbal \* 100\) AS BIGINT\) //"): ("plans/advanced.py", True),
    re.compile(r"F\.col\(\"n\"\) - F\.col\(\"df\"\) \+ 0\.5"): ("functions/text.py", True),
    re.compile(r"ln\(\([^()]* - [^()]* \+ 0\.5\) / \("): ("functions/text.py", True),
    re.compile(r"1::BIGINT << CASE WHEN i > 62"): ("plans/advanced.py", True),
    re.compile(r"UNION ALL SELECT dst AS src, src AS dst"): ("plans/graph.py", True),
    re.compile(r"\[\.,;:!\?"): ("functions/text.py", False),
    re.compile(r"1::BIGINT << CAST\(i AS INT\) AS DOUBLE"): ("plans/advanced.py", True),
    re.compile(r"FROM reach t JOIN edges e ON t\.r = e\.u"): ("operators/clustering.py", True),
    re.compile(r"min\(doc_id\)( AS \w+)? FROM documents GROUP BY sha256\(text\)"): (
        "operators/clustering.py",
        True,
    ),
    re.compile(r"(list_cosine_similarity|_cos)\([^()]*\) >= \d"): (None, False),
}


def _collapsed(text: str) -> tuple[str, list]:
    """``text`` with every whitespace run as one space, and the line
    number of each character of the result."""
    out, lines, lineno = [], [], 1
    for m in re.finditer(r"\s+|\S+", text):
        run = m.group()
        if run[0].isspace():
            out.append(" ")
            lines.append(lineno)
            lineno += run.count("\n")
        else:
            out.append(run)
            lines.extend([lineno] * len(run))
    return "".join(out), lines


def test_text_front_end_defined_once():
    """None of these may appear anywhere in the package but their one
    definition: the inline tokenizer, the inline word count, the bare
    DuckDB tokenizer ``string_split(lower(text), ' ')`` and its
    ``[i] ||`` shingle comprehension (which has no home: it is
    generated from SHINGLE_K), the canonical-order predicate
    ``F.col("a.<id>") < F.col("b.<id>")``, the oracles' shingle set
    ``list_distinct({SHINGLE_LIST_SQL}) AS shingles``, the UTC day
    (Spark ``unix_micros(ts) div 86400000000``, DuckDB
    ``epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000``), the cents of
    ``value`` (``round(value * 100)`` in either spelling) and the
    Knuth multiplier ``2654435761``, the exact-dedup normal form's
    punctuation class ``[.,;:!?``, and a cosine compared with a bare
    number (a near-dup threshold is similarity.py's named constant,
    and its rule ``_near_dup_pairs`` / ``_near_dup_sql``). These may
    appear only once: the event-type ``lead`` sequence (Spark and
    DuckDB), the order close day, the Welch z of the two-arm oracles,
    the oracles' Jaccard predicate, the two-pass kernel's partition
    id, the ordered fold's ``rk == k`` filter (Spark and DuckDB), the
    two-period midpoint day, the daily mean value, the QI balance
    bucket, the BM25 weight (Spark and DuckDB), the guarded EWMA step
    weight and the oracles' EWMA divisor, the oracles'
    both-directions edge list, the oracles' recursive closure and
    their exact keeper. Each module is
    matched with whitespace runs collapsed, so a copy split across
    lines is found too, reported at the line where it starts."""
    hits = []
    seen: dict = {}
    for root, _, files in os.walk(_PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                raw = f.read()
            text, line_of = _collapsed(raw)
            src_lines = raw.splitlines()
            for pattern, (home, once) in _SINGLE_DEFINITIONS.items():
                for m in pattern.finditer(text):
                    lineno = line_of[m.start()]
                    where = f"ray_mapreduce_spark/{rel}:{lineno}: {src_lines[lineno - 1].strip()}"
                    if rel != home:
                        hits.append(f"{where}  (defined in {home or 'generated code or a named constant'})")
                    elif once and pattern in seen:
                        hits.append(f"{where}  (second copy; first at {seen[pattern]})")
                    else:
                        seen[pattern] = f"{rel}:{lineno}"
    assert not hits, (
        "inline copy of a shared definition; call functions/text.py's tokens() / "
        "n_words() / bm25_weight(), functions/stats.py's ordered_fold(), "
        "functions/pairs.py's canonical_pairs() or functions/grain.py's "
        "utc_day() / cents() / knuth_bucket(), or interpolate TOKENS_SQL, "
        "DAY_SQL, CENTS_SQL, KNUTH / MOD_2_32 or plans/dedup.py's SHINGLE_LIST_SQL / "
        "SHINGLE_SET_SQL / SHINGLED_CTE_SQL or operators/clustering.py's EXACT_KEEP_SQL / "
        "CLOSURE_SQL; for a shared lineage call or interpolate "
        "its one definition:\n" + "\n".join(hits)
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
