"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical inputs. The program under test only ever sees the files
written here.

The ten analytics tables mirror the schemas and value ranges of the
engine's TPC-H-style test tables (see FIXTURES.md, Group C). Every
DOUBLE column holds dyadic rationals (multiples of 1/4, 1/8 or 1/64),
so every sum and product the queries take is exact in binary floating
point whatever the summation order. That keeps the DuckDB oracle
comparison bit-exact on every seed, not just on the data the oracle
gate was tuned on.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of scale factor; FIXTURES.md lists the same tables.
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _quarters(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform multiples of 0.25 in [lo, hi] (exact in binary)."""
    return rng.integers(int(lo * 4), int(hi * 4) + 1, n) / 4.0


def _write(table: pd.DataFrame | pa.Table, path: str) -> None:
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    pq.write_table(table, path)


def _documents(rng, n: int) -> pd.DataFrame:
    """Random texts, 1% exact duplicates and 3% near-duplicates: a
    copy of an earlier document, in its language, with one word
    replaced. Copies of copies form chains, so near-duplicate clusters
    take more than one label-propagation round."""
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    texts: list[str] = []
    for i in range(n):
        r = rng.random() if i > 10 else 1.0
        if r < 0.04:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            if r >= 0.01:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
                langs[i] = langs[src]
            texts.append(" ".join(words))
            continue
        words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten analytics tables at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(round(per * sf))) for t, per in _PER_SF.items()}
    n["documents"] = max(500, int(50_000 * sf))
    n["embeddings"] = max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
           os.path.join(out_dir, "region.parquet"))
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    nc = n["customer"]
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                "c_acctbal": _quarters(rng, -999.75, 9999.75, nc),
                "c_mktsegment": rng.choice(_SEGMENTS, nc),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    ns = n["supplier"]
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
                "s_acctbal": _quarters(rng, -999.75, 9999.75, ns),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "p_partkey": keys,
                "p_name": [
                    f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": rng.choice(_PART_TYPES, npart),
                "p_size": rng.integers(1, 51, npart).astype(np.int32),
                "p_retailprice": 900.0 + (keys % 400) / 4.0,
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )
    no = n["orders"]
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], no),
                "o_totalprice": _quarters(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(_PRIORITIES, no),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    nl = n["lineitem"]
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
                "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
                "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _quarters(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 7, nl) / 64.0,
                "l_tax": rng.integers(0, 6, nl) / 64.0,
                "l_returnflag": rng.choice(["A", "N", "R"], nl),
                "l_linestatus": rng.choice(["F", "O"], nl),
                "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    ne = n["events"]
    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
    gaps = rng.integers(1, 2 * (30 * 86_400 * 1_000_000) // ne, ne)
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(ne, dtype=np.int64),
                "ts": (start_us + np.cumsum(gaps)).astype("datetime64[us]"),
                "user_id": rng.integers(0, n_users, ne).astype(np.int64),
                "event_type": rng.choice(_EVENT_TYPES, ne),
                "value": np.minimum(np.round(rng.exponential(50.0, ne) * 8) / 8, 560.0),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    _write(_documents(rng, n["documents"]), os.path.join(out_dir, "documents.parquet"))
    _write(_embeddings(rng, n["embeddings"]), os.path.join(out_dir, "embeddings.parquet"))


def int_values(seed: int, stream: int, n: int) -> list[int]:
    return [int(v) for v in np.random.default_rng([seed, stream]).integers(0, 1 << 30, n)]


def write_etl_inputs(seed: int, n_rows: int, out_dir: str) -> pd.DataFrame:
    """Write the ETL base corpus and its change batch (updates to
    existing ids, inserts of new ids, delete marks) as parquet; return
    the table the merge must produce, sorted by id."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)

    def rows(ids: np.ndarray) -> pd.DataFrame:
        m = len(ids)
        return pd.DataFrame(
            {
                "id": ids.astype(np.int64),
                "region": rng.choice(_REGIONS, m),
                "qty": rng.integers(1, 100, m).astype(np.int32),
                "price": _quarters(rng, 1.0, 5000.0, m),
                "note": [f"n{v}" for v in rng.integers(0, 10_000, m)],
                "ship_day": _days(rng, m, "2020-01-01", "2023-12-31"),
            }
        )

    base = rows(np.arange(n_rows))
    _write(base, os.path.join(out_dir, "base.parquet"))

    touched = rng.choice(n_rows, n_rows // 20, replace=False)
    n_del = len(touched) // 3
    changed = rows(np.concatenate([touched, np.arange(n_rows, n_rows + n_rows // 50)]))
    changed["deleted"] = False
    changed.loc[: n_del - 1, "deleted"] = True
    _write(changed, os.path.join(out_dir, "changes.parquet"))

    keep = base[~base["id"].isin(changed["id"])]
    merged = pd.concat([keep, changed[~changed["deleted"]].drop(columns="deleted")])
    return merged.sort_values("id").reset_index(drop=True)
