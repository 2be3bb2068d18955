"""Seeded generator for the star-schema fixture the benchmark runs on.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as one parquet file
each, with the column names, types and value domains of the engine's
reference fixture: TPC-H-style keys and dimensions, an events stream over
30 days, a 30-word document corpus with near-duplicate copies, and unit
64-d float embeddings in 10 weakly separated classes. Row counts scale
linearly with ``sf`` (lineitem has 6,000,000 x sf rows).

The same (sf, seed) always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_DIM = 64


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(_WORDS, k)))
    # About one doc in ten is an earlier doc plus one or two " dup" tokens,
    # the near-duplicate shape the dedup and curation operators look for.
    for i in range(n):
        if i > 0 and rng.random() < 0.1:
            j = int(rng.integers(0, i))
            texts[i] = texts[j] + " dup" * int(rng.integers(1, 3))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, _DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    x = rng.normal(0.0, 1.0, (n, _DIM)) / np.sqrt(_DIM) + 0.15 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table under ``out_dir``; return {table: rows}."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_line = max(int(6_000_000 * sf), 6000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 15)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days("1995-01-02", 2499, rng, n_line),
        }
    )
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64(start, "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.sf, a.seed)))
