"""Seeded star-schema tables for the registry battery.

The registry entries (``__spark_entry__.queries()``) read ten tables by
name from one directory: a TPC-H-like order schema plus ``events``,
``documents`` and ``embeddings``. This writes them as single parquet
files with the column names, types and value domains those entries and
their DuckDB oracles expect, scaled by ``sf`` (sf 0.01 = 60,000 line
items), from one ``numpy`` generator seeded by the benchmark seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "red", "hot", "cold", "old", "small", "large", "green"]
NOUNS = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_WEIGHTS = [0.38, 0.16, 0.16, 0.15, 0.15]
WORDS = (
    "a the data table row column key value part line order customer query "
    "scan join sort hash merge group agg filter window batch stream spark "
    "vector fast slow big small"
).split()

DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return _ts(rng.integers(lo, hi + 1, n) * DAY_US)


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_items, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(100, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    # about a third of customers place no order (anti-join entries)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders) // 3 * 3,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    qty = rng.integers(1, 51, n_items).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_items),
        "l_partkey": rng.integers(0, n_part, n_items),
        "l_suppkey": rng.integers(0, n_supp, n_items),
        "l_linenumber": rng.integers(1, 8, n_items).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["F", "O"], n_items),
        "l_shipdate": _days(rng, n_items, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 90, n_docs)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return t


def write(seed: int, sf: float, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
