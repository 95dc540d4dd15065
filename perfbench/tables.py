"""Seeded star-schema tables for the query_suite workload.

The twelve headline contract queries read six of the contract's tables
(`part`, `orders`, `lineitem`, `events`, `documents`, `embeddings`).  The
benchmark reads no data from outside its checkout, so it writes tables
from `--seed` with the schemas, sizes and value distributions measured on
the contract's sf-named test data (sf 0.001, 0.01 and 0.1): TPC-H-like
keys and prices, documents of 10-100 words over a 30-word vocabulary with
5% near duplicates (a copy of another document plus " dup"), unit-length
64-dim embeddings without cluster structure, and a 30-day event stream
with exponential values.  README.md records the comparison, including the
row counts of every headline query's result.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("part", "orders", "lineitem", "events", "documents", "embeddings")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts(year: int, month: int, day: int) -> int:
    return int(datetime(year, month, day, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _micros(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _part(rng, n: int) -> pa.Table:
    key = np.arange(n, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a, b in zip(
        np.asarray(adj)[rng.integers(0, len(adj), n)],
        np.asarray(noun)[rng.integers(0, len(noun), n)],
    )]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    return pa.table({
        "p_partkey": pa.array(key),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, types, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (key % 1000) * 0.1, 2)),
    })


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n) / 100.0),
        "o_orderdate": _micros(_ts(1995, 1, 1) + days * 86_400_000_000),
        "o_orderpriority": _pick(rng, prios, n),
    })


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    days = rng.integers(0, 2499, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n) / 100.0),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _micros(_ts(1995, 1, 2) + days * 86_400_000_000),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, size=n, replace=False)) + _ts(2024, 1, 1)
    kinds = ["error", "view", "purchase", "signup", "click"]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _micros(ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": _pick(rng, kinds, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    base = [" ".join(vocab[rng.integers(0, len(vocab), k)])
            for k in rng.integers(10, 101, n)]
    texts = list(base)
    # 5% near duplicates: a copy of another document plus one marker word;
    # two copies of the same source are the only exact duplicates
    targets = rng.choice(n, n // 20, replace=False)
    for t, src in zip(targets, (targets + rng.integers(1, n, len(targets))) % n):
        texts[t] = base[src] + " dup"
    langs = np.asarray(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    # unit length, random directions; the label is independent of the vector
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, n_labels, n)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write the six tables as `<out_dir>/<name>.parquet`; returns bytes written."""
    rng = np.random.default_rng(seed)
    n_part, n_cust, n_supp = int(200_000 * sf), int(150_000 * sf), int(10_000 * sf)
    n_orders = int(1_500_000 * sf)
    tables = {
        "part": _part(rng, n_part),
        "orders": _orders(rng, n_orders, n_cust),
        "lineitem": _lineitem(rng, int(6_000_000 * sf), n_orders, n_part, n_supp),
        "events": _events(rng, int(1_000_000 * sf), max(1, int(15_000 * sf))),
        # the test data floors these two at 500 rows
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
