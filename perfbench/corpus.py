"""Seeded synthetic corpus for the benchmark.

Writes the tables the workloads read, with the shapes and distributions of
the engine's test corpus: a TPC-H-like star (lineitem, orders), an
`events` stream, caption-like `documents` with planted near-duplicates, and
unit-norm 64-dim face `embeddings`.  Only numpy and pyarrow are used, so
inputs exist before any Spark session does, and the same (sf, seed) always
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (same ratios as the test
    corpus: 6M lineitem rows per sf unit)."""
    return {
        "lineitem": int(6_000_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(10, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def orders_table(rng: np.random.Generator, n: int) -> pa.Table:
    day_us = 86_400 * 1_000_000
    base = 788_918_400_000_000  # 1995-01-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(base + rng.integers(0, 2400, n) * day_us, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    day_us = 86_400 * 1_000_000
    base = 788_918_400_000_000
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(base + rng.integers(0, 2500, n) * day_us, pa.timestamp("us")),
    })


def events_table(
    rng: np.random.Generator, n: int, n_users: int, first_id: int = 0,
    start_us: int = EVENTS_START_US, span_us: int = EVENTS_SPAN_US,
) -> pa.Table:
    """`n` events with exponential inter-arrival times over `span_us`
    microseconds from `start_us`, uniform event types and users, and
    exponential `value` (seconds) with mean 50."""
    gaps = rng.exponential(1.0, n)
    ts = start_us + (np.cumsum(gaps) / gaps.sum() * (span_us - 1_000_000)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """Caption-like documents of 10-99 tokens over a small vocabulary; every
    20th document (from the second onward) is a near-duplicate of an
    earlier one with a ` dup` suffix, so the LSH and dedup jobs have real
    pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19 and texts:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    v = unit_vectors(rng, n)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet` (the layout the
    contract queries read); returns bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    tables = {
        "orders": orders_table(rng, n["orders"]),
        "lineitem": lineitem_table(rng, n["lineitem"], n["orders"]),
        "events": events_table(rng, n["events"], n["users"]),
        "documents": documents_table(rng, n["documents"]),
        "embeddings": embeddings_table(rng, n["embeddings"]),
    }
    return {
        name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    }
