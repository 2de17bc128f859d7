"""Seeded star-schema tables for the ``df_queries`` and
``pipeline_loops`` workloads.

Writes one parquet file per table, with the schemas the registry
queries read (``plans.tables``) and value shapes like the repo's
test data: 2-decimal money, dates spread over several years, a
Poisson number of line items per order, near-duplicate documents so
MinHash/LSH finds pairs, and 64-dimensional embeddings. Row counts
scale with ``sf`` as in TPC-H (lineitem = 6M x sf).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_WORDS = (
    "a the row key value table part hash scan slow fast merge batch spark "
    "line window data order group column query join small big stream sort "
    "filter agg customer vector café straße λόγος"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:
            # Near-duplicate of an earlier document: one word replaced.
            words = docs[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_DOC_WORDS))
        else:
            words = list(rng.choice(_DOC_WORDS, int(rng.integers(8, 90))))
        docs.append(" ".join(words))
    return docs


def generate_tables(out_dir: str, seed: int, sf: float) -> list[str]:
    """Write customer, orders, lineitem, events, documents, embeddings,
    nation and supplier at scale factor ``sf`` into ``out_dir``; return
    the paths. The same seed and sf give the same rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 20)
    n_ord = n_cust * 10
    n_li = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(n_ev // 60, 5)
    n_doc = max(int(50_000 * sf), 50)
    n_vec = max(int(20_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 10)
    paths = [
        _write(out_dir, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        _write(out_dir, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }),
        _write(out_dir, "events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    ]
    docs = _documents(rng, n_doc)
    paths.append(_write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": docs,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    }))
    vecs = np.clip(rng.normal(0.0, 0.15, (n_vec, 64)), -0.6, 0.6).astype(np.float32)
    paths.append(_write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }))
    paths.append(_write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    paths.append(_write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    return paths
