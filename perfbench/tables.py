"""Seeded star-schema tables for the analytics mix of ``backfill``.

Same table names, columns and parquet types as the registry expects
(``sources/registry.py``): one parquet file per table, timestamps as
``timestamp[us]``.  Values are chosen so every mix query has work to
do and every oracle comparison is exact: quantities are whole numbers,
prices carry two decimals, and a share of documents are near copies of
others so the MinHash dedup finds pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark the line sort "
    "window order data column join small customer query stream filter group big a"
).split()


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def write_tables(out_dir: str, seed: int, lineitem_rows: int) -> dict[str, int]:
    """Write every table the analytics mix reads; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(lineitem_rows // 4, 1)
    n_customers = max(n_orders // 10, 1)
    n_suppliers = 1000

    customer = pd.DataFrame({
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": rng.integers(0, 25, n_customers, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_customers),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    l_orderkey = rng.integers(0, n_orders, lineitem_rows, dtype=np.int64)
    lineitem = pd.DataFrame({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, 20000, lineitem_rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, lineitem_rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, lineitem_rows, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, lineitem_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, lineitem_rows), 2),
        "l_discount": rng.integers(0, 11, lineitem_rows) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem_rows) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitem_rows),
        "l_linestatus": rng.choice(["F", "O"], lineitem_rows),
        "l_shipdate": _days(rng, lineitem_rows, "1995-01-02", 2500),
    })

    n_events = max(lineitem_rows // 6, 1)
    n_users = max(n_events // 60, 1)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": rng.choice(["click", "view", "error", "purchase", "scroll"], n_events),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    n_docs = max(lineitem_rows // 120, 2)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near copy of an earlier document: one word swapped
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(20, 80))))
        texts.append(" ".join(toks))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "de"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_vec = max(lineitem_rows // 300, 11)
    vecs = rng.normal(0, 0.15, (n_vec, 64)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32),
    })

    tables = {"customer": customer, "orders": orders, "lineitem": lineitem,
              "events": events, "documents": documents, "embeddings": embeddings}
    for name, df in tables.items():
        _write(df, out_dir, name)
    return {name: len(df) for name, df in tables.items()}
