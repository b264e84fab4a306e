"""Seeded input tables for the ``gate_queries`` workload.

Writes the tables the listed queries and their DuckDB oracles read, in the
schemas and at the sizes of the repo's sf0.01 test data (TPC-H-like
``orders``, ``lineitem`` and ``customer``, an ``events`` stream and
``documents`` with near-duplicates), one parquet file each. The same seed
gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_DOCS, N_ORDERS = 500, 15000


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_docs, n_orders = N_DOCS, N_ORDERS
    n_cust, n_part, n_supp = n_orders // 10, n_orders * 2 // 15, max(10, n_orders // 150)
    n_line, n_events, n_users = n_orders * 4, n_docs * 20, 150

    texts: list[str] = []
    for d in range(n_docs):
        if d > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    jan = dt.datetime(2024, 1, 1)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(jan, np.sort(rng.uniform(0, 30 * 86400, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [
            ["signup", "error", "click", "view", "purchase"][i]
            for i in rng.integers(0, 5, n_events)
        ],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    y95 = dt.datetime(1995, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [["P", "O", "F"][i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(y95, rng.integers(0, 2404, n_orders) * 86400.0),
        "o_orderpriority": [
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
            for i in rng.integers(0, 5, n_orders)
        ],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [["R", "A", "N"][i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(y95 + dt.timedelta(days=1), rng.integers(0, 2498, n_line) * 86400.0),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"][i]
            for i in rng.integers(0, 5, n_cust)
        ],
    })
    return {
        "documents": docs, "events": events, "orders": orders,
        "lineitem": lineitem, "customer": customer,
    }


def write(seed: int, out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
