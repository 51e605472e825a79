"""Seeded TPC-H-shaped parquet tables for the benchmark.

The registry entries (`__spark_entry__.queries()`) read ten parquet tables
from one directory. This module writes a self-consistent set of them from
a seed with numpy + pyarrow (no Spark), so every input the benchmark feeds
the system derives from `--seed`. Column names and parquet types match the
TPC-H-shaped tables the entries are written against; sizes are chosen by
the caller.

Tables the fixpoint entries read (nation, region, customer, supplier,
orders) carry real key structure: every customer/supplier/order points at
an existing nation/customer, and nation k's region is k % 5, which is what
the derived `nation/next` edge (k -> k+5) in sources/tables.py assumes.
The other tables exist so that the table fact view can type every
attribute it declares.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error"]

# 1992-01-01 in microseconds since the epoch
_T0_US = 694_224_000 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys) -> list[str]:
    return [f"{prefix}#{int(k):09d}" for k in keys]


def tables(seed: int, customers: int, orders_per_customer: int = 10) -> dict:
    """{table name: pyarrow.Table} for one seed and size."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, customers // 15)
    n_part = max(20, customers // 8)
    n_orders = customers * orders_per_customer

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [NATIONS[i] for i in rng.permutation(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ckeys = np.arange(1, customers + 1)
    customer = pa.table({
        "c_custkey": pa.array(ckeys, pa.int64()),
        "c_name": _names("Customer", ckeys),
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customers)],
    })
    skeys = np.arange(1, n_supp + 1)
    supplier = pa.table({
        "s_suppkey": pa.array(skeys, pa.int64()),
        "s_name": _names("Supplier", skeys),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(1, n_part + 1)
    part = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": _names("Part", pkeys),
        "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, n_part)],
        "p_type": [f"TYPE {i}" for i in rng.integers(0, 150, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2000.0, n_part),
    })
    okeys = np.arange(1, n_orders + 1)
    odate = _T0_US + rng.integers(0, 2400, n_orders) * _DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, customers + 1, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 800.0, 500000.0, n_orders),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(okeys, lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": pa.array(
            np.repeat(odate, lines) + rng.integers(1, 122, n_lines) * _DAY_US,
            pa.timestamp("us"),
        ),
    })
    n_events = max(100, customers)
    ekeys = np.arange(1, n_events + 1)
    events = pa.table({
        "event_id": pa.array(ekeys, pa.int64()),
        "ts": pa.array(_T0_US + ekeys * 60_000_000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 151, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 4, n_events)],
        "value": np.round(rng.uniform(0.0, 100.0, n_events), 3),
        "props": ["{}"] * n_events,
    })
    n_docs = 50
    words = ["customer", "join", "vector", "sort", "broadcast", "order", "part"]
    texts = [
        " ".join(words[i] for i in rng.integers(0, len(words), 12))
        for _ in range(n_docs)
    ]
    documents = pa.table({
        "doc_id": pa.array(np.arange(1, n_docs + 1), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [("web", "books", "code")[i] for i in rng.integers(0, 3, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vecs = 50
    vecs = rng.normal(size=(n_vecs, 8)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(1, n_vecs + 1), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_vecs), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, customers: int) -> int:
    """Write every table as `<out_dir>/<name>.parquet`; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, customers).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
