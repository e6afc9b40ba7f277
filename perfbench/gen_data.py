"""Seeded generator for the ``dedup_vector`` dataset: the catalog's
ten tables (a TPC-H-shaped star schema plus events, documents and
embeddings) as parquet files, with the value domains the headline
queries filter on."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "soft"]
_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DAY_US = 86_400_000_000
_ORDER_START_US = 788_918_400_000_000  # 1995-01-01
_EVENT_START_US = 1_704_067_200_000_000  # 2024-01-01


@dataclass(frozen=True)
class Scale:
    orders: int = 15_000
    customers: int = 1_500
    parts: int = 2_000
    suppliers: int = 100
    events: int = 10_000
    users: int = 150
    documents: int = 1_000
    embeddings: int = 2_000
    dim: int = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def tables(seed: int, s: Scale) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(s.customers, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(_SEGMENTS, s.customers),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s.suppliers, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(s.parts, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, s.parts), rng.choice(_NOUN, s.parts))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(_TYPES, s.parts),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, s.parts) / 10, 1),
    })
    order_days = rng.integers(0, 2405, s.orders)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype="int64"),
        "o_custkey": rng.integers(0, s.customers, s.orders).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders),
        "o_totalprice": _money(rng, 1000, 500_000, s.orders),
        "o_orderdate": _ts(_ORDER_START_US + order_days * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, s.orders),
    })
    lines = rng.integers(1, 8, s.orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(s.orders), lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, s.parts, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, s.suppliers, n_li).astype("int64"),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_ORDER_START_US
                          + (order_days[l_order] + rng.integers(1, 122, n_li)) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, s.events))
    out["events"] = pa.table({
        "event_id": np.arange(s.events, dtype="int64"),
        "ts": _ts(_EVENT_START_US + ev_ts),
        "user_id": rng.integers(0, s.users, s.events).astype("int64"),
        "event_type": rng.choice(_EVENTS, s.events),
        "value": np.round(rng.exponential(50, s.events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })
    texts = []
    for i in range(s.documents):
        if i > 10 and rng.random() < 0.05:
            # a near duplicate of an earlier document: two words changed
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = "dup"
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(s.documents, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, s.documents),
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    out["embeddings"] = embeddings(rng, s.embeddings, s.dim)
    return out


def embeddings(rng: np.random.Generator, n: int, dim: int, labels: int = 10) -> pa.Table:
    """Unit vectors clustered around one random center per label."""
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write(out_dir: str, data: dict[str, pa.Table]) -> int:
    """Write each table as ``<name>.parquet``; returns the total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in data.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
