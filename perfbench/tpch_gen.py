"""Seeded generator of the analytics tables the query registry reads.

Writes the ten tables of the engine's test-data layout
(``<dir>/<table>.parquet``: a TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings``) with the same column names, types
and value domains, at a small scale factor. Planted structure the
queries look for: near-duplicate documents (a copy plus one word),
exact-duplicate documents and near-duplicate embedding vectors.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "red", "blue", "small", "big", "green", "shiny", "old"]
PART_NOUN = ["widget", "bolt", "ring", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
N_DOCS = 500
DIM = 64


def _days(rng, n, start: dt.date, span: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + (rng.integers(0, span, n) * 86_400_000_000).astype("timedelta64[us]")


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(30, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_orders = max(40, int(200_000 * sf)), max(300, int(1_500_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    orderdate = _days(rng, n_orders, dt.date(1995, 1, 1), 2405)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 500_000, n_orders),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    shipdate = np.repeat(orderdate, lines) + (
        rng.integers(1, 122, n_li) * 86_400_000_000).astype("timedelta64[us]")
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    })
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]"))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(20, n_cust // 10), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": money(0.01, 500, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if texts and r < 0.06:  # near duplicate: a copy plus one word
            texts.append(texts[rng.integers(len(texts))] + " dup")
        elif texts and r < 0.08:  # exact duplicate
            texts.append(texts[rng.integers(len(texts))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(8, 90))))
    documents = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, N_DOCS)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(N_DOCS, DIM))
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.05)[1:]:  # near-duplicate vectors
        vecs[i] = vecs[rng.integers(i)] + 0.01 * rng.normal(size=DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(N_DOCS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
