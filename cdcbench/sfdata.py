"""The tables the query leaves read, generated from a seed.

Same names, columns, types, row counts and value domains as the sf0.01
test tables (FIXTURES.md, part B): a TPC-H-like star (region, nation,
customer, supplier, part, orders, lineitem), a month of user events with a
JSON ``props`` column, short word-salad documents with a few near
duplicates, and unit-length 64-dimensional embeddings. Money columns carry
two decimals so the oracles' DECIMAL sums are exact.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART = 1_500, 100, 2_000
N_ORDERS, N_LINEITEM, N_EVENTS = 15_000, 60_000, 10_000
N_DOCUMENTS, N_EMBEDDINGS, DIM = 500, 500, 64
NEAR_DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "small", "old", "big", "red", "cold", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "widget", "spring", "valve", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64 = pa.int32(), pa.int64()
    put("region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    put("customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    price = np.round(900 + (np.arange(N_PART) % 1000) / 10, 1)
    put("part", {
        "p_partkey": pa.array(range(N_PART), i64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": price,
    })
    order_day = rng.integers(0, (_us("2001-08-01") - _us("1995-01-01")) // DAY_US + 1, N_ORDERS)
    order_us = _us("1995-01-01") + order_day * DAY_US
    put("orders", {
        "o_orderkey": pa.array(range(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _ts(order_us),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    okey = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    linenumber = np.ones(N_LINEITEM, dtype=np.int64)
    for i in range(1, N_LINEITEM):  # 1, 2, ... within an order, at most 7
        if okey[i] == okey[i - 1]:
            linenumber[i] = min(linenumber[i - 1] + 1, 7)
    partkey = rng.integers(0, N_PART, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(linenumber, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.9, 1.1, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(order_us[okey] + rng.integers(1, 122, N_LINEITEM) * DAY_US),
    })
    ev_us = np.sort(_us("2024-01-01") + rng.integers(0, 30 * DAY_US, N_EVENTS))
    put("events", {
        "event_id": pa.array(range(N_EVENTS), i64),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), i64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:  # a near duplicate
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    put("documents", {
        "doc_id": pa.array(range(N_DOCUMENTS), i64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vec = rng.normal(size=(N_EMBEDDINGS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(N_EMBEDDINGS), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
    })
