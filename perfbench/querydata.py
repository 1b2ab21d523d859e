"""Seeded tables for the ``query_mix`` workload.

The registry queries read ten parquet tables from one directory
(``region nation customer supplier part orders lineitem events documents
embeddings``). This module writes them from a seed with the column names
and types the registry expects, at the row counts of scale factor 0.001,
so the benchmark needs no data from outside its checkout. A tenth of the
documents are near-copies of an earlier one, so the dedup families find
pairs to verify.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "dark", "green", "hot", "light", "red", "smooth"]
_NOUN = ["bolt", "gear", "nut", "rod", "spring", "valve", "widget", "wire"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "es", "fr", "zh"]
_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    return pa.array([base + timedelta(seconds=float(s)) for s in seconds],
                    pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n).tolist()})

    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n), rng.choice(_NOUN, n))],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, n), rng.integers(1, 6, n))],
        "p_type": rng.choice(_PTYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + np.arange(n) / 10.0, 2)})

    n = ROWS["orders"]
    day = 86400.0
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2404, n) * day),
        "o_orderpriority": rng.choice(_PRIORITIES, n).tolist()})

    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _ts(datetime(1995, 1, 2), rng.integers(0, 2497, n) * day)})

    n = ROWS["events"]
    secs = np.sort(rng.uniform(0, 30 * day, n))
    t["events"] = pa.table({
        "event_id": pa.array(range(n), i64),
        "ts": _ts(datetime(2024, 1, 1), np.round(secs, 6)),
        "user_id": pa.array(rng.integers(0, 15, n), i64),
        "event_type": rng.choice(_EVENTS, n).tolist(),
        "value": _money(rng, 1.0, 200.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})

    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            words.append("dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 90))).tolist()
        texts.append(" ".join(words) + " ")
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], i64)})

    n = ROWS["embeddings"]
    vec = rng.normal(size=(n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(vec.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})
    return t


def write_tables(seed: int, out_dir: str) -> None:
    """Write the seed's tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
