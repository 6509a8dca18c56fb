"""Seeded input tables for the query-suite workload.

Writes the ten tables the catalog queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the same schemas and value domains as the repository's
TPC-H-ish test tables. Every value comes from one ``numpy`` generator
seeded by the workload seed, so a seed always yields byte-identical tables.
No Spark is involved: the tables exist before the session starts.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "old", "new")
_PART_NOUN = ("ring", "bolt", "gear", "plate", "anvil", "widget", "nut", "pin")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_VOCAB = ("a", "the", "agg", "batch", "big", "column", "customer", "data",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "value", "vector", "window")

_DAY_US = 86_400 * 1_000_000


def _ts_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, start: datetime, n_days: int, n: int) -> pa.Array:
    us = _ts_us(start) + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n_words))


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables; ``scale`` 1.0 is the repository's sf0.01 row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_evt = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2499, n_line)})
    month_us = 30 * _DAY_US
    t["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(np.sort(_ts_us(datetime(2024, 1, 1))
                               + rng.integers(0, month_us, n_evt)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_evt // 60, 1), n_evt), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)]})

    # documents: ~5% near-duplicates (an earlier text + " dup") and a few
    # exact copies, so every dedup query has positives to find
    texts: list[str] = []
    for i in range(n_doc):
        roll = rng.random()
        if i > 0 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: Path, seed: int, scale: float) -> int:
    """Write every table to ``out_dir/<name>.parquet``; returns total bytes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in build_tables(seed, scale).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path)
        total += path.stat().st_size
    return total
