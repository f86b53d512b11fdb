"""Seeded generator for the query workloads' input tables.

Writes the ten tables the plans read (``sources/catalog.py::TABLES``) as one
single-row-group parquet file each, with the same column names, types and
value ranges as the engine's TPC-H-ish fixtures: uniform keys and measures,
a 30-word document vocabulary with planted near-duplicates (so MinHash-LSH
recall stays 1 at the plans' thresholds), and 64-dim unit embeddings with a
weak per-label offset. Everything is numpy-vectorised: generation is a
small, steady share of set-up time.

``scale`` follows the fixtures' scale factor: lineitem has ~6M x scale rows.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["hot", "large", "small", "blue", "red", "smooth", "rough", "tiny"]
P_NOUN = ["bolt", "ring", "gear", "pipe", "nut", "screw", "valve", "spring"]
EMB_DIM = 64

_DAY_US = 86_400_000_000


def _ts(rng, n, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Random 10-100 word texts; ~5% are near-copies of an earlier text
    (one trailing marker word added), the fixtures' near-dup profile."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.07 * centres[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels.astype(np.int32),
    })


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(int(10_000 * scale), 25)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_evt, n_users = int(1_000_000 * scale), max(int(15_000 * scale), 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2498)})
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(base + np.sort(rng.integers(0, 30 * _DAY_US, n_evt)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    t["documents"] = _documents(rng, int(50_000 * scale))
    t["embeddings"] = _embeddings(rng, int(20_000 * scale))
    return t


def write_tables(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, out_dir / f"{name}.parquet",
                       row_group_size=max(table.num_rows, 1))
        rows[name] = table.num_rows
    return rows
