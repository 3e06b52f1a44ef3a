"""Seeded generator for the query-mix tables.

Writes the ten parquet tables the registry queries read (a TPC-H-like
star schema, an ``events`` stream, ``documents`` and ``embeddings``),
with the column names and types of the repository's test data, at a
row scale set by ``sf``.  The same seed gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
_ADJ = ("small", "large", "red", "blue", "cold", "old", "new", "shiny")
_NOUN = ("widget", "bolt", "rod", "ring", "anvil", "gizmo", "plate", "gear")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _days(rng, n, start: dt.datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Random word texts; about 5% are exact copies of an earlier text
    and 5% copies with a trailing marker word, so the dedup kernels
    find both exact and near duplicates."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(8, 90))))
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    """Unit-norm float32 vectors; about 5% are small perturbations of an
    earlier vector (near duplicates)."""
    x = rng.standard_normal((n, dim))
    for i in range(10, n):
        if rng.random() < 0.05:
            x[i] = x[rng.integers(0, i)] + 0.2 * rng.standard_normal(dim)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32())}


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Write all tables under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string())})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}"
                            for _ in range(n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.datetime(1995, 1, 1), 2400)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string())})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(rng.choice(("N", "A", "R"), n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(("O", "F"), n_li), pa.string()),
        "l_shipdate": pa.array(_days(rng, n_li, dt.datetime(1995, 1, 2), 2500))})
    ts = (np.datetime64(dt.datetime(2024, 1, 1), "us")
          + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    _write(out_dir, "documents", _documents(rng, 500))
    _write(out_dir, "embeddings", _embeddings(rng, 500))
    return out_dir
