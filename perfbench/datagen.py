"""Deterministic synthetic source tables for the benchmark.

The tables have the same names, columns and types as the test data the
package's workloads are written against (``TESTDATA.md``: a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), so every
registered query and its DuckDB oracle run on them unchanged. Sizes scale
with ``sf`` the way that data does (lineitem = 6M * sf rows). The benchmark always builds them
from a fixed data seed, so every run measures the same work; the run seed
only orders and mixes the operations.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark a the line sort window order data column join small "
          "customer query big stream group").split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EVENT_TYPES = ["click", "view", "signup", "error", "purchase"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_WORDS = ["small", "red", "blue", "large", "green"]
_PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve"]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131 * _US_PER_DAY          # 1995-01-01
_EPOCH_2024 = 19723 * _US_PER_DAY         # 2024-01-01


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents; one in eight is a near copy of an earlier one
    (a few words swapped) so the dedup operators find real candidates."""
    out: list[str] = []
    for i in range(n):
        if i >= 8 and i % 8 == 0:
            words = out[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in
                     rng.integers(0, len(_WORDS), int(rng.integers(10, 90)))]
        out.append(" ".join(words))
    return out


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_PART_WORDS[a]} {_PART_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 5, n_part), rng.integers(0, 5, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[k] for k in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord)
                           * _US_PER_DAY),
        "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_li)
                          * _US_PER_DAY)})
    ev_ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0, 0.2, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_emb, 64))) \
        .astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: str, sf: float, seed: int = DATA_SEED) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
