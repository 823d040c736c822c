"""Deterministic generator for the benchmark's input snapshot.

Writes the ten tables the engine reads (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) as one-row-group parquet
files, with the column types and value shapes of the engine's sf0.001
test snapshot: 6,000 lineitem rows, 1,000 events over 15 users in
January 2024, 500 word-soup documents and 500 unit-norm 64-d vectors.

The data seed is fixed, so every run and every ``--seed`` reads the same
rows; the benchmark seed only reorders requests.

Run: python3 perfbench/datagen.py <dst_dir>
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "cold", "hot", "old", "new"]
_NOUN = ["widget", "bolt", "anvil", "ring", "plate", "gear", "rod"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "data column join order customer query filter group small big stream vector"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _days(rng: np.random.Generator, start: dt.datetime, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line, n_evt, n_doc, n_vec = 150, 10, 200, 1500, 6000, 1000, 500, 500
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, len(_PTYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2499, n_line),
        }
    )
    # events: monotone timestamps over 30 days, one JSON props payload each
    span_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_evt)) + np.datetime64(dt.datetime(2024, 1, 1), "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 15, n_evt).astype(np.int64),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
            "value": _money(rng, 0.01, 490.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(n))) for n in rng.integers(10, 90, n_doc)]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    # embeddings: ten labelled clusters, unit-normalised float32
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write(dst: str, seed: int = DATA_SEED) -> None:
    """Write every table to ``dst/<name>.parquet`` as a single row group."""
    os.makedirs(dst, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"), row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    write(sys.argv[1])
