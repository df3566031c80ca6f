"""Seeded TPC-H-shaped tables for the headline workload.

Writes the six tables the ten headline registry entries read
(lineitem, orders, customer, nation, documents, embeddings) as Parquet
files with the column names and Arrow types of the testdata layout the
registry is written against. Row counts follow
the scale factor: ``sf=0.1`` gives 600k lineitem rows and 150k orders.

Two choices keep the DuckDB oracles exact on every seed:

- embedding components are multiples of 1/256, so every dot product
  and every partial sum is exact in double precision and both engines
  round the same cosine to 4 places;
- documents draw words from a 3000-word vocabulary, with one document
  in ten a lightly edited copy of an earlier one, so MinHash-LSH finds
  real near-duplicates and the oracle's candidate join stays small.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
N_LABELS = 10
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]

_EPOCH = dt.datetime(1970, 1, 1)
_T0 = int((dt.datetime(1995, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
_DAY_US = 86_400 * 1_000_000
_N_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days


def _timestamps(rng: np.random.Generator, n: int, hours: bool) -> pa.Array:
    us = _T0 + rng.integers(0, _N_DAYS, n) * _DAY_US
    if hours:
        us = us + rng.integers(0, 4, n) * 6 * 3600 * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, k))
        for k in rng.integers(2, 9, 3000)
    ]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 7:
            # near-duplicate: an earlier document with ~1 word in 12 replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in np.flatnonzero(rng.random(len(words)) < 1 / 12):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    v = centroids[labels] * 0.45 + rng.normal(scale=0.105, size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = np.round(v * 256) / 256  # dyadic: exact dot products on both engines
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_emb = int(25_000 * sf), int(20_000 * sf)
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_c).tolist(), pa.string()),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_o), pa.float64()),
            "o_orderdate": _timestamps(rng, n_o, hours=True),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_o).tolist(), pa.string()),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n_l // 30), n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_l // 600), n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_l), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_l).tolist(), pa.string()),
            "l_shipdate": _timestamps(rng, n_l, hours=False),
        }
    )
    return {
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
