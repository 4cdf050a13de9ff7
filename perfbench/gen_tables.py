"""Seeded tables in the layout the engine reads.

``generate(out_dir, sf, seed, names)`` writes ``{out_dir}/{name}.parquet``
for each named table, with the column names, Arrow types and value
domains of the engine's TPC-H-style reference data: uniform keys and
foreign keys, prices with two decimals, 1995-2001 dates, the five
regions, 25 nations, ``Brand#1``..``Brand#25``, word-list documents and
unit-length 64-dimensional embeddings in ten labelled clusters. Row
counts scale with ``sf`` the way the reference data does; documents and
embeddings have fixed sizes. The values are synthetic: nothing here is
sampled from a real dataset.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["bolt", "plate", "anvil", "rod", "widget", "gizmo", "ring", "gear"]
WORDS = ["fast", "spark", "line", "small", "customer", "group", "row", "the",
         "query", "stream", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector", "value",
         "hash", "batch", "sort", "data", "big", "filter"]
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13]
N_DOCUMENTS, N_EMBEDDINGS, EMB_DIM, EMB_LABELS = 500, 500, 64, 10
DUP_SHARE = 0.1

#: one random stream per table within a seed, so adding a table never
#: changes another's rows
_STREAM = {"orders": 5, "region": 1, "nation": 2, "customer": 3, "supplier": 4,
           "part": 6, "lineitem": 7, "documents": 8, "embeddings": 9}
_DAY = np.timedelta64(1, "D")
_EPOCH = np.datetime64(dt.date(1995, 1, 1), "us")


def _sizes(sf: float) -> dict[str, int]:
    return {"customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf)}


def _money(rng, n: int, lo: float, hi: float) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def orders(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, _STREAM["orders"]])
    size = _sizes(sf)
    k, n_cust = size["orders"], size["customer"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, k)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, k)]),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": pa.array(_EPOCH + rng.integers(0, 2405, k) * _DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, k)]),
    })


def _table(name: str, sf: float, seed: int) -> pa.Table:
    if name == "orders":
        return orders(sf, seed)
    rng = np.random.default_rng([seed, _STREAM[name]])
    size = _sizes(sf)
    i32 = pa.int32()
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), i32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    if name == "customer":
        n = size["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        })
    if name == "supplier":
        n = size["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        })
    if name == "part":
        n = size["part"]
        adj, noun = rng.integers(0, 8, (2, n))
        return pa.table({
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(np.array(PART_ADJ)[adj], " "),
                                           np.array(PART_NOUN)[noun])),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype(str))),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)),
        })
    if name == "lineitem":
        n = size["lineitem"]
        qty = rng.integers(1, 51, n).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, size["orders"], n)),
            "l_partkey": pa.array(rng.integers(0, size["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, size["supplier"], n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(_EPOCH + rng.integers(1, 2500, n) * _DAY),
        })
    if name == "documents":
        return documents(rng)
    if name == "embeddings":
        return embeddings(rng)
    raise KeyError(name)


def documents(rng) -> pa.Table:
    """Word-list documents; a ``DUP_SHARE`` of them copy an earlier one
    with one word swapped for ``dup``, so the dedup entries find pairs."""
    n = N_DOCUMENTS
    texts: list[str] = []
    lengths = rng.integers(10, 100, n)
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng) -> pa.Table:
    """Unit vectors around ``EMB_LABELS`` random centres."""
    n = N_EMBEDDINGS
    centres = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n)
    v = centres[label] * 0.15 + rng.normal(0.0, 1.0, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int, names=("orders",)) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(_table(name, sf, seed), os.path.join(out_dir, f"{name}.parquet"))
