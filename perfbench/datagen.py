"""Seeded synthetic copies of the ten test tables the queries read.

The shapes match the committed test data at sf0.01 (row counts, column
types, value ranges, vocabularies): the same seed writes byte-identical
files. Another seed changes values but not the structure the work depends
on: row counts, document lengths and languages (which set the
connected-components graph and the quality gate), and where near-duplicate
documents sit. So every seed asks for the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
NEAR_DUPS = 25

WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
COLORS = ("small", "red", "blue", "green", "large", "black", "white", "old")
NOUNS = ("ring", "widget", "bolt", "gear", "panel", "valve", "frame", "pipe")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400_000_000


def _days(rng, n, start: str, end: str):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed: int) -> dict:
    """All ten tables as Arrow tables, drawn from one generator seeded by
    ``seed``."""
    rng = np.random.default_rng(seed)
    shape = np.random.default_rng(0)  # structure shared by every seed
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })
    k = n["part"]
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 2),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), k),
        "o_totalprice": _money(rng, k, 1000, 500000),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), k),
        "l_linestatus": _pick(rng, ("O", "F"), k),
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, k))
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, k),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": _money(rng, k, 0.01, 490.02),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    vocab = np.asarray(WORDS, dtype=object)
    texts = [
        list(vocab[rng.integers(0, len(WORDS), m)])
        for m in shape.integers(10, 100, k)
    ]
    # near-duplicates, as in the committed data: a copy of an earlier
    # document with one word inserted or deleted
    for i in sorted(shape.choice(np.arange(1, k), NEAR_DUPS, replace=False)):
        words = list(texts[shape.integers(0, i)])
        pos = int(shape.integers(0, len(words)))
        if shape.random() < 0.5:
            del words[pos]
        else:
            words.insert(pos, vocab[rng.integers(0, len(WORDS))])
        texts[i] = words
    texts = [" ".join(w) for w in texts]
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(shape, LANGS, k, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    vecs = rng.normal(0.0, 0.13, (k, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return out


def write(seed: int, sf_dir: str) -> dict:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
