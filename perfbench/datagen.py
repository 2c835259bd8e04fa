"""Seeded generator for the engine's ten input tables.

The tables follow the schemas and value domains of the engine's
TPC-H-ish fixtures (FIXTURES.md part A): uniform keys and prices, a
time-ordered ``events`` stream with JSON ``props``, a 30-word
``documents`` corpus in which one doc in twenty is an earlier doc plus
" dup", and unit-norm 64-dim ``embeddings``. Row counts are those of
the sf0.01 fixtures. The same seed always writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _ts_us(day0: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(day0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables for ``seed``, in memory."""
    rng = np.random.default_rng(seed)
    day_us = 86_400 * 1_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n),
    })
    n = ROWS["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n)],
    })
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts_us(
            dt.datetime(1995, 1, 1), rng.integers(0, 2404, n) * day_us
        ),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_us(
            dt.datetime(1995, 1, 2), rng.integers(0, 2498, n) * day_us
        ),
    })
    n = ROWS["events"]
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts_us(
            dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day_us, n))
        ),
        "user_id": pa.array(rng.integers(0, ROWS["customer"] // 10, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = ROWS["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(_WORDS), int(k))])
        for k in rng.integers(10, 100, n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def generate(out_dir: str, seed: int) -> str:
    """Write ``<table>.parquet`` for every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
