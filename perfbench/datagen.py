"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the engine reads (TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``) as one single-row-group
parquet file each, with the same schemas, key ranges and value domains as
the engine's reference test data. Row counts scale with ``sf`` the way
that data does: ``lineitem`` has 6,000,000 * sf rows.

The tables are a pure function of ``sf``: the data seed is fixed, so the
workload seed never changes the inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
_PART_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "gear", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(start: str, n_days: int, rng, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(
        pa.string()
    )


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    c = _counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = c["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )
    n = c["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = c["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
        }
    )
    n = c["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days("1995-01-01", 2403, rng, n),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )
    n = c["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days("1995-01-02", 2498, rng, n),
        }
    )
    n = c["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * _DAY_US, n))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, n * 3 // 200), n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = c["documents"]
    texts = []
    for i in range(n):
        words = rng.choice(_VOCAB, int(rng.integers(8, 101)))
        text = " ".join(words)
        if i % 20 == 7:
            text += " dup"
        texts.append(text)
    for i in range(0, n, 600):  # a few exact duplicates for the dedup ops
        if i + 1 < n:
            texts[i + 1] = texts[i]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    n = c["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out: str, sf: float) -> str:
    """Write ``<table>.parquet`` for every table into ``out``; returns it."""
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(
            table, os.path.join(out, f"{name}.parquet"), row_group_size=1 << 30
        )
    return out
