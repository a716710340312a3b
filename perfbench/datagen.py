"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the registry queries read (the TPC-H-ish star
schema, the `events` stream table, `documents` and `embeddings`) with the
column names and parquet types of the project's test fixtures. Row counts
follow the fixtures' scale rules; values come from one numpy generator seeded
by `seed`, so the same (sf, seed) always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "old", "new", "hot", "cold", "small", "large")
PART_NOUN = ("bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
VOCAB = (
    "a the spark join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window part group big sort query fast"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(40, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # One doc in twenty repeats an earlier doc plus a marker token, so the
        # near-duplicate detectors have true candidates to find.
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1), pa.float64()),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no), pa.float64()),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(("F", "O"), nl), pa.string()),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2498, nl)) * _US_PER_DAY),
        }
    )
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
            "value": pa.array(np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; return the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
