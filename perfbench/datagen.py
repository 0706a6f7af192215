"""Deterministic input tables for the benchmark.

Writes the ten tables the query registry reads (``region`` ... ``embeddings``)
as one snappy parquet file each, with the schemas and value distributions of
the fixtures the registry's oracle gate runs on: uniform keys and measures,
midnight-aligned TPC-H dates, a 30-word document vocabulary with 5% "dup"
near-duplicates, unit-norm 64-d embeddings. Row counts scale with ``sf``
(lineitem = 6,000,000 × sf). The same (sf, seed) always yields the same
bytes-for-bytes table contents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(50, round(200_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
        "events": max(200, round(1_000_000 * sf)),
        "documents": max(50, round(50_000 * sf)),
        "embeddings": max(100, round(2_000 * (sf / 0.1) ** 0.6)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 20 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = table_sizes(sf)
    rng = np.random.default_rng([seed, round(sf * 1e6)])
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32), pa.int32())  # noqa: E731
    f64 = lambda a: pa.array(a, pa.float64())  # noqa: E731
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"],
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": i32([k % 5 for k in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(nc)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(ns)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": i64(np.arange(npart)),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": f64(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": f64(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, 0, 2404, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": f64(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": f64(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": f64(rng.integers(0, 11, nl) / 100.0),
        "l_tax": f64(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, 1, 2499, nl),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": i64(np.arange(ne)),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(10, ne // 66), ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": f64(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows
