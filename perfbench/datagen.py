"""Seeded input tables for the benchmark.

The engine's queries read the TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables through
``schemas.load_table``. This module writes those tables as parquet,
with the same column names and types, from a seed alone: the same
seed and scale give byte-identical files. Row counts follow the
TPC-H ratios (lineitem = 6M x scale), so scale 0.1 is 600,000
lineitem rows.

The value distributions are chosen so that no registry query is
degenerate or ambiguous on any seed: event timestamps are unique
(arg_min/arg_max and top-1 ties cannot occur), prices are 2-decimal
grid values, and a share of documents and embeddings are near copies
so the dedup operators find pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the data spark stream batch table query join group agg filter sort "
    "hash scan key value row column window merge part line order customer "
    "vector fast slow big small index shard cache plan node task stage job"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, options, n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(5, int(10_000 * scale)),
        "part": max(10, int(200_000 * scale)),
        "orders": max(20, int(1_500_000 * scale)),
        "lineitem": max(50, int(6_000_000 * scale)),
        "events": max(50, int(1_000_000 * scale)),
        "users": max(5, int(15_000 * scale)),
        "documents": max(20, int(50_000 * scale)),
        "embeddings": max(20, int(20_000 * scale)),
    }


def _rng(seed: int, name: str) -> np.random.Generator:
    # one stream per table, so a table does not depend on which other
    # tables were built before it
    return np.random.default_rng([seed, sum(map(ord, name))])


def _order_days(seed: int, n_ord: int) -> np.ndarray:
    return _rng(seed, "order_days").integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01


def build_table(name: str, seed: int, scale: float) -> pa.Table:
    """One input table as an Arrow table, a pure function of (name, seed, scale)."""
    n = _sizes(scale)
    rng = _rng(seed, name)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        })
    if name == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            "c_mktsegment": _pick(rng, SEGMENTS, k),
        })
    if name == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        })
    if name == "part":
        k = n["part"]
        return pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pa.array([f"part {i}" for i in range(k)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
            "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(k) % 20_000 / 10.0, 2)),
        })
    if name == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": _pick(rng, ("O", "F", "P"), k),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, k)),
            "o_orderdate": _ts(_EPOCH_1995 + _order_days(seed, k) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, k),
        })
    if name == "lineitem":
        k = n["lineitem"]
        l_order = rng.integers(0, n["orders"], k)
        ship_day = _order_days(seed, n["orders"])[l_order] + rng.integers(1, 122, k)
        return pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, k)),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), k),
            "l_linestatus": _pick(rng, ("O", "F"), k),
            "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
        })
    if name == "events":
        k = n["events"]
        # unique, increasing event times over 30 days
        offsets = np.unique(rng.integers(0, 30 * _DAY_US, k + k // 10))
        offsets = np.sort(rng.choice(offsets, k, replace=False))
        return pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": _ts(_EPOCH_2024 + offsets),
            "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": pa.array(np.round(rng.exponential(60.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    if name == "embeddings":
        return _embeddings(rng, n["embeddings"])
    raise ValueError(f"unknown table {name!r}")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # near copy: a few words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 25)):
                toks[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 97)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] * 0.35 + rng.normal(0.0, 1.0, (n, dim))
    dup = rng.random(n) < 0.03
    src = rng.integers(0, n, n)
    vecs[dup] = vecs[src[dup]] + rng.normal(0.0, 0.05, (int(dup.sum()), dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, scale: float, names=TABLES) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each of ``names``;
    returns the bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(build_table(name, seed, scale), path)
        sizes[name] = os.path.getsize(path)
    return sizes
