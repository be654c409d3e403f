"""Seeded input tables for the benchmark.

Writes the ten tables the workload reads (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, with the column names and types of the driver test tables
(TESTDATA.md). The same seed gives byte-identical tables. Sizes follow
the sf0.01 driver set, except that `documents` is larger so the text
workload's shuffles have weight.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["cold", "small", "large", "hot", "red", "blue", "old", "new"]
NOUNS = ["widget", "bolt", "plate", "ring", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "the a data spark join hash row batch scan column customer filter small "
    "slow merge order vector line table agg value key stream window part "
    "group big sort query fast"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _days(first: str, last: str) -> tuple[int, int]:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    return int(lo.astype(np.int64)), int(hi.astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _keyed_names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _keyed_names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": parts,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   rng.integers(0, 8, (n["part"], 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 2),
    })

    lo, hi = _days("1995-01-01", "2001-08-01")
    order_day = rng.integers(lo, hi + 1, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(order_day * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })

    li = n["lineitem"]
    l_order = np.sort(rng.integers(0, n["orders"], li))
    ship_day = order_day[l_order] + rng.integers(1, 122, li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n["part"], li),
        "l_suppkey": rng.integers(0, n["supplier"], li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.uniform(0.0, 0.10, li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _ts(ship_day * _US_PER_DAY),
    })

    ev = n["events"]
    start = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ev_ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, ev))
    t["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(ev // 66, 1), ev),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.maximum(np.round(rng.exponential(50.0, ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })

    t["documents"] = _documents(rng, n["documents"])

    vec = rng.standard_normal((n["embeddings"], EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary. One in twenty is
    an earlier document with " dup" appended, so near-duplicate
    detection has true positives."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_tables(seed: int, out_dir: str) -> str:
    """Write the seed's tables under `out_dir` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
