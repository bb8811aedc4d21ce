"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine's queries read (`region` ... `embeddings`,
one Parquet file each) with the schemas, row counts, key ranges and value
domains of the engine's sf0.1 test tables: lineitem has 600,000 rows,
orders 150,000, events 100,000 and documents 5,000. As in those tables,
foreign keys and dates are drawn uniformly and independently, so join
fan-outs follow the same laws (README.md compares the two). Everything
derives from one seed, so the same seed writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf 0.1.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500

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
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.42, 0.145, 0.145, 0.145, 0.145]
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05

def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    """n midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Cents-exact prices: integer cents, so every value has 2 decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
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

    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })

    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    keys = np.arange(n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": (90_000 + keys % 1000 * 10) / 100.0,
    })

    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })

    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
    })

    n = ROWS["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(month_us, n, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            # near-duplicate of an earlier document, for minhash/LSH
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    n = ROWS["embeddings"]
    centroids = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=2.0, size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_dataset(out_dir: str, seed: int) -> None:
    """Write every table as `<out_dir>/<name>.parquet` (snappy, one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

