"""Seeded generator for the TPC-H-shaped star schema and its side
tables (events, documents, embeddings).

Column names and types mirror the tables the catalog reads through
``tms_etl_spark.sources.tables.load_table``, so every catalog entry
runs on the output unchanged. Row counts depend only on ``sf``; the
values depend on ``seed``. Monetary and measure columns carry two
decimals, which keeps the catalog's DECIMAL-exact aggregates equal to
the DuckDB oracle's.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = days_since_epoch.astype("int64") * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def lineitem(rng: np.random.Generator, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    """Lineitem rows for orders ``0..n_orders-1`` with 1-7 lines each;
    ``(l_orderkey, l_linenumber)`` is unique. Part keys are skewed (a
    hot fifth of the parts takes half the lines) so the co-purchase
    graph has repeated edges."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    hot = rng.random(n) < 0.5
    pkey = np.where(
        hot,
        rng.integers(0, max(1, n_parts // 5), n),
        rng.integers(0, n_parts, n),
    ).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = _cents(qty * (900.0 + (pkey % 1000) * 0.1 + rng.integers(0, 100, n)))
    ship = rng.integers(_days(1995, 1, 2), _days(2001, 12, 31), n)
    return pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": pkey,
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(ship),
        }
    )


def _orders(rng, n_orders: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _cents(rng.uniform(1_000, 500_000, n_orders)),
            "o_orderdate": _ts(rng.integers(_days(1995, 1, 1), _days(2001, 8, 1), n_orders)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )


def _customer(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999, 9_999, n)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def _part(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE"])[
                rng.integers(0, 4, n)
            ],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": _cents(900.0 + np.arange(n) % 1000 * 0.1),
        }
    )


def _supplier(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999, 9_999, n)),
        }
    )


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    ts = (start - _EPOCH).astype("int64") + offs
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": _cents(rng.exponential(40.0, n) + 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; every tenth document is a near copy of
    an earlier one (one word appended), so MinHash finds pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 90)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors; every tenth is a perturbed copy of an earlier one
    (planted near-duplicates)."""
    v = rng.normal(size=(n, EMBED_DIM))
    for i in range(10, n, 10):
        v[i] = v[int(rng.integers(0, i))] + rng.normal(scale=0.05, size=EMBED_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def table_specs(sf: float) -> dict[str, int]:
    """Row-count drivers per table at scale factor ``sf`` (TPC-H
    ratios: 1.5M orders, 150k customers, 200k parts, 10k suppliers per
    unit sf)."""
    return {
        "orders": max(100, int(1_500_000 * sf)),
        "customer": max(10, int(150_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
        "documents": max(20, int(50_000 * sf)),
        "embeddings": max(20, int(50_000 * sf)),
    }


def generate_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for the ten catalog tables;
    returns the row count of each."""
    rng = np.random.default_rng(seed)
    n = table_specs(sf)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": [f"REGION_{i}" for i in range(5)],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": _customer(rng, n["customer"]),
        "supplier": _supplier(rng, n["supplier"]),
        "part": _part(rng, n["part"]),
        "orders": _orders(rng, n["orders"], n["customer"]),
        "lineitem": lineitem(rng, n["orders"], n["part"], n["supplier"]),
        "events": _events(rng, n["events"], n["users"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
