"""Seeded input tables for the query workloads.

Writes the ten parquet tables the query registry reads (``region`` ...
``embeddings``) into one directory, shaped like the TPC-H-ish test data the
engine is developed against: same column names and types, same value
domains, same row counts per scale factor. The same ``(seed, sf)`` always
gives byte-identical tables, so a run needs no data from outside its
checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
N_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(day0: str, offsets_us: np.ndarray) -> pd.Series:
    base = np.datetime64(day0, "us")
    return pd.Series(base + offsets_us.astype("timedelta64[us]"))


def _days(rng, n: int, first: str, last: str) -> pd.Series:
    span = (np.datetime64(last, "D") - np.datetime64(first, "D")).astype(int)
    return _ts(first, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate: an earlier document with one extra token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    v = rng.normal(size=(n, EMBED_DIM)) + 0.6 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def make_tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The named tables as Arrow tables. Each table draws from its own
    stream, so generating a subset gives the same rows as generating all."""
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    for name in names:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        k = n[name]
        if name == "region":
            df = pd.DataFrame(
                {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
            )
        elif name == "nation":
            df = pd.DataFrame(
                {
                    "n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32),
                }
            )
        elif name == "customer":
            df = pd.DataFrame(
                {
                    "c_custkey": np.arange(k, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(k)],
                    "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
                    "c_acctbal": _money(rng, k, -999.99, 9999.99),
                    "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, k)],
                }
            )
        elif name == "supplier":
            df = pd.DataFrame(
                {
                    "s_suppkey": np.arange(k, dtype=np.int64),
                    "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                    "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
                    "s_acctbal": _money(rng, k, -999.99, 9999.99),
                }
            )
        elif name == "part":
            adj = np.asarray(PART_ADJ)[rng.integers(0, 8, k)]
            noun = np.asarray(PART_NOUN)[rng.integers(0, 8, k)]
            df = pd.DataFrame(
                {
                    "p_partkey": np.arange(k, dtype=np.int64),
                    "p_name": np.char.add(np.char.add(adj, " "), noun).astype(object),
                    "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
                    "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, k)],
                    "p_size": rng.integers(1, 51, k).astype(np.int32),
                    "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
                }
            )
        elif name == "orders":
            df = pd.DataFrame(
                {
                    "o_orderkey": np.arange(k, dtype=np.int64),
                    "o_custkey": rng.integers(0, n["customer"], k),
                    "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, k)],
                    "o_totalprice": _money(rng, k, 1000.0, 500_000.0),
                    "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
                    "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, k)],
                }
            )
        elif name == "lineitem":
            df = pd.DataFrame(
                {
                    "l_orderkey": rng.integers(0, n["orders"], k),
                    "l_partkey": rng.integers(0, n["part"], k),
                    "l_suppkey": rng.integers(0, n["supplier"], k),
                    "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
                    "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                    "l_extendedprice": _money(rng, k, 900.0, 105_000.0),
                    "l_discount": rng.integers(0, 11, k) / 100.0,
                    "l_tax": rng.integers(0, 9, k) / 100.0,
                    "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, k)],
                    "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, k)],
                    "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
                }
            )
        elif name == "events":
            month_us = 30 * 86_400_000_000
            offsets = np.unique(rng.integers(0, month_us, k + k // 100))
            offsets = np.sort(rng.choice(offsets, k, replace=False))
            df = pd.DataFrame(
                {
                    "event_id": np.arange(k, dtype=np.int64),
                    "ts": _ts("2024-01-01", offsets),
                    "user_id": rng.integers(0, max(1, int(15_000 * sf)), k),
                    "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, k)],
                    "value": np.round(np.minimum(rng.exponential(40.0, k), 560.0), 2),
                    "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
                }
            )
        elif name == "documents":
            df = _documents(rng, k)
        else:
            out[name] = _embeddings(rng, k)
            continue
        out[name] = pa.Table.from_pandas(df, preserve_index=False)
    return out


def write_tables(out_dir: str, seed: int, sf: float, names=TABLES) -> int:
    """Write the tables to ``out_dir/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed, sf, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
