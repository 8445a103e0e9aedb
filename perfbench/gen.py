"""Seeded inputs for the benchmark: the driver-shaped tables and a KDC corpus.

The tables follow the layout of the engine's driver tables (the ten names
in ``schemas.DRIVER_TABLES``, one parquet file each, the same column names
and arrow types, ``timestamp[us]`` without a zone) at the row counts the
driver uses for a scale factor. Every column is drawn independently and
uniformly from the same domains, except where the driver data has
structure the query surface relies on: events are ordered by time with
sequential ids, about 5% of documents repeat an earlier document with
" dup" appended, and embeddings are unit vectors with a weak per-label
centroid. The same seed writes byte-identical files.
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
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the driver's sizing)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    lo = (np.datetime64(first, "D") - _EPOCH_DAY).astype(int)
    hi = (np.datetime64(last, "D") - _EPOCH_DAY).astype(int)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return days.astype("datetime64[us]")


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, 64))
    x = rng.normal(size=(n, 64)) + 0.15 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def make_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten driver tables for ``sf`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32 = np.int32
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"])
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n["part"])),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(i32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n["part"]) % 1000) / 10.0),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n["orders"])),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"])),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"])),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"])),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n["lineitem"])),
        },
        "events": {
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": _ts(
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"])).astype(
                    "timedelta64[us]"
                )
            ),
            "user_id": pa.array(rng.integers(0, round(15_000 * sf) or 1, n["events"])),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"])),
            "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]
            ),
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
