"""Seeded input tables for the operator queries.

The engine's query registry (`tempel_spark.plans.testdata_queries`)
reads a directory of parquet tables with a TPC-H-like star schema plus
`events`, `documents` and `embeddings`. This module writes such a
directory from a seed, at about the size of scale factor 0.01, with
the same column names, types and value domains the queries filter on.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["small", "red", "blue", "green", "large", "steel", "brass", "polished"]
NOUNS = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "clamp"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = ("key agg row scan slow fast table value part hash merge batch spark a the line sort "
         "window data column join small big order group filter query customer stream vector").split()
EMBED_DIM = 64
N_LABELS = 10


def _ts(start: datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int(start.timestamp() * 1_000_000)
    return pa.array(base + (offsets_s * 1_000_000).astype(np.int64), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table the headline queries read to out_dir/<name>.parquet."""
    rng = np.random.default_rng(seed)
    n = SIZES
    days = 365 * 6.6 * 86400
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + 0.1 * np.arange(n["part"]), 2),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "F", "O"], n["orders"]).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
            "o_orderdate": _ts(datetime(1995, 1, 1), np.floor(rng.uniform(0, days, n["orders"]) / 86400) * 86400),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n["lineitem"]), 2),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
            "l_shipdate": _ts(datetime(1995, 1, 2), np.floor(rng.uniform(0, days, n["lineitem"]) / 86400) * 86400),
        },
        "events": {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": _ts(datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, n["events"]))),
            "user_id": rng.integers(0, 150, n["events"]).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n["events"]).tolist(),
            "value": np.round(rng.exponential(15.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
    }
    # documents: random word sequences, one in twenty an exact copy of
    # an earlier one, so the dedup queries have duplicates to find
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(20, 80)))))
    tables["documents"] = {
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"], p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    # embeddings: points around one centroid per label
    labels = rng.integers(0, N_LABELS, n["embeddings"])
    centroids = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    vecs = (centroids[labels] + rng.normal(0, 0.5, (n["embeddings"], EMBED_DIM))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
