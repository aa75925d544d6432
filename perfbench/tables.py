"""Seeded generator for the ten curation tables the declared queries read.

The layout (names, column types, value domains) mirrors the star schema
plus ``events``/``documents``/``embeddings`` tables that
``mdio_python_spark.sources.tables`` loads; row counts scale with ``sf``
(sf=0.001 gives 500 documents and 6,000 line items). Documents draw words
from a small vocabulary and ~5% of them are near-duplicates of an earlier
document, so the dedup, LSH and clustering queries all have work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the fast slow big small data row column table scan filter join agg "
    "group order sort merge hash key value part line customer spark query "
    "window stream batch vector"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.39, 0.16, 0.16, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "pin")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64
TS = pa.timestamp("us")


def _days(rng: np.random.Generator, n: int, lo: str, span_days: int) -> np.ndarray:
    return np.datetime64(lo, "us") + rng.integers(0, span_days, n).astype(
        "timedelta64[D]"
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.standard_normal((10, EMBED_DIM))
    vecs = 0.15 * centroids[labels] + rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gaps_us = rng.exponential(43 * 60e6, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, TS),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def _star(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_line = 4 * n_ord
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(n_cust)], pa.string()
                ),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array(
                    [f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()
                ),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + 0.1 * (np.arange(n_part) % 1000), 2)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord), pa.string()),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
                "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2400), TS),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900, 2100, n_line), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_line), pa.string()),
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2500), TS),
        }
    )
    return out


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten ``<table>.parquet`` files under ``out_dir``; return
    row counts. The same ``(seed, sf)`` always writes the same rows."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n_docs = max(int(500_000 * sf), 50)
    tables = _star(rng, sf)
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_docs)
    tables["events"] = _events(rng, 2 * n_docs, n_users=15)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
