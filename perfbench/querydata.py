"""Seeded tables for the query-suite workload: the TPC-H ``customer``
table (the creator tree of ``hierarchy_bfs``) and the ``embeddings``
table (the vectors of ``dedup_embedding_bucketed`` and
``ann_index_build``), with the schemas the query registry reads.

``generate(root, seed)`` writes ``root/<table>.parquet`` and returns
rows per table; the same seed always writes the same bytes.  A few
embeddings are planted near-duplicates of others, so the dedup query
has pairs to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
CUSTOMERS = 1500        # parent(custkey) = custkey div 10: a four-level tree
VECTORS = 500
DIM = 64

TABLES = ["customer", "embeddings"]


def generate(root: str, seed: int) -> dict[str, int]:
    """Write every table under ``root``; return rows per table."""
    rng = np.random.default_rng(seed)
    n = CUSTOMERS
    customer = {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
    }

    emb = rng.normal(0, 1, (VECTORS, DIM))
    twins = rng.choice(VECTORS, VECTORS // 20, replace=False)
    emb[twins] = emb[rng.integers(0, VECTORS, len(twins))] + rng.normal(0, 0.05, (len(twins), DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = {
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECTORS).astype(np.int32)),
    }

    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, cols in (("customer", customer), ("embeddings", embeddings)):
        table = pa.table(cols)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
