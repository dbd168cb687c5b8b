"""Seeded benchmark inputs with the fixture schemas (see FIXTURES.md).

The benchmark must run in a bare checkout, so it cannot sample the read-only
fixture directories. Instead it draws each table from the distributions
those fixtures show: TPC-H-style keys and value ranges, and unit-norm 64-d
float32 embeddings with 10 labels. Child tables draw their foreign keys from
their parents' key ranges, so every key resolves. The same seed writes the
same bytes.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the row counts of the sf0.01 fixtures (FIXTURES.md), but
# 1,500 embeddings (sf0.01 has 500, sf0.1 5,000), so that vector work, not
# job scheduling, fills an llm_dedup pass (README.md, "Inputs").
ROWS = {"orders": 15000, "lineitem": 60000, "embeddings": 1500}
# key ranges of the sf0.01 tables that no query of the benchmark reads
_CUSTOMERS, _SUPPLIERS, _PARTS = 1500, 100, 2000

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    start = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - start).astype(int))
    days = start + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _orders(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, _CUSTOMERS, n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        }
    )


def _lineitem(rng, n: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, _PARTS, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, _SUPPLIERS, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.normal(0.0, 0.2, (n, _DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            # ten clusters of equal size, so every seed makes the same number
            # of within-cluster pairs for semdedup_clusters to verify
            "label": pa.array(rng.permutation(np.arange(n) % 10), pa.int32()),
        }
    )


_MAKERS = {
    "orders": _orders,
    "lineitem": _lineitem,
    "embeddings": _embeddings,
}


def write_inputs(out_dir: str, seed: int, tables) -> None:
    """Write ``{out_dir}/{table}.parquet`` for each named table. Each table
    draws from its own stream derived from ``seed``, so the set of tables
    written does not change any one table's contents."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        pq.write_table(_MAKERS[name](rng, ROWS[name]), os.path.join(out_dir, f"{name}.parquet"))

