"""Seeded benchmark inputs.

The graph *structure* of each tier is fixed (one generator seed per
tier), so its triangle count is a known constant; the run seed only
relabels keys with an affine bijection ``k -> (a*k + b) mod p`` and picks
the delta-ingest holdout and batch order. The program under test sees
the generated parquet files and nothing else.

Source shapes follow the TPC-H-like tables the package's sources read:

- ``lineitem (l_orderkey, l_partkey)``: 6M*sf lines over 1.5M*sf orders
  and 200k*sf parts, uniform -> ~4 lines per order; two parts sharing an
  order are linked (``sources.part_graph``);
- ``orders (o_orderkey, o_custkey, o_orderdate)``: 1.5M*sf orders over
  150k*sf customers; each customer's orders in date order form a path
  (``sources.order_chain_graph``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Mersenne prime 2^31 - 1: above every generated key, and relabelled ids
# stay below 2^31, so the package's compact int32 path still engages.
PRIME = (1 << 31) - 1

# fixed structure per tier; the run seed never touches it
STRUCTURE_SEED = 20240611


def affine_map(seed: int) -> tuple[int, int]:
    """(a, b) of the seed's key relabelling ``(a*k + b) mod PRIME``."""
    rng = np.random.default_rng([seed, 1])
    return int(rng.integers(1, PRIME)), int(rng.integers(0, PRIME))


def relabel(keys: np.ndarray, ab: tuple[int, int]) -> np.ndarray:
    a, b = ab
    # a, k < 2^31 so a*k < 2^62: no int64 overflow
    return (keys.astype(np.int64) * a + b) % PRIME


def lineitem(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng(STRUCTURE_SEED)
    rows = int(6_000_000 * sf)
    orders = rng.integers(0, int(1_500_000 * sf), rows)
    parts = rng.integers(0, int(200_000 * sf), rows)
    ab = affine_map(seed)
    return pa.table(
        {"l_orderkey": relabel(orders, ab), "l_partkey": relabel(parts, ab)}
    )


def orders(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng(STRUCTURE_SEED + 1)
    n = int(1_500_000 * sf)
    keys = np.arange(n, dtype=np.int64)
    cust = rng.integers(0, int(150_000 * sf), n)
    # a permutation of days makes (cust, date) unique per order, so the
    # chain structure never depends on the relabelled key as a tie-break
    day = rng.permutation(n).astype(np.int64)
    ab = affine_map(seed)
    return pa.table(
        {
            "o_orderkey": relabel(keys, ab),
            "o_custkey": relabel(cust, ab),
            "o_orderdate": pa.array(day.astype("datetime64[D]")),
        }
    )


def write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as a parquet directory of ``files`` part files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for i, start in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{i:05d}.parquet"))


def edge_table(src: np.ndarray, dst: np.ndarray) -> pa.Table:
    return pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})


def holdout_batches(
    edges: np.ndarray, seed: int, share: float, n_batches: int
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Split an ``(m, 2)`` edge array into a base and a seeded holdout of
    ``share`` of the edges, cut into ``n_batches`` batches in seeded order."""
    rng = np.random.default_rng([seed, 2])
    order = rng.permutation(len(edges))
    k = int(round(share * len(edges)))
    held = edges[order[:k]]
    base = edges[np.sort(order[k:])]
    return base, np.array_split(held, n_batches)
