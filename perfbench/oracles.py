"""Independent oracles: DuckDB for the join-shaped answers (edge
derivation, triangle counts), vectorized NumPy for the iterative ones
(components, PageRank, label propagation). None of them call the package
under test, and all run outside the timed spans."""

from __future__ import annotations

import tempfile

import duckdb
import numpy as np
import pyarrow as pa


def _duck(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _pairs(rel) -> np.ndarray:
    t = rel.arrow()
    if isinstance(t, pa.RecordBatchReader):
        t = t.read_all()
    out = np.column_stack(
        [t.column(0).to_numpy().astype(np.int64), t.column(1).to_numpy().astype(np.int64)]
    )
    return out[np.lexsort((out[:, 1], out[:, 0]))] if len(out) else out.reshape(0, 2)


def cooccurrence_edges(lineitem: pa.Table, threads: int) -> np.ndarray:
    """Canonical (src < dst) part pairs sharing an order, sorted."""
    con = _duck(threads)
    con.register("li", lineitem)
    rel = con.sql(
        """
        WITH p AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS v FROM li)
        SELECT DISTINCT a.v AS src, b.v AS dst
        FROM p a JOIN p b ON a.o = b.o AND a.v < b.v
        """
    )
    out = _pairs(rel)
    con.close()
    return out


def chain_edges(orders: pa.Table) -> np.ndarray:
    """Consecutive orders of each customer in (date, key) order, canonical."""
    key = orders.column("o_orderkey").to_numpy()
    cust = orders.column("o_custkey").to_numpy()
    day = orders.column("o_orderdate").to_numpy().astype(np.int64)
    idx = np.lexsort((key, day, cust))
    k, c = key[idx], cust[idx]
    same = c[1:] == c[:-1]
    a, b = k[:-1][same], k[1:][same]
    out = np.column_stack([np.minimum(a, b), np.maximum(a, b)])
    return np.unique(out, axis=0)


def triangle_count(edges: np.ndarray, threads: int) -> int:
    """Exact triangle count of a canonical edge array (ids ordered, no
    degree orientation: independent of the package's plan)."""
    if len(edges) == 0:
        return 0
    con = _duck(threads)
    con.register("e", pa.table({"src": edges[:, 0], "dst": edges[:, 1]}))
    n = con.sql(
        """
        SELECT count(*) FROM e e1
        JOIN e e2 ON e1.dst = e2.src
        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
        """
    ).fetchone()[0]
    con.close()
    return int(n)


def _dense(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(sorted vertex ids, src index, dst index)."""
    ids, inv = np.unique(edges, return_inverse=True)
    inv = inv.reshape(edges.shape)
    return ids, inv[:, 0], inv[:, 1]


def components(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, component = min vertex id): min-label fixpoint with
    pointer jumping."""
    ids, s, d = _dense(edges)
    lab = np.arange(len(ids))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        new = new[new]
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def pagerank(
    edges: np.ndarray, iterations: int, tol: float | None, damping: float = 0.85
) -> tuple[np.ndarray, np.ndarray, int]:
    """(vertex ids, ranks, supersteps): synchronous undirected power
    iteration from 1/n, stopping at the first superstep whose max |Δ| is
    under ``tol`` (``iterations`` caps it)."""
    ids, s, d = _dense(edges)
    n = len(ids)
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    rank = np.full(n, 1.0 / n)
    steps = 0
    for _ in range(iterations):
        c = rank / deg
        new = (1.0 - damping) / n + damping * (
            np.bincount(d, c[s], minlength=n) + np.bincount(s, c[d], minlength=n)
        )
        steps += 1
        done = tol is not None and np.max(np.abs(new - rank)) < tol
        rank = new
        if done:
            break
    return ids, rank, steps


def label_propagation(edges: np.ndarray, iterations: int) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, labels): synchronous rounds, each vertex takes its
    neighbours' most frequent label, ties -> min label."""
    ids, s, d = _dense(edges)
    n = len(ids)
    recv = np.concatenate([d, s])
    send = np.concatenate([s, d])
    lab = np.arange(n)
    for _ in range(iterations):
        key, cnt = np.unique(recv * n + lab[send], return_counts=True)
        v, lbl = key // n, key % n
        order = np.lexsort((lbl, -cnt, v))
        v, lbl = v[order], lbl[order]
        first = np.r_[True, v[1:] != v[:-1]]
        new = lab.copy()
        new[v[first]] = lbl[first]
        lab = new
    return ids, ids[lab]
