"""Independent references the benchmark checks every operation against.

- tpch-shaped input: the driver contract's own DuckDB oracles
  (``__spark_entry__.oracle_sql()``), compared the way the oracle tests
  compare them (sorted rows, 6dp-rounded scores, atol 1e-9).
- repository input (dense ids derived from the planted edge list): NumPy
  recurrences (``np.bincount`` power iteration for PageRank, min-label rounds
  for WCC) and degree-ordered wedge closing for triangles.

References are computed outside the timed region and cached per input.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

TPCH_TABLES = ("customer", "supplier", "nation", "orders", "lineitem")


def _tpch_con(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def fingerprint(parquet_glob: str) -> list:
    """Row count and per-column hash sums of parquet files: a cache key that
    changes whenever the generated input does."""
    row = duckdb.sql(f"SELECT count(*), sum(hash(COLUMNS(*))::HUGEINT)::VARCHAR "
                     f"FROM '{parquet_glob}'").fetchone()
    return [str(x) for x in row]


def tpch_references(tables_dir: str, pagerank_iters: int,
                    partial_pagerank_iters: int, tolerance: float) -> dict[str, pd.DataFrame]:
    """DuckDB oracles for WCC and triangles, the oracle's unrolled PageRank
    recurrence at ``pagerank_iters`` and at ``partial_pagerank_iters``
    message supersteps (the interrupted, checkpointed half of the resume
    pair), and the edge count."""
    import __spark_entry__ as entry

    from graph_data_science_spark.sources.tpch_graph import EDGES_SQL

    oracle = entry.oracle_sql()
    con = _tpch_con(tables_dir)
    sql = {"edges": f"WITH {EDGES_SQL} SELECT count(*) AS n FROM edges",
           "pagerank": entry._pagerank_sql(False, iters=pagerank_iters, tol=tolerance),
           "wcc": oracle["wcc"],
           "triangle": oracle["triangle_count"],
           "checkpoint": entry._pagerank_sql(False, iters=partial_pagerank_iters,
                                             tol=tolerance)}
    return {k: con.sql(q).df() for k, q in sql.items()}


def frames_match(got: pd.DataFrame, want: pd.DataFrame, atol: float = 1e-9) -> bool:
    """Row-set equality; floats within ``atol`` (the oracle tests' 1e-9 on
    values both sides rounded, or half a unit of the 6th decimal plus that
    when only the reference is rounded)."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.allclose(a.astype(float), b.astype(float), rtol=0, atol=atol):
                return False
        elif not np.array_equal(a.astype(np.int64), b.astype(np.int64)):
            return False
    return True


# -- repository input: NumPy --------------------------------------------------

def repo_dense_ids(n: int) -> np.ndarray:
    """File index → the dense id ``assign_dense_ids`` gives its key: ids
    count up in key order."""
    from graph_data_science_spark.sources.repo_source import file_key

    order = sorted(range(n), key=file_key)
    dense = np.empty(n, dtype=np.int64)
    dense[np.array(order, dtype=np.int64)] = np.arange(n, dtype=np.int64)
    return dense


def pagerank_np(src, dst, n, supersteps, damping=0.85):
    """Delta-push PageRank with tolerance 0 after ``supersteps`` message
    rounds (operators/pagerank.py's recurrence)."""
    deg = np.bincount(src, minlength=n).astype(float)
    rank = np.full(n, 1.0 - damping)
    delta = rank.copy()
    for _ in range(supersteps):
        share = np.divide(delta, deg, out=np.zeros(n), where=deg > 0)
        delta = damping * np.bincount(dst, weights=share[src], minlength=n)
        rank = rank + delta
    return rank


def wcc_np(src, dst, n, rounds):
    """Min-label propagation over mirrored edges for ``rounds`` rounds."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    comp = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        new = comp.copy()
        np.minimum.at(new, b, comp[a])
        if np.array_equal(new, comp):
            break
        comp = new
    return comp


def triangles_np(src, dst, n):
    """Per-node triangle counts of the undirected simple graph. Each edge is
    oriented from its lower to its higher (degree, id) endpoint; every pair
    of out-neighbours of a node is a wedge, closed when the pair is an edge."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keys = np.unique(lo[lo != hi] * n + hi[lo != hi])
    a, b = keys // n, keys % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    rank = deg.astype(np.int64) * n + np.arange(n)
    a_first = rank[a] < rank[b]
    u, w = np.where(a_first, a, b), np.where(a_first, b, a)
    order = np.argsort(u * n + w, kind="stable")
    u, w = u[order], w[order]
    fwd = u * n + w  # sorted
    start = np.searchsorted(u, u, side="left")
    size = np.searchsorted(u, u, side="right") - start
    after = size - (np.arange(len(u)) - start) - 1  # partners later in the group
    left = np.repeat(np.arange(len(u)), after)
    first = np.repeat(np.cumsum(after) - after, after)
    right = left + 1 + (np.arange(len(left)) - first)
    y, z = w[left], w[right]
    closing = np.where(rank[y] < rank[z], y * n + z, z * n + y)
    pos = np.searchsorted(fwd, closing).clip(max=len(fwd) - 1)
    hit = fwd[pos] == closing
    corners = np.concatenate([u[left][hit], y[hit], z[hit]])
    return np.bincount(corners, minlength=n).astype(np.int64)


def dense(pdf: pd.DataFrame, col: str, n: int) -> np.ndarray | None:
    """A (node_id, col) frame over nodes 0..n-1 as an array, or None when
    the node set is not exactly 0..n-1."""
    ids = pdf["node_id"].to_numpy()
    if len(ids) != n or ids.min() != 0 or ids.max() != n - 1:
        return None
    out = np.empty(n, dtype=pdf[col].dtype)
    out[ids] = pdf[col].to_numpy()
    seen = np.zeros(n, dtype=bool)
    seen[ids] = True
    return out if seen.all() else None
