"""Seeded inputs for the benchmark workloads.

Every input is a pure function of its parameters and seed, written as
parquet under the run's work directory. The program under test only ever
sees those files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H sf0.1 cardinalities of the five tables the link graph is derived
# from (sources/tpch_graph.py). Keys are 0-based like the oracle tests' tables.
TPCH_SF01 = {"customer": 15_000, "supplier": 1_000, "nation": 25,
             "orders": 150_000, "lineitem": 600_000}

# The tpch-shaped input is fixed: the workload measures the engine on one
# known graph, the way the oracle tests' sf0.1 data is one fixed table set.
TPCH_SEED = 20_250_101


def write_tpch_tables(out_dir: str, sizes: dict[str, int] = TPCH_SF01,
                      seed: int = TPCH_SEED) -> None:
    """TPC-H-shaped customer/supplier/nation/orders/lineitem parquet files
    carrying only the columns the link-graph derivation reads; foreign keys
    are uniform draws."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_nat = sizes["customer"], sizes["supplier"], sizes["nation"]
    n_ord, n_li = sizes["orders"], sizes["lineitem"]
    tables = {
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_nationkey": rng.integers(0, n_nat, n_cust).astype(np.int32)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_nationkey": rng.integers(0, n_nat, n_supp).astype(np.int32)},
        "nation": {"n_nationkey": np.arange(n_nat, dtype=np.int32)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64)},
        "lineitem": {"l_orderkey": np.sort(rng.integers(0, n_ord, n_li, dtype=np.int64)),
                     "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64)},
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_powerlaw_edges(spark, path: str, node_count: int, seed: int,
                         max_degree: int = 512) -> None:
    """The engine's own POWER_LAW generator, de-duplicated, to parquet."""
    from graph_data_science_spark.sources.generator import POWER_LAW, random_graph

    (random_graph(spark, node_count, average_degree=3, distribution=POWER_LAW,
                  seed=seed, max_degree=max_degree)
     .distinct().write.mode("overwrite").parquet(path))


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) int64 arrays of a parquet edge directory."""
    t = pq.read_table(path, columns=["src", "dst"])
    return (t.column("src").to_numpy().astype(np.int64),
            t.column("dst").to_numpy().astype(np.int64))
