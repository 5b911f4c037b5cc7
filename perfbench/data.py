"""Synthetic input tables for the benchmark.

The tables carry the columns the benchmarked operators and their DuckDB
oracles read, with the row counts and value distributions of the
TPC-H-style driver test data at the same scale factor:

==========  =========================================  =====================
table       columns                                    rows at sf0.1
==========  =========================================  =====================
events      event_id, user_id, value                   100,000
customer    c_custkey, c_nationkey, c_acctbal          15,000
supplier    s_suppkey, s_nationkey, s_acctbal          1,000
orders      o_orderkey, o_custkey                      150,000
lineitem    l_orderkey, l_suppkey                      ~600,000 (1-7 / order)
==========  =========================================  =====================

``value`` is exponential with mean 50 rounded to cents, ``user_id`` is
uniform over 1,500 users per 0.1 sf, balances are uniform cents in
[-999.99, 9999.99] and nation keys uniform in 0..24. The tables come from
a fixed data seed, so every run of a workload reads the same bytes; the
``--seed`` of a run only drives the predicates and the op order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42


def _rows(sf: float, at_sf01: int) -> int:
    return max(10, int(round(at_sf01 * sf / 0.1)))


def _balances(rng, n):
    return rng.integers(-99999, 1000000, n) / 100.0


def make_tables(sf: float, names) -> dict:
    """Return {table name: pyarrow.Table} for the requested tables."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = _rows(sf, 15_000), _rows(sf, 1_000)
    out = {}
    if "events" in names:
        n = _rows(sf, 100_000)
        out["events"] = pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "user_id": rng.integers(0, _rows(sf, 1_500), n, dtype=np.int64),
            "value": np.round(rng.exponential(50.0, n), 2),
        })
    if "customer" in names:
        out["customer"] = pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _balances(rng, n_cust),
        })
    if "supplier" in names:
        out["supplier"] = pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _balances(rng, n_supp),
        })
    if "orders" in names or "lineitem" in names:
        n_ord = _rows(sf, 150_000)
        lines = rng.integers(1, 8, n_ord)
        out["orders"] = pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        })
        out["lineitem"] = pa.table({
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_suppkey": rng.integers(0, n_supp, int(lines.sum()),
                                      dtype=np.int64),
        })
    return {k: v for k, v in out.items() if k in names}


def write_tables(tables: dict, out_dir: str) -> dict:
    """Write each table to ``<out_dir>/<name>.parquet``; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
