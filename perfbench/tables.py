"""Seeded input table for the operator query set.

The registry queries read tables by name from a directory
(``queries.registry.t``). The chosen queries read only ``lineitem``,
so the benchmark writes its own copy, drawn from the seed with the
full TPC-H-style schema: 5000 orders of 1-13 lines each over 2000
parts, about a hundredth of TPC-H scale. Baskets that small keep
every part's co-purchase degree near 50, so the graph queries find
candidates under their degree cap.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_lineitem(seed: int, out_dir: str, n_orders: int = 5000,
                   n_parts: int = 2000) -> None:
    """Write ``lineitem.parquet`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    sizes = rng.integers(1, 8, size=n_orders) + rng.binomial(6, 0.2, size=n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), sizes)
    n = len(okey)
    line = np.arange(n) - np.repeat(np.cumsum(sizes) - sizes, sizes) + 1
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    ship = np.datetime64("1995-01-01") + rng.integers(0, 2500, size=n).astype(
        "timedelta64[D]")
    table = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_parts, size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_parts // 20, size=n).astype(np.int64),
        "l_linenumber": line.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), size=n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
