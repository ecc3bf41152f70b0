"""Seeded generator of the `orders` table the lake workload starts from.

Same columns, types and value domains as the engine's test data
(FIXTURES.md section 2). `sf` scales the row count as in TPC-H (orders =
1.5M x sf, customers = 150k x sf). The same seed and sf give the same table.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def order_dates(days):
    d = np.datetime64("1995-01-01") + np.asarray(days).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def generate(seed, sf, out_dir):
    """Write `orders.parquet` under out_dir; return its row count and the
    customer key range its `o_custkey` draws from."""
    rng = np.random.default_rng(seed)
    n_cust, n = int(150000 * sf), int(1500000 * sf)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": order_dates(rng.integers(0, 2405, n)),
        "o_orderpriority": np.array(PRIO)[rng.integers(0, 5, n)],
    }), os.path.join(out_dir, "orders.parquet"))
    return {"orders": n, "customers": n_cust}
