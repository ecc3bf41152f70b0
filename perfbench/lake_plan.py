"""Seeded statement plan of the lake_commit_mv client.

Each round: one MERGE (updates about 0.5% of the keys, inserts new keys),
one key-range DELETE, one REFRESH MATERIALIZED VIEW, a few key-range
point reads and one full group-by read. `{T}` and `{MV}` stand for the
table and view names. MERGE sources are parquet files written here, so
the DuckDB replay applies exactly the rows the engine merged.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from gen_orders import PRIO, order_dates

POINT_READS = 4
POINT_SPAN = 50
SCAN_SQL = ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
            "sum(o_totalprice) AS total FROM {T} "
            "GROUP BY o_orderstatus, o_orderpriority")
MERGE_SQL = ("MERGE INTO {T} t USING merge_src s "
             "ON t.o_orderkey = s.o_orderkey "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")


def make_plan(seed, n_orders, n_cust, out_dir, rounds, warmup_rounds):
    """Write merge sources and `plan.json` under out_dir; return its path."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    next_key = n_orders
    n_upd = max(1, n_orders // 200)
    n_ins = max(1, n_upd // 4)
    del_span = max(10, n_orders // 100)
    plan = []
    for r in range(rounds):
        keys = rng.sample(range(next_key), n_upd) + \
            list(range(next_key, next_key + n_ins))
        next_key += n_ins
        n = len(keys)
        src = os.path.join(out_dir, f"merge_{r:04d}.parquet")
        pq.write_table(pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n)],
                                  pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
            "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                             for _ in range(n)],
            "o_orderdate": order_dates([rng.randrange(2405) for _ in range(n)]),
            "o_orderpriority": [rng.choice(PRIO) for _ in range(n)],
        }), src)
        lo = rng.randrange(next_key - del_span)
        stmts = [
            {"kind": "merge", "sql": MERGE_SQL, "src": src},
            {"kind": "delete", "sql":
                f"DELETE FROM {{T}} WHERE o_orderkey BETWEEN {lo} AND "
                f"{lo + del_span} AND o_orderpriority = '{rng.choice(PRIO)}'"},
            {"kind": "refresh", "sql": "REFRESH MATERIALIZED VIEW {MV}"},
        ]
        for _ in range(POINT_READS):
            b = rng.randrange(next_key - POINT_SPAN)
            stmts.append({"kind": "point", "sql":
                          f"SELECT * FROM {{T}} WHERE o_orderkey BETWEEN {b} "
                          f"AND {b + POINT_SPAN - 1}"})
        stmts.append({"kind": "scan", "sql": SCAN_SQL})
        plan.append(stmts)
    path = os.path.join(out_dir, "plan.json")
    with open(path, "w") as f:
        json.dump({"warmup_rounds": warmup_rounds, "rounds": plan}, f)
    return path
