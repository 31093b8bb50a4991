"""Seeded synthetic tables for the benchmark.

The tables have the same names, row counts, columns and types as the
program's scale-factor-0.1 gate data (`events`, `customer`), and the same
key ranges, distinct counts and value distributions (compared in
`README.md`). The same seed always writes the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
JAN_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def events(rng, n=100_000):
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n))),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def customer(rng, n=15_000):
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(ids),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


TABLES = {"events": events, "customer": customer}


def generate(seed, out_dir, names):
    """Write `<out_dir>/<name>.parquet` for each table name. Each table has
    its own stream derived from the seed, so a table's rows do not depend
    on which other tables were asked for."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(sorted(TABLES)):
        if name in names:
            rng = np.random.default_rng([seed, i])
            pq.write_table(TABLES[name](rng), os.path.join(out_dir, f"{name}.parquet"))
