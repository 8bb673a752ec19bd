"""Seeded input generator of the benchmark's `score` workload.

The `events` table is a pure function of (seed, size): the same arguments
write byte-identical parquet. `ts` is a UTC-adjusted microsecond parquet
timestamp, so Spark reads it as TimestampType and `graft.Tables.events`
takes its timestamp branch. The `catalog` workload needs no generator: it
runs over the engine's test data in `data/sf0.01`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
US_2024 = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in microseconds


def events_table(rng, n, entities):
    """`events`: ids in ts order over 30 days; `value` is exponential with
    mean 50 on the 2-decimal grid (as in the engine's test data)."""
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + US_2024
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", "UTC")),
        "user_id": pa.array(rng.integers(0, entities, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_events(out_dir, seed, n, entities):
    """The score workload's single `events` table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    table = events_table(rng, n, entities)
    pq.write_table(table, f"{out_dir}/events.parquet")
    size = os.path.getsize(f"{out_dir}/events.parquet")
    users = pa.compute.count_distinct(table["user_id"]).as_py()
    return {"seed": seed, "rows": n, "bytes": size, "entities": users,
            "event_types": len(EVENT_TYPES), "duplicate_share": 0.0}

