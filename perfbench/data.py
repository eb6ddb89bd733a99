"""Seeded inputs for the batch workload.

The events table has the schema and value distributions of the engine's
test fixtures (one parquet file, rows in event-id order with
non-decreasing timestamps), drawn from the run's seed so every seed gives
its own table and the same seed the same one.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_ROWS = 10_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000


def events(out_dir, seed, rows=EVENT_ROWS):
    rng = np.random.default_rng(seed)
    ts = np.sort(START_US + rng.integers(0, SPAN_US, rows))
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, rows * 3 // 200), rows), type=pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
