"""Seeded generator for the dashboard workload's input tables.

Writes the two tables the dashboard queries read, ``customer`` and
``events``, as single-file parquet with the same schema and value
shapes as the engine's TPC-H-style test fixtures: events ordered by
event_id with increasing microsecond timestamps over 30 days, an
exponential ``value`` in cents, a small JSON ``props`` and customers
keyed 0..n-1 that the events' user_id refers to.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_SPAN_US = 30 * 86_400 * 1_000_000


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": rng.integers(-99_999, 999_981, n) / 100.0,
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
        }
    )


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, _SPAN_US, n)) + _T0_US
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": value,
            "props": [f'{{"k": {x}}}' for x in k],
        }
    )


def write_dashboard_inputs(
    out_dir: str, seed: int, n_customers: int = 5_000, n_events: int = 30_000
) -> int:
    """Write customer.parquet and events.parquet under ``out_dir``;
    returns the bytes written."""
    rng = np.random.default_rng([seed, 0xDA5B])
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "customer": customer_table(rng, n_customers),
        "events": events_table(rng, n_events, n_customers // 10),
    }
    total = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        total += os.path.getsize(path)
    return total
