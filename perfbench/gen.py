"""Seeded input generator: an ``events`` table shaped like the sf0.1
testdata one (event_id, ts, user_id, event_type, value, props JSON with an
integer ``k``), written with pyarrow so generating it starts no Spark job.

The package's ``demo.build_raw_query_log`` turns these rows into raw SQL
text; the benchmark only ever hands the program these generated rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.datetime(2024, 1, 1)
DAYS = 30
ROWS_PER_DAY = 3300  # sf0.1 density: 100k rows over 30 days
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_table(seed: int, rows: int = DAYS * ROWS_PER_DAY) -> pa.Table:
    """``rows`` events spread over ``DAYS`` days, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    span_us = DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, rows))
    ts = np.datetime64(START, "us") + offsets.astype("timedelta64[us]")
    value = np.round(np.minimum(rng.exponential(60.0, rows), 560.0), 2)
    k = rng.integers(0, 100, rows)
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, rows), type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, rows)]),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def write_events(sf_dir: str, seed: int) -> str:
    """Write ``<sf_dir>/events.parquet`` (one row group, like the testdata)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(seed), path)
    return path


def window(seed: int, days: int) -> tuple[dt.datetime, dt.datetime]:
    """A seeded ``days``-long window inside the generated span."""
    rng = np.random.default_rng([seed, 1])
    start = START + dt.timedelta(days=int(rng.integers(0, DAYS - days + 1)))
    return start, start + dt.timedelta(days=days)
