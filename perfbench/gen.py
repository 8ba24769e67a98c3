"""Seeded tick files for the stream drain.

The benchmark's tables are fixed (``data/``); the seed only sets the
order in which their events arrive as ticks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def tick_files(events: pa.Table, seed: int, n_files: int,
               late_share: float, out_dir: str) -> list[str]:
    """Cut an events table into ``n_files`` parquet files of ticks
    ``(symbol, ts, value, seq)`` in a seeded arrival order.

    Arrival is the table's row order (event-time order in the test
    tables) with a ``late_share`` of the events moved
    later by a random distance, so the monotonic gate has out-of-order
    ticks to drop. ``seq`` is the global arrival position; file ``i``
    holds arrivals ``[i*n/n_files, (i+1)*n/n_files)``. Returns the file
    paths in arrival order.
    """
    rng = np.random.default_rng([seed, 3])
    n = events.num_rows
    key = np.arange(n, dtype=np.float64)
    late = rng.random(n) < late_share
    key[late] += rng.integers(1, max(2, n // n_files), int(late.sum()))
    order = np.argsort(key, kind="stable")
    ticks = pa.table({
        "symbol": events.column("event_type").take(order),
        "ts": events.column("ts").take(order),
        "value": events.column("value").take(order),
        "seq": pa.array(np.arange(n, dtype=np.int64)),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"ticks-{i:03d}.parquet")
        pq.write_table(ticks.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        # the file source orders files by modification time: make
        # arrival order explicit rather than rely on write timing
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths
