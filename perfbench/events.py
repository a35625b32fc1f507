"""Seeded ``events`` table for the batch registry workload.

Writes ``--out/events.parquet`` in the shape of the engine's star-schema
``events`` table (``schemas.STAR_TABLES``): ``event_id`` in time order,
microsecond ``ts`` over January 2024, five event types, exponential
``value`` with two decimals and a small JSON ``props`` payload.  One
file with one row group, as the fixture tables have.  Everything
depends only on ``--seed``; the file is written under a temporary name
and renamed into place.

Run as its own process before timing starts:

    python3 perfbench/events.py --seed 7 --out DIR [--rows 2000]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000


def write_events(out_dir: str, seed: int, rows: int = 2000) -> int:
    """Write ``events.parquet``; return the number of rows."""
    rng = np.random.default_rng(seed)
    ts = np.sort(START_US + rng.choice(SPAN_US, rows, replace=False))
    users = max(15, rows // 66)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, rows)]),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, rows), 2), 0.01)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, ".events.parquet.tmp")
    pq.write_table(table, tmp, row_group_size=rows)
    os.replace(tmp, os.path.join(out_dir, "events.parquet"))
    return rows


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--rows", type=int, default=2000)
    a = p.parse_args()
    if a.rows < 1:
        p.error("--rows must be at least 1")
    print(write_events(a.out, a.seed, a.rows))


if __name__ == "__main__":
    main()
