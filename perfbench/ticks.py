"""Seeded tick backlog for the streaming replay workload.

Writes ``--files`` parquet files into ``--out``, each holding one 5 s
reference trigger of ticks on the reference's 100 ms grid for
``--symbols`` symbols.  Prices are a per-symbol random walk at BTCUSDT
level (every price >= 100 000, two decimals, with runs of stale
re-sent prices as the reference producer emits).  From the second file
on, a fixed share of the previous trigger's ticks arrives one file
late; that lag is at most 10 s of event time, inside the pipeline's
10 s watermark, so no tick is dropped.

Every tick carries ``created_at``, the wall-clock time the generator
wrote it.  Everything else depends only on ``--seed``.  Files are
written to a hidden temporary name and renamed into place, so a file
source never sees a partial file; their modification times increase
with the file index, which is the order Spark's file source reads them.

Run as its own process before timing starts:

    python3 perfbench/ticks.py --seed 7 --out DIR [--files 1] [--symbols 16]
"""

from __future__ import annotations

import argparse
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICKS_PER_S = 10  # reference producer: one tick per 100 ms
TRIGGER_S = 5  # reference stage-2/3 trigger
PRICE_FLOOR = 100_000.0
LATE_SHARE = 0.05
# 12:00:07.5 UTC: each 5 s file then holds a tick on the 10 s slide grid
# with 2.5 s of earlier ticks, so stage 2 emits stats ending at that
# grid tick from a file's own ticks and stage 3 has rows to join.
START_US = 1_717_243_207_500_000

SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("price", pa.float64()),
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)


def tick_rows(seed: int, files: int, symbols: int) -> list[dict[str, np.ndarray]]:
    """Columns (without ``created_at``) of each file, in file order."""
    rng = np.random.default_rng(seed)
    per_file = TICKS_PER_S * TRIGGER_S
    n = files * per_file
    names = np.array([f"SYM{i:02d}USDT" for i in range(symbols)])
    base = PRICE_FLOOR + np.round(rng.uniform(0.0, 20_000.0, symbols), 2)
    steps = np.round(rng.normal(0.0, 3.0, (symbols, n)), 2)
    steps[rng.random((symbols, n)) < 0.2] = 0.0  # stale re-sent price
    # Reflect at the floor so the walk stays at BTC level.
    price = np.abs(base[:, None] + np.cumsum(steps, axis=1) - PRICE_FLOOR)
    price = np.round(price + PRICE_FLOOR, 2)
    slot = np.arange(n)
    event_us = START_US + slot * (1_000_000 // TICKS_PER_S)

    sym = np.repeat(names, n)
    prices = price.reshape(-1)
    times = np.tile(event_us, symbols)
    home = np.tile(slot // per_file, symbols)
    late = (rng.random(home.size) < LATE_SHARE) & (home < files - 1)
    arrive = home + late
    out = []
    for f in range(files):
        sel = arrive == f
        # Late ticks arrive after the file's own ticks.
        order = np.lexsort((times[sel], late[sel]))
        out.append(
            {
                "symbol": sym[sel][order],
                "price": prices[sel][order],
                "event_time": times[sel][order],
            }
        )
    return out


def write_ticks(out_dir: str, seed: int, files: int = 1, symbols: int = 16) -> int:
    """Write the backlog; return the number of ticks written."""
    os.makedirs(out_dir, exist_ok=True)
    mtime0 = time.time() - files - 1
    total = 0
    for f, cols in enumerate(tick_rows(seed, files, symbols)):
        created = np.full(cols["symbol"].size, time.time_ns() // 1000)
        table = pa.Table.from_arrays(
            [
                pa.array(cols["symbol"]),
                pa.array(cols["price"]),
                pa.array(cols["event_time"], pa.timestamp("us", tz="UTC")),
                pa.array(created, pa.timestamp("us", tz="UTC")),
            ],
            schema=SCHEMA,
        )
        name = os.path.join(out_dir, f"ticks-{f:05d}.parquet")
        tmp = os.path.join(out_dir, f".ticks-{f:05d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.utime(tmp, (mtime0 + f, mtime0 + f))
        os.replace(tmp, name)
        total += table.num_rows
    return total


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--files", type=int, default=1)
    p.add_argument("--symbols", type=int, default=16)
    a = p.parse_args()
    if a.files < 1 or a.symbols < 1:
        p.error("--files and --symbols must be at least 1")
    print(write_ticks(a.out, a.seed, a.files, a.symbols))


if __name__ == "__main__":
    main()
