"""The prefix-sum scale path must be BIT-identical to the naive
sliding-window operators (same exact-decimal arithmetic, different
plan shape).

Comparisons are Counter multisets over full rows (not dicts keyed on
the natural key): a fast-path regression that emitted duplicate rows
for a key would be silently collapsed by a dict and pass.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.moving_stats import moving_stats_flat
from lab04_spark_streaming_spark.operators.moving_stats_fast import (
    moving_stats_flat_fast,
    zscore_asof_fast,
)
from lab04_spark_streaming_spark.operators.zscore import zscore_asof
from lab04_spark_streaming_spark.sources.files import load_table

# The first two days of the month-long fixture: every key, every window
# length (the longest is 1 h), and a few hundred rows rather than the
# naive path's ×669 expansion of the whole table.
_SLICE_UNTIL = "2024-01-03 00:00:00"


def _events_slice(spark, sf_dir):
    return load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(_SLICE_UNTIL).cast("timestamp")
    )


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_moving_stats_flat_fast_equals_naive(spark, sf_dir):
    ev = _events_slice(spark, sf_dir)
    slow = moving_stats_flat(ev, "ts", ["event_type"], "value")
    fast = moving_stats_flat_fast(ev, "ts", ["event_type"], "value")
    s = _multiset(slow)
    assert s == _multiset(fast) and sum(s.values()) > 0


def test_zscore_asof_fast_equals_naive(spark, sf_dir):
    ev = _events_slice(spark, sf_dir)
    slow = zscore_asof(
        ev,
        moving_stats_flat(ev, "ts", ["event_type"], "value"),
        "ts",
        ["event_type"],
        "value",
        slide_seconds=10,
        max_stale_slots=1,
        id_col="event_id",
    )
    fast = zscore_asof_fast(
        ev, "ts", ["event_type"], "value", id_col="event_id"
    )
    s = _multiset(slow)
    assert s == _multiset(fast.select(*slow.columns)) and sum(s.values()) > 0


_T0 = dt.datetime(2024, 6, 1, 12, 0, 0)
_PROP_WINDOWS = [("30s", "30 seconds"), ("1m", "1 minute"), ("5m", "5 minutes")]
# BTCUSDT-scale prices on both sides of 1e5 (where a decimal(18,8) Σv²
# runs out of integer digits), 1e9, a 4-decimal value whose square
# needs all 8 fractional digits of the Σv² type, and NULL.
_VALUES = st.one_of(
    st.none(),
    st.builds(
        lambda m, sign: sign * m,
        st.sampled_from([1e-4, 0.37, 327.53, 99_000.25, 101_000.5, 1e9]),
        st.sampled_from([1, -1]),
    ),
)
_TICKS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=1_800),
        _VALUES,
    ),
    min_size=1,
    max_size=40,
)


def _example_ticks():
    """Every edge at once: a dense BTC-price run, the extremes, an
    all-NULL window, a 15-minute gap (a run of empty chunks at
    chunk_slots=3), and a single-tick key."""
    a = [("a", 7 * i, 101_000.5 + (i % 5) * 0.25) for i in range(30)]
    a += [("a", 211, -101_000.5), ("a", 212, 1e9), ("a", 213, 1e-4)]
    a += [("a", 214, None), ("a", 250, None), ("a", 251, None)]
    a += [("a", 1_200 + 3 * i, (-1) ** i * 99_000.25) for i in range(8)]
    return a + [("solo", 500, 1e-4)]


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ticks=_TICKS, chunk_slots=st.sampled_from([None, 3, 7]))
@example(ticks=_example_ticks(), chunk_slots=3)
@example(ticks=_example_ticks(), chunk_slots=None)
def test_fast_path_equals_naive_property(spark, ticks, chunk_slots):
    """Both prefix-sum operators equal their naive window() twins as
    full-row multisets, for values from 1e-4 to 1e9 of either sign,
    NULL values, single-tick keys, and chunked scans whose carry must
    cross empty chunks."""
    ev = spark.createDataFrame(
        [
            (i, _T0 + dt.timedelta(seconds=s, milliseconds=i % 7), k, v)
            for i, (k, s, v) in enumerate(ticks)
        ],
        "event_id long, ts timestamp, k string, value double",
    )
    naive = moving_stats_flat(ev, "ts", ["k"], "value", windows=_PROP_WINDOWS)
    fast = moving_stats_flat_fast(
        ev, "ts", ["k"], "value", windows=_PROP_WINDOWS, chunk_slots=chunk_slots
    )
    assert _multiset(naive) == _multiset(fast)

    z_naive = zscore_asof(
        ev, naive, "ts", ["k"], "value", max_stale_slots=1, id_col="event_id"
    )
    z_fast = zscore_asof_fast(
        ev,
        "ts",
        ["k"],
        "value",
        windows=_PROP_WINDOWS,
        id_col="event_id",
        chunk_slots=chunk_slots,
    )
    assert _multiset(z_naive) == _multiset(z_fast.select(*z_naive.columns))


def test_zscore_asof_fast_edge_windows_equals_naive(spark, sf_dir):
    """Window sets the relational offset decode must not mishandle:
    a window whose slot-width ≤ max_stale_slots (its start offset
    collides with the hi side) and two windows whose start offsets
    collide with EACH OTHER across stalenesses (20s@st=1 and 30s@st=0
    both probe offset 4). Both were handled by the old pivot and must
    survive the hi/lo join rewrite."""
    wins = [("10s", "10 seconds"), ("20s", "20 seconds"), ("30s", "30 seconds")]
    ev = load_table(spark, sf_dir, "events")
    slow = zscore_asof(
        ev,
        moving_stats_flat(ev, "ts", ["event_type"], "value", windows=wins),
        "ts",
        ["event_type"],
        "value",
        slide_seconds=10,
        max_stale_slots=1,
        id_col="event_id",
    )
    fast = zscore_asof_fast(
        ev, "ts", ["event_type"], "value", windows=wins, id_col="event_id"
    )
    s = Counter(
        (r.event_id, r.window, r.timestamp, r.zscore_value)
        for r in slow.collect()
    )
    f = Counter(
        (r.event_id, r.window, r.timestamp, r.zscore_value)
        for r in fast.collect()
    )
    assert s == f


def test_asof_join_carry_crosses_empty_chunks(spark):
    """A right payload must carry across chunks that contain no right
    rows at all (regression: the carry relation once only had rows for
    chunks with right rows, so left-only chunks lost the fill)."""
    from lab04_spark_streaming_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [
            (1, t0, "k"),
            # three chunk-widths later (chunk_s=100): chunks 1-2 empty
            (2, t0 + dt.timedelta(seconds=350), "k"),
        ],
        "event_id long, ts timestamp, key string",
    )
    right = spark.createDataFrame(
        [(t0 - dt.timedelta(seconds=5), "k", 9.0)],
        "ts timestamp, key string, v double",
    )
    got = {
        r.event_id: (r.ts_asof, r.v_asof)
        for r in asof_join(
            left, right, "ts", ["key"], ["v"], chunk_s=100
        ).collect()
    }
    assert got[1] == (t0 - dt.timedelta(seconds=5), 9.0)
    assert got[2] == (t0 - dt.timedelta(seconds=5), 9.0)

    # and the tolerance converts a stale match to NULLs, not a drop
    tol = {
        r.event_id: (r.ts_asof, r.v_asof)
        for r in asof_join(
            left, right, "ts", ["key"], ["v"], tolerance_s=60, chunk_s=100
        ).collect()
    }
    assert tol[1] == (t0 - dt.timedelta(seconds=5), 9.0)
    assert tol[2] == (None, None)


def test_zscore_grid_via_asof_stale0_equals_naive_grid(spark, sf_dir, tmp_path):
    """The r7 rewiring of q_zscore_grid: exact-grid join == as-of with
    max_stale_slots=0 over slot-quantized ticks. Assert the served
    query, run over a written slice of the events table, is bit-equal
    to the naive expansion-stats + exact-grid join it replaced."""
    from lab04_spark_streaming_spark.operators.zscore import (
        zscore_exact_grid,
    )
    from lab04_spark_streaming_spark.plans.reference_parity import (
        q_zscore_grid,
    )

    sliced = str(tmp_path)
    _events_slice(spark, sf_dir).write.parquet(f"{sliced}/events.parquet")
    ev = load_table(spark, sliced, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    ticks = ev.withColumn(
        "ts", (F.floor(F.unix_timestamp("ts") / 10) * 10).cast("timestamp")
    )
    stats = moving_stats_flat(ev, "ts", ["event_type"], "value")
    naive = zscore_exact_grid(
        ticks, stats, "ts", ["event_type"], "value"
    ).select("timestamp", "event_type", "window", "zscore_value")

    a = _multiset(q_zscore_grid(spark, sliced))
    assert a == _multiset(naive) and sum(a.values()) > 0
