"""Scale-path implementation of the sliding-window statistics.

Spark's built-in sliding ``window()`` physically EXPANDS each input row
into duration/slide copies (a 360-way Expand for 1h/10s — visible in
explain()). Correct, but at 100 TB the shuffle carries
rows × Σ(D_i/S) duplicates — the dominant cost of the reference
pipeline's plan (measured: 48 s of a 77 s bench at sf0.1).

This module computes identical results from per-slot prefix sums in
two stages:

  1. bucket — ONE shuffle: groupBy (key, 10 s slot) → exact decimal
              moments (rows, n, Σv, Σv²). Output size is bounded by
              time-range/slide × keys, INDEPENDENT of row count — the
              crucial property at scale.
  2. prefix — one ordered scan over buckets ∪ probes gives every probe
              (key, slot) the running moments through its slot; any
              window [e−D, e) statistic is then prefix(e−1) −
              prefix(e−1−D/S). No expansion.

avg/std derived from the same exact decimal moments as
functions/guards.py, so results are bit-identical to the reference
implementation (asserted in tests and against the DuckDB oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import safe_zscore
from lab04_spark_streaming_spark.operators.moving_stats import (
    REFERENCE_WINDOWS,
    _duration_seconds,
)


# Slot-range chunk width for parallel prefix scans. A per-key ordered
# scan serializes on key cardinality — with few keys and a long time
# axis most cores idle. Chunking by slot range restores parallelism:
# each (key, chunk) sorts independently, and a tiny per-chunk summary
# table (one row per chunk) carries the running state across chunk
# boundaries. 16384 slots ≈ 1.9 days at 10 s.
CHUNK_SLOTS = 16384

# Moment columns and the type of their running sums. The per-tick casts
# in bucket_moments are the exact-moment types of
# functions/guards.exact_avg/exact_std (decimal(30,4) for v,
# decimal(30,8) for v²), so the sums are those of the naive path.
# Running sums are held at precision 36 because Spark types the sum or
# difference of two decimal(38,8) values as decimal(38,7), rounding a
# digit away; from precision 36 a chunk carry-in plus a partial sum is
# (37,·) and a window difference (38,·), both exact.
_MOMENTS = {
    "_rows": "bigint",
    "_n": "bigint",
    "_s": "decimal(36,4)",
    "_sq": "decimal(36,8)",
}


def bucket_moments(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    slide_s: int = 10,
) -> DataFrame:
    """Stage 1: exact moments per (key, slot). The only row-count-
    proportional shuffle in the pipeline (with map-side partial agg).

    ``_rows`` counts every tick and ``_n`` the non-NULL values: a window
    whose ticks all carry NULL values still exists (avg 0.0, std 0.0),
    as it does for window(). Ticks with a NULL timestamp belong to no
    window and are dropped."""
    v = F.col(value_col)
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("_slot", F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s))
        .groupBy(*key_cols, "_slot")
        .agg(
            F.count(F.lit(1)).alias("_rows"),
            F.count(v).alias("_n"),
            F.sum(v.cast("decimal(30,4)")).alias("_s"),
            F.sum((v * v).cast("decimal(30,8)")).alias("_sq"),
        )
    )


def _prefix_sum(c: Column, name: str) -> Column:
    """``c`` cast to the running-sum type of moment ``name``; NULL (no
    bucket yet) reads as zero."""
    t = _MOMENTS[name]
    return F.coalesce(c.cast(t), F.lit(0).cast(t))


def prefix_moments(
    buckets: DataFrame,
    probes: DataFrame,
    key_cols: Sequence[str],
    chunk_slots: int | None = None,
) -> DataFrame:
    """Stage 2: for each probe (key, slot), the running sums of the
    bucket moments over the key's buckets at slots ≤ the probe's slot
    (zeros before the first bucket), under the moment column names and
    with the probe's extra payload columns kept.

    One ordered scan over buckets ∪ probes: probe rows carry NULL
    moments, and a bucket sorts before a probe at the same slot so the
    sum through a probe includes its own slot.

    ``chunk_slots=None``: one ordered scan per key (serializes on key
    cardinality — fine for short slot axes). ``chunk_slots=N``: each
    (key, N-slot chunk) scans independently, and an exclusive running
    sum over the per-(key, chunk) totals (one row per chunk, probe-only
    chunks included) is broadcast back as the chunk's carry-in, so
    parallelism follows the time axis."""
    pay = [
        f for f in probes.schema.fields if f.name not in (*key_cols, "_slot")
    ]
    slot = F.col("_slot").cast("long").alias("_slot")
    u = buckets.select(
        *key_cols,
        slot,
        F.lit(1).alias("_isb"),
        *[F.col(c).cast(t).alias(c) for c, t in _MOMENTS.items()],
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in pay],
    ).unionByName(
        probes.select(
            *key_cols,
            slot,
            F.lit(0).alias("_isb"),
            *[F.lit(None).cast(t).alias(c) for c, t in _MOMENTS.items()],
            *[f.name for f in pay],
        )
    )
    part_by = list(key_cols)
    if chunk_slots is not None:
        u = u.withColumn("_chunk", F.floor(F.col("_slot") / chunk_slots))
        part_by.append("_chunk")
    w = (
        Window.partitionBy(*part_by)
        .orderBy(F.col("_slot"), F.col("_isb").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scanned = u.select(
        *part_by,
        "_slot",
        "_isb",
        *[_prefix_sum(F.sum(c).over(w), c).alias(c) for c in _MOMENTS],
        *[f.name for f in pay],
    ).filter(F.col("_isb") == 0)
    if chunk_slots is None:
        return scanned.drop("_isb")

    cw = (
        Window.partitionBy(*key_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        u.groupBy(*part_by)
        .agg(*[F.sum(c).alias(c) for c in _MOMENTS])
        .select(
            *part_by,
            *[
                _prefix_sum(F.sum(c).over(cw), c).alias(f"_k{c}")
                for c in _MOMENTS
            ],
        )
    )
    return scanned.join(F.broadcast(carry), part_by).select(
        *key_cols,
        "_slot",
        *[
            _prefix_sum(F.col(c) + F.col(f"_k{c}"), c).alias(c)
            for c in _MOMENTS
        ],
        *[f.name for f in pay],
    )


def _window_stats(hi: str, lo: str) -> tuple[Column, Column, Column]:
    """(rows, avg, std) of the window between the prefix moments named
    ``{lo}{moment}`` and ``{hi}{moment}`` — the exact same arithmetic
    as functions/guards.exact_avg/exact_std, so results are
    bit-identical. A window exists where rows > 0."""
    rows, n, s, sq = (F.col(f"{hi}{c}") - F.col(f"{lo}{c}") for c in _MOMENTS)
    sd = s.cast("double")
    sqd = sq.cast("double")
    avg = F.when(n == 0, F.lit(0.0)).otherwise(sd / n)
    var = (sqd - sd * sd / n) / (n - F.lit(1))
    std = F.when(n <= 1, F.lit(0.0)).otherwise(F.sqrt(F.greatest(var, F.lit(0.0))))
    return rows, avg, std


def moving_stats_flat_fast(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    windows: Sequence[tuple[str, str]] = REFERENCE_WINDOWS,
    slide_s: int = 10,
    chunk_slots: int | None = None,
) -> DataFrame:
    """Prefix-sum equivalent of operators/moving_stats.moving_stats_flat
    (bit-identical output, asserted in tests). Instead of expanding
    every ROW into Σ(D/S) window memberships, every slot of each key's
    [min_slot − Dmax, max_slot + Dmax) range is probed once — work
    bounded by time-range/slide × keys × windows, independent of row
    count. The window ending at slot p + 1 is prefix(p) − prefix(p − D),
    and because the probes are consecutive slots, prefix(p − D) is the
    probe D rows back: a lag, not a join.

    ``chunk_slots`` chunks the prefix scan by slot range (see
    prefix_moments) so parallelism follows the time axis rather than
    the key cardinality."""
    buckets = bucket_moments(df, ts_col, key_cols, value_col, slide_s)
    dslots = [(label, _duration_seconds(dur) // slide_s) for label, dur in windows]
    dmax = max(d for _, d in dslots)

    bounds = buckets.groupBy(*key_cols).agg(
        F.min("_slot").alias("_lo"), F.max("_slot").alias("_hi")
    )
    probes = bounds.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("_lo") - dmax, F.col("_hi") + dmax - 1)
        ).alias("_slot"),
    )
    pre = prefix_moments(buckets, probes, key_cols, chunk_slots=chunk_slots)
    # A NULL lag (fewer than D probes back) lies before the key's first
    # bucket: that window is empty and the rows > 0 filter drops it.
    back = Window.partitionBy(*key_cols).orderBy("_slot")
    lagged = pre.select(
        *key_cols,
        "_slot",
        *[F.col(c).alias(f"_h{c}") for c in _MOMENTS],
        *[
            F.lag(c, d).over(back).alias(f"_l{i}{c}")
            for i, (_, d) in enumerate(dslots)
            for c in _MOMENTS
        ],
    )
    per_window = lagged.select(
        *key_cols,
        "_slot",
        *[f"_h{c}" for c in _MOMENTS],
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(label).alias("window"),
                        *[F.col(f"_l{i}{c}").alias(f"_l{c}") for c in _MOMENTS],
                    )
                    for i, (label, _) in enumerate(dslots)
                ]
            )
        ),
    )
    rows, avg, std = _window_stats("_h", "_l")
    return per_window.filter(rows > 0).select(
        ((F.col("_slot") + 1) * slide_s).cast("timestamp").alias("timestamp"),
        *key_cols,
        "window",
        avg.alias("avg_value"),
        std.alias("std_value"),
    )


def zscore_asof_fast(
    ticks: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    windows: Sequence[tuple[str, str]] = REFERENCE_WINDOWS,
    slide_s: int = 10,
    max_stale_slots: int = 1,
    id_col: str | None = None,
    chunk_slots: int | None = CHUNK_SLOTS,
) -> DataFrame:
    """Prefix-sum equivalent of operators/zscore.zscore_asof over
    moving_stats_flat: for each tick × window label, the z-score
    against the most recent non-empty window ending ≤ the tick's slot
    (falling back ≤ ``max_stale_slots``).

    Every prefix moment a tick needs lives at a fixed slot offset: for
    staleness s the window ending at slot e−s covers prefix(e−1−s) −
    prefix(e−1−s−D/S). The distinct offsets across all windows × stales
    (2 + 2·|windows| by default) become one probe row each:

      1. bucket   — ONE row-count-proportional shuffle → exact decimal
                    moments per (key, slot).
      2. prefix   — probe rows for the DISTINCT (key, end-slot) pairs
                    (not per tick: every tick in a slot needs the same
                    lookups, so the scan is bounded by occupied slots ×
                    offsets and is INDEPENDENT of tick density — the
                    property that matters at 100 TB) get their running
                    moments from one scan over buckets ∪ probes
                    (prefix_moments, slot-range chunked by
                    ``chunk_slots``).
      3. assemble — window moments are hi − lo differences of resolved
                    probes, the freshest non-empty staleness wins, and
                    ticks join the (key, end-slot, window) stats on
                    (key, end-slot).

    Output verified bit-equal to the naive operator
    (tests/test_fast_path.py) and to the DuckDB oracle."""
    buckets = bucket_moments(ticks, ts_col, key_cols, value_col, slide_s)

    offs = sorted(
        {1 + st for st in range(max_stale_slots + 1)}
        | {
            1 + st + _duration_seconds(dur) // slide_s
            for st in range(max_stale_slots + 1)
            for _, dur in windows
        }
    )

    out_id = [F.col(id_col)] if id_col else []
    base = ticks.select(
        *out_id,
        F.col(ts_col).alias("timestamp"),
        *[F.col(k) for k in key_cols],
        F.col(value_col).alias("_v"),
        F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s).alias("_end0"),
    )
    if not id_col:
        # Without a row identity, exact-duplicate ticks collapse to one
        # output row (the historical contract of the pivoted variant,
        # whose final groupBy keyed on (timestamp, key, value)).
        base = base.distinct()
    # Probe DISTINCT (key, end-slot) pairs only: ticks sharing a slot
    # share every lookup, so the fill/pivot workload is bounded by
    # occupied slots × offsets regardless of tick density.
    probes = (
        base.select(*key_cols, "_end0")
        .distinct()
        .withColumn("_off", F.explode(F.array(*[F.lit(o) for o in offs])))
        .withColumn("_slot", (F.col("_end0") - F.col("_off")).cast("long"))
    )
    # pin-bounded: probes × offsets rows (occupied slots, not ticks) —
    # hi and lo both consume the resolved probes; cut lineage so the
    # prefix scan runs once. Deserialized default storage: the pin
    # grows only with the time span (a year at 10 s slides is ~3.2M
    # slots × keys × offsets).
    resolved = prefix_moments(
        buckets, probes, key_cols, chunk_slots=chunk_slots
    ).localCheckpoint(eager=False)

    # Assemble window stats RELATIONALLY instead of via a wide pivoted
    # when-tree: the earlier pivot variants (42 max-when aggregates, or
    # a map pivot probed by ~84 getItem calls inside nested whens) spent
    # more driver time in Catalyst analysis/codegen of the giant
    # expression tree than the executors spent running it. Here the
    # resolved probes stay long-form: the two "window end" offsets
    # (1 + staleness) join the per-(window, staleness) "window start"
    # offsets on (key, end-slot, staleness), moments subtract row-wise
    # with flat arithmetic, and the freshest non-empty staleness wins
    # via min_by. Every expression is a handful of nodes.
    hi = resolved.filter(F.col("_off") <= 1 + max_stale_slots).select(
        *key_cols,
        "_end0",
        (F.col("_off") - 1).alias("_st"),
        *[F.col(c).alias(f"_h{c}") for c in _MOMENTS],
    )
    # _off → (window label, staleness) decode for the lo side
    # (off = 1 + st + dslots). NOT injective in general — two windows
    # whose dslots differ by ≤ max_stale_slots share an offset, and a
    # window with dslots ≤ max_stale_slots shares an offset with the hi
    # side — so decode by broadcast-joining a tiny literal (off, window,
    # st) relation: collisions fan out into one row per combination,
    # non-lo (hi-only) offsets drop out in the inner join, and the whole
    # decode stays inside whole-stage codegen (a per-row higher-order
    # filter/explode over the literal array measured ~30% slower here).
    combos = ticks.sparkSession.createDataFrame(
        [
            (1 + st + _duration_seconds(dur) // slide_s, label, st)
            for label, dur in windows
            for st in range(max_stale_slots + 1)
        ],
        "_off int, window string, _st int",
    )
    lo = resolved.join(F.broadcast(combos), "_off").select(
        *key_cols,
        "_end0",
        "window",
        "_st",
        *[F.col(c).alias(f"_l{c}") for c in _MOMENTS],
    )
    j = hi.join(lo, [*key_cols, "_end0", "_st"])
    rows, avg, std = _window_stats("_h", "_l")
    # Freshest (smallest staleness) non-empty window per (key, slot,
    # window). The join partitions on (key, _end0, _st) while this groupBy
    # clusters on (key, _end0, window), so Spark inserts one more exchange
    # here — acceptable because the input is already reduced to
    # occupied-slot size (probes × windows, not raw events).
    stats = (
        j.filter(rows > 0)
        .select(
            *key_cols,
            "_end0",
            "window",
            "_st",
            avg.alias("_avg1"),
            std.alias("_std1"),
        )
        .groupBy(*key_cols, "_end0", "window")
        .agg(
            F.min_by(F.struct("_avg1", "_std1"), F.col("_st")).alias("_p"),
        )
        .select(
            *key_cols,
            "_end0",
            "window",
            F.col("_p._avg1").alias("_avg"),
            F.col("_p._std1").alias("_std"),
        )
    )
    # Ticks → per-slot stats: both sides hash-partition on the join key,
    # and the stats side stays occupied-slots-sized however many ticks
    # land per slot.
    return base.join(stats, [*key_cols, "_end0"]).select(
        *([F.col(id_col)] if id_col else []),
        "timestamp",
        *key_cols,
        "window",
        safe_zscore(F.col("_v"), F.col("_avg"), F.col("_std")).alias(
            "zscore_value"
        ),
    )
