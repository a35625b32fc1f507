"""The benchmark's workloads: one closed-loop pass each, and the checks
of what the pass wrote.

``stream_replay`` drains the tick backlog through stage 2 and then
stage 3 of ``streaming/pipeline.py``; ``batch_reference`` builds six
registry queries and writes each result.  Both only call the engine's
public functions.  The checks run outside the timed region and use
DuckDB, so they cost no Spark time.
"""

from __future__ import annotations

import glob
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TICK_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("price", DoubleType()),
        StructField("event_time", TimestampType()),
        StructField("created_at", TimestampType()),
    ]
)
# Stage-2 flat output (operators/moving_stats.moving_stats_flat).
STATS_SCHEMA = StructType(
    [
        StructField("timestamp", TimestampType()),
        StructField("symbol", StringType()),
        StructField("window", StringType()),
        StructField("avg_value", DoubleType()),
        StructField("std_value", DoubleType()),
    ]
)

# The batch twin of the pipeline: prefix-sum and window-Expand stats,
# both z-score joins, nested JSON, and the stateful first crossing.
BATCH_REFERENCE = (
    "moving_stats_flat",
    "moving_stats_long_windows",
    "moving_stats_nested_json",
    "zscore_grid_join",
    "zscore_asof_join",
    "first_crossing_higher",
)


@dataclass
class PassResult:
    wall_s: float = 0.0
    steps_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    # Operations (stages or queries) that raised.
    errors: set[str] = field(default_factory=set)
    # stream_replay: data micro-batch times per stage.
    batches_ms: dict[str, list[float]] = field(default_factory=dict)


def _report(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc()


# -- stream_replay ---------------------------------------------------------


def _topic_writer(out_dir: str, writes: dict):
    """foreachBatch sink standing in for a Kafka topic: each micro-batch
    lands as parquet under ``batch_id=<id>``, overwritten on replay."""

    def write(batch_df, batch_id: int) -> None:
        t0 = time.time()
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        writes[batch_id] = (t0, time.time())

    return write


def _drain(build, out_dir, ckpt, mode, tracer, stage, parent):
    """Build one stage and run it to the end of its input; return the
    query and the wall time from build to termination."""
    writes: dict[int, tuple[float, float]] = {}
    tracer.begin_query()
    with tracer.span(stage, parent) as sid:
        t0 = time.time()
        with tracer.span("build", sid):
            df = build()
        q = (
            df.writeStream.foreachBatch(_topic_writer(out_dir, writes))
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
    tracer.end_stream(stage, sid, q, writes)
    return q, wall


def stream_pass(spark, ticks_dir: str, out: str, files: int, tracer, parent) -> PassResult:
    from lab04_spark_streaming_spark.streaming.pipeline import (
        stage2_moving_stats,
        stage3_zscore,
    )
    from lab04_spark_streaming_spark.streaming.sources import file_stream

    # A fed stream carries data in every trigger, so Spark never runs a
    # no-data batch; a finite backlog would end each drain with one.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    res = PassResult(attempted=2 * files)
    stages = (
        (
            "stage2",
            lambda: stage2_moving_stats(
                file_stream(spark, ticks_dir, TICK_SCHEMA, max_files_per_trigger=1),
                nested=False,
            ),
            "update",
        ),
        (
            "stage3",
            lambda: stage3_zscore(
                file_stream(spark, ticks_dir, TICK_SCHEMA, max_files_per_trigger=1),
                file_stream(spark, f"{out}/stage2", STATS_SCHEMA),
                nested=False,
            ),
            "append",
        ),
    )
    for stage, build, mode in stages:
        t0 = time.time()
        try:
            q, wall = _drain(build, f"{out}/{stage}", f"{out}/ckpt-{stage}",
                             mode, tracer, stage, parent)
        except Exception:
            _report(stage)
            res.errors.add(stage)
            res.wall_s += time.time() - t0
            continue
        res.wall_s += wall
        res.batches_ms[stage] = [
            float(p.durationMs["triggerExecution"])
            for p in q.recentProgress
            if p.numInputRows > 0
        ]
        res.steps_ms += res.batches_ms[stage]
    return res


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _columns(con, sql: str) -> list[str]:
    return sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)


def _compare(con, got_sql: str, want_sql: str) -> str | None:
    """None when both queries return the same columns and the same
    multiset of rows, else a one-line description of the difference.

    The rows are compared inside DuckDB with ``EXCEPT ALL``: values must
    be equal exactly, NaN equals NaN and -0.0 equals 0.0, as in the
    tests' oracle harness, whose stringified multisets would cost a
    run seconds of Python on the 180 000 rows of a pass."""
    gcols, wcols = _columns(con, got_sql), _columns(con, want_sql)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    cols = ", ".join(f'"{c}"' for c in gcols)
    n, extra, missing, example = con.execute(
        f"""WITH got AS MATERIALIZED (SELECT {cols} FROM ({got_sql})),
                 want AS MATERIALIZED (SELECT {cols} FROM ({want_sql})),
                 extra AS MATERIALIZED (SELECT * FROM got EXCEPT ALL SELECT * FROM want),
                 missing AS MATERIALIZED (SELECT * FROM want EXCEPT ALL SELECT * FROM got)
            SELECT (SELECT count(*) FROM want), (SELECT count(*) FROM extra),
                   (SELECT count(*) FROM missing),
                   (SELECT first(e::VARCHAR) FROM (SELECT * FROM extra
                                                  UNION ALL SELECT * FROM missing) e)"""
    ).fetchone()
    if extra or missing:
        return f"{extra} unexpected and {missing} missing rows of {n}; e.g. {example}"
    return None if n else "no rows"


def _compare_stats(con, got_sql: str, want_sql: str, join: str) -> str | None:
    """Like :func:`_compare` for moving statistics, keyed by (window
    end, symbol, window); ``join`` is FULL (same keys) or LEFT (every
    row of ``got`` has its key in ``want``).  ``avg_value`` must match
    exactly.  The variance must match within 16 ulp of avg**2: at BTC
    prices the sum of squares exceeds 2**53 and DuckDB's decimal-to-double
    casts round it differently from Spark's, and the variance is that sum
    minus a nearly equal term, so its last bits differ between engines."""
    n, missing, avg, var = con.execute(
        f"""WITH got AS ({got_sql}), want AS ({want_sql})
            SELECT count(*),
                   count(*) FILTER (g.avg_value IS NULL OR w.avg_value IS NULL),
                   count(*) FILTER (g.avg_value <> w.avg_value),
                   count(*) FILTER (abs(g.std_value * g.std_value
                                        - w.std_value * w.std_value)
                                    > 16 * w.avg_value * w.avg_value * pow(2, -52))
            FROM got g {join} JOIN want w
              USING ("timestamp", symbol, "window")"""
    ).fetchone()
    if missing or avg or var:
        return (f"of {n} keys, {missing} missing on one side, {avg} with "
                f"another avg_value, {var} with another std_value")
    return None if n else "no rows"


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def check_stream(ticks_dir: str, out: str) -> dict[str, str | None]:
    """Compare each stage's output with its batch twin over the same
    ticks, computed in DuckDB by the registry's own oracle SQL for the
    moving statistics:

    * stage 2: every update emitted in micro-batch ``b`` must equal the
      statistics of the ticks in files ``0..b`` (one file per trigger),
      and the last update per (window end, symbol, window) those of all
      ticks, with no key missing;
    * stage 3: the z-score rows must equal ``zscore_exact_grid`` of the
      ticks joined with every stats row stage 2 actually emitted.
    """
    from lab04_spark_streaming_spark.plans.reference_parity import (
        WINDOWS_ALL,
        stats_cte,
    )

    files = sorted(glob.glob(f"{ticks_dir}/*.parquet"))
    topic = _parquet(out + "/stage2")
    want = f"""WITH {stats_cte(WINDOWS_ALL)}
               SELECT "timestamp", event_type AS symbol, "window",
                      avg_value, std_value FROM stats"""
    con = _duck()
    result: dict[str, str | None] = {}
    try:
        problems = []
        for b in range(len(files)):
            con.execute(
                "CREATE OR REPLACE VIEW events AS SELECT symbol AS event_type, "
                f"price AS value, event_time AS ts FROM read_parquet({files[:b + 1]})"
            )
            got = f"""SELECT "timestamp", symbol, "window", avg_value, std_value
                      FROM {topic} WHERE batch_id = {b}"""
            problems.append(_compare_stats(con, got, want, "LEFT"))
        problems.append(_compare_stats(
            con,
            f"""SELECT "timestamp", symbol, "window",
                       arg_max(avg_value, batch_id) AS avg_value,
                       arg_max(std_value, batch_id) AS std_value
                FROM {topic} GROUP BY ALL""",
            want,
            "FULL OUTER",
        ))
        result["stage2"] = next((p for p in problems if p), None)
    except duckdb.Error as e:
        result["stage2"] = f"{type(e).__name__}: {e}"
    try:
        result["stage3"] = _compare(
            con,
            f"""SELECT "timestamp", symbol, "window", zscore_value
                FROM {_parquet(out + '/stage3')}""",
            f"""SELECT s."timestamp", t.symbol, s."window",
                   CASE WHEN s.std_value IS NULL OR isnan(s.std_value)
                             OR s.std_value = 0.0 THEN 0.0
                        ELSE (t.price - s.avg_value) / s.std_value END
                   AS zscore_value
                FROM read_parquet('{ticks_dir}/*.parquet') t
                JOIN {_parquet(out + '/stage2')} s
                  ON t.event_time = s."timestamp" AND t.symbol = s.symbol""",
        )
    except duckdb.Error as e:
        result["stage3"] = f"{type(e).__name__}: {e}"
    con.close()
    return result


# -- batch_reference -------------------------------------------------------


def batch_pass(spark, sf_dir: str, out: str, tracer, parent) -> PassResult:
    """Build each query through ``registry.queries()`` and write its
    result as parquet, which evaluates every output column."""
    from lab04_spark_streaming_spark.registry import queries

    sc = spark.sparkContext
    registry = queries()
    res = PassResult(attempted=len(BATCH_REFERENCE))
    for name in BATCH_REFERENCE:
        tracer.begin_query()
        t0 = time.time()
        try:
            with tracer.span(name, parent) as qid:
                sc.setJobGroup(f"{name}:build", name)
                with tracer.span("build", qid):
                    df = registry[name](spark, sf_dir)
                sc.setJobGroup(f"{name}:run", name)
                tw0 = time.time()
                df.write.mode("overwrite").parquet(f"{out}/{name}")
                tw1 = time.time()
        except Exception:
            _report(name)
            res.errors.add(name)
            res.wall_s += time.time() - t0
            continue
        res.steps_ms.append((tw1 - t0) * 1000)
        res.wall_s += tw1 - t0
        tracer.end_query(name, qid, df, tw0, tw1)
    return res


def check_batch(sf_dir: str, out: str) -> dict[str, str | None]:
    """Compare each written result with its registry DuckDB oracle over
    the same input files."""
    from lab04_spark_streaming_spark.registry import oracle_sql

    oracles = oracle_sql()
    con = _duck()
    # The six queries read only ``events``, the one table a run generates
    # (the harness's duckdb_connection needs every star table).
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    result: dict[str, str | None] = {}
    for name in BATCH_REFERENCE:
        if not glob.glob(f"{out}/{name}/*.parquet"):
            result[name] = "no output"
            continue
        try:
            result[name] = _compare(
                con, f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')",
                oracles[name],
            )
        except duckdb.Error as e:
            result[name] = f"{type(e).__name__}: {e}"
    con.close()
    return result
