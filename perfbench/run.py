"""Benchmark of the engine: the reference streaming pipeline and its
batch twin, end to end and layer by layer.

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client; see perfbench/README.md):

* ``stream_replay``: a seeded tick backlog drained through stage 2
  (moving statistics, update mode) into a parquet topic, then stage 3
  (stream-stream z-score join, append mode).
* ``batch_reference``: six registry queries over a seeded ``events``
  table, each result written as parquet.

A run sets up once from cold (input generation in a separate process,
JVM launch and session start, one warm-up scan), then runs whole passes
until ``--seconds`` have passed (at least one), and checks every pass's
output against a DuckDB twin outside the timed region.  It prints one
line per metric and, last, one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run, whose spans go to ``.perfbench/traces/``.  Everything is
written under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

# The engine under test; without it the benchmark fails here, before
# any work starts.
from lab04_spark_streaming_spark.session import get_spark  # noqa: E402

import tracing  # noqa: E402
import workloads  # noqa: E402

@dataclass(frozen=True)
class Scale:
    tick_files: int
    symbols: int
    events: int


# ``tiny`` exists for the benchmark's own tests.
SCALES = {
    "full": Scale(tick_files=1, symbols=16, events=2000),
    "tiny": Scale(tick_files=2, symbols=2, events=1000),
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "step_geomean_ms": "ms"}

STAGES = ("stage2", "stage3")
PER_LAYER = (
    ["session.get_spark_s", "session.warmup_s",
     "sources.rows_per_tick", "sources.scan_rows", "sources.scan_bytes",
     "plans.build_ms", "plans.build_jobs", "plans.build_tasks",
     "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
     "operators.exec_ms", "operators.jobs", "operators.stages", "operators.tasks",
     "operators.executor_run_ms", "operators.executor_cpu_ms",
     "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
     "operators.task_skew", "operators.codegen_compiles",
     "operators.codegen_compile_ms", "operators.gc_ms", "operators.spill_bytes"]
    + [f"streaming.{s}.{m}" for s in STAGES for m in (
        "latestOffset_ms", "getBatch_ms", "queryPlanning_ms", "addBatch_ms",
        "walCommit_ms", "commitOffsets_ms", "batches", "input_rows", "output_rows")]
    + [f"state.{s}.{m}" for s in STAGES for m in (
        "commit_ms", "updates_ms", "removals_ms", "store_instances", "operators",
        "rows_total", "memory_bytes", "rows_dropped_by_watermark")]
    + ["sink.write_ms", "sink.rows", "trace.overhead_ms", "trace.unattributed_share"]
)


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"),
                         ("_share", "ratio"), ("_skew", "ratio"),
                         ("rows_per_tick", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 20:
        return None
    pct = math.floor(100 * (1 - 10 / n))
    return pct, statistics.quantiles(samples, n=100)[pct - 1]


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class Engine:
    """The Spark session under test and the JVM behind it."""

    def __init__(self, work: str):
        self.work = work
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        # Keep every file Spark, the JVM and Python write in the work dir.
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
        jvm_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = jvm_opts
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
        self.spark = None

    def start(self):
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the driver JVM")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def _generate(workload: str, seed: int, data: str, scale: Scale) -> None:
    if workload == "stream_replay":
        cmd = ["ticks.py", "--files", str(scale.tick_files),
               "--symbols", str(scale.symbols)]
    else:
        cmd = ["events.py", "--rows", str(scale.events)]
    subprocess.run(
        [sys.executable, os.path.join(HERE, cmd[0]), "--seed", str(seed),
         "--out", data, *cmd[1:]],
        check=True, stdout=subprocess.DEVNULL, timeout=120,
    )


def _warm_up(spark, workload: str, data: str) -> None:
    if workload == "stream_replay":
        spark.read.schema(workloads.TICK_SCHEMA).parquet(data).count()
    else:
        from lab04_spark_streaming_spark.sources.files import load_table

        load_table(spark, data, "events").count()


def setup(engine: Engine, workload: str, seed: int, data: str, scale: Scale):
    """The cold set-up a user of the engine waits for: generate the
    inputs, launch the JVM and start the session, scan the inputs once.
    Returns (total, session start, warm-up scan) in seconds."""
    t0 = time.time()
    _generate(workload, seed, data, scale)
    t1 = time.time()
    spark = engine.start()
    t2 = time.time()
    _warm_up(spark, workload, data)
    t3 = time.time()
    return t3 - t0, t2 - t1, t3 - t2


def check(workload: str, data: str, passes, scale: Scale) -> tuple[int, int]:
    """(operations attempted, operations failed) over all passes.  An
    operation fails when it raised or its output differs from the twin;
    for ``stream_replay`` a stage's operations are its micro-batches,
    one per tick file."""
    attempted = failed = 0
    for out, res in passes:
        if workload == "stream_replay":
            checks = workloads.check_stream(data, out)
            per_op = scale.tick_files
        else:
            checks = workloads.check_batch(data, out)
            per_op = 1
        for k, v in checks.items():
            if v:
                print(f"perfbench: check of {k} failed: {v}", file=sys.stderr)
        bad = res.errors | {k for k, v in checks.items() if v}
        failed += per_op * len(bad)
        attempted += res.attempted
    return attempted, failed


def run(workload: str, seed: int, seconds: float, trace: bool, scale: Scale) -> dict:
    root = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(root, workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    engine = Engine(work)
    try:
        set_up = setup(engine, workload, seed, data, scale)
        spark = engine.spark
        tracer = tracing.Tracer(spark) if trace else tracing.NullTracer()
        passes = []
        t_start = time.time()
        with tracer.span(workload, seed=seed) as wid:
            while not passes or time.time() - t_start < seconds:
                out = os.path.join(work, f"pass{len(passes)}")
                with tracer.span("pass", wid) as pid:
                    if workload == "stream_replay":
                        res = workloads.stream_pass(
                            spark, data, out, scale.tick_files, tracer, pid)
                    else:
                        res = workloads.batch_pass(spark, data, out, tracer, pid)
                passes.append((out, res))
        rss = engine.peak_rss_mb()
    finally:
        engine.stop()

    attempted, failed = check(workload, data, passes, scale)
    results = [r for _, r in passes]
    steps = [r for r in results if r.steps_ms]
    if not steps:
        raise RuntimeError(f"{workload}: every operation failed")
    e2e = {
        "setup_s": set_up[0],
        "pass_s": statistics.median(r.wall_s for r in results),
        "step_geomean_ms": statistics.median(_geomean(r.steps_ms) for r in steps),
    }
    _print_lines(workload, e2e, rss, results, attempted, failed, scale)
    if trace:
        metrics = _per_layer(tracer, passes, set_up, workload, data)
        os.makedirs(os.path.join(root, "traces"), exist_ok=True)
        tracer.write(os.path.join(root, "traces", f"{workload}-seed{seed}.json"))
        units = {k: _unit(k) for k in metrics}
    else:
        metrics, units = e2e, END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _print_lines(workload, e2e, rss, results, attempted, failed, scale) -> None:
    """The end-to-end metrics by the names users know them, with units
    and sample counts.  ``peak_rss_mb`` is printed but not in the JSON
    result: the JVM's heap growth makes it spread by a quarter and more
    between identical runs."""
    n = len(results)

    def line(name, value, unit, count):
        print(f"{workload} {name} = {value:.6g} {unit} (n={count})")

    line("setup_s", e2e["setup_s"], "s", "1 cold set-up")
    line("peak_rss_mb", rss, "MiB", "1 run")
    line("failed_share", failed / max(attempted, 1), "ratio", f"{attempted} operations")
    if workload == "stream_replay":
        ticks = scale.tick_files * scale.symbols * 50
        line("stream_ticks_per_s", ticks / e2e["pass_s"], "ticks/s", f"{n} passes")
        for stage in STAGES:
            xs = [x for r in results for x in r.batches_ms.get(stage, [])]
            if not xs:
                continue
            line(f"{stage}_batch_ms_p50", statistics.median(xs), "ms", f"{len(xs)} batches")
            tail = _tail(xs)
            if tail:
                line(f"{stage}_batch_ms_p{tail[0]}", tail[1], "ms", f"{len(xs)} batches")
    else:
        line("batch_total_s", e2e["pass_s"], "s", f"{n} passes")
        line("query_geomean_s", e2e["step_geomean_ms"] / 1000, "s", f"{n} passes")


def _per_layer(tracer, passes, set_up, workload, data) -> dict[str, float]:
    n = len(passes)
    m = {k: 0.0 for k in PER_LAYER}
    for k, v in tracer.sums.items():
        # Per-batch medians and end-of-run state are not summed over passes.
        per_batch = k.startswith("state.") or (
            k.startswith("streaming.") and k.endswith("_ms"))
        m[k] = v if per_batch else v / n
    m["session.get_spark_s"], m["session.warmup_s"] = set_up[1:]
    m["operators.task_skew"] = max(tracer.skews, default=0.0)
    if workload == "stream_replay":
        for stage in STAGES:
            m[f"streaming.{stage}.output_rows"] = sum(
                _parquet_rows(os.path.join(out, stage)) for out, _ in passes) / n
        m["sink.rows"] = sum(m[f"streaming.{s}.output_rows"] for s in STAGES)
        m["sources.rows_per_tick"] = (
            m["streaming.stage2.input_rows"] / _parquet_rows(data))
    else:
        m["sink.rows"] = sum(_parquet_rows(out) for out, _ in passes) / n
        m["sources.rows_per_tick"] = m["sources.scan_rows"] / _parquet_rows(data)
    m["trace.overhead_ms"] = tracer.overhead_s * 1000 / n
    m["trace.unattributed_share"] = max(tracer.unattributed, default=0.0)
    return m


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("stream_replay", "batch_reference"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    a = p.parse_args(argv)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), SCALES[a.scale])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
