"""The benchmark's own tests: a tiny run of each workload, traced and
untraced, must print every metric BENCHMARK.json names with its unit
and pass its checks; a corrupted output must count as a failure.

    python3 -m pytest perfbench/tests -q        # about six minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, REPO)

import run  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("stream_replay", "batch_reference")
LINES = {
    "stream_replay": ("stream_ticks_per_s", "stage2_batch_ms_p50", "stage3_batch_ms_p50"),
    "batch_reference": ("batch_total_s", "query_geomean_s"),
}


def _spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def tiny_runs(tmp_path_factory):
    """Tiny runs, keyed by (workload, trace): (cwd, stdout lines)."""
    runs = {}
    for workload in WORKLOADS:
        for trace in (0, 1):
            cwd = tmp_path_factory.mktemp(f"{workload}-{trace}")
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"),
                 "--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--scale", "tiny"],
                cwd=cwd, capture_output=True, text=True, timeout=400,
            )
            assert p.returncode == 0, p.stderr[-3000:]
            runs[workload, trace] = (str(cwd), p.stdout.strip().splitlines())
    return runs


def test_benchmark_json_lists_the_metrics_run_reports():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_tiny_run_reports_every_metric(tiny_runs, workload, trace):
    spec = _spec()
    _, lines = tiny_runs[workload, trace]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"]
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    printed = {line.split()[1] for line in lines[:-1] if line.startswith(workload)}
    assert {"setup_s", "peak_rss_mb", "failed_share", *LINES[workload]} <= printed


def test_traced_run_reconciles_and_writes_spans(tiny_runs):
    for workload in WORKLOADS:
        cwd, lines = tiny_runs[workload, 1]
        metrics = json.loads(lines[-1])["metrics"]
        assert metrics["trace.overhead_ms"]["value"] > 0
        with open(os.path.join(cwd, ".perfbench", "traces", f"{workload}-seed3.json")) as f:
            spans = json.load(f)
        ids = {s["id"] for s in spans}
        assert spans[0]["name"] == workload and spans[0]["parent"] is None
        assert all(s["parent"] in ids for s in spans[1:])
        assert all(s["end"] >= s["start"] for s in spans)
        shares = [(s.get("stage"), s["unattributed_share"])
                  for s in spans if "unattributed_share" in s]
        assert max(v for _, v in shares) == pytest.approx(
            metrics["trace.unattributed_share"]["value"], abs=1e-4)
        # Every query, and every stage-3 trigger, reconciles; a stage-2
        # trigger does not (see the README's Reconciliation).
        assert all(v <= 0.10 for stage, v in shares if stage != "stage2")
    stream = json.loads(tiny_runs["stream_replay", 1][1][-1])["metrics"]
    # Stage 2 scans its source once per window today.
    assert stream["sources.rows_per_tick"]["value"] == 6
    assert stream["state.stage2.operators"]["value"] == 6
    assert stream["streaming.stage2.batches"]["value"] == run.SCALES["tiny"].tick_files


def test_unmeasured_work_shows_as_unattributed(tmp_path, monkeypatch):
    """Work inside a trigger that no Spark counter times (a sleep in the
    foreachBatch function, before its write) must show as unattributed,
    not be absorbed by a layer."""
    import ticks
    import tracing
    from lab04_spark_streaming_spark.streaming.sources import file_stream

    for k in ("SPARK_LOCAL_DIRS", "TMPDIR", "SPARK_GRAFT_DRIVER_JAVA_OPTS",
              "SPARK_LAUNCHER_OPTS"):
        monkeypatch.setenv(k, os.environ.get(k, ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    ticks_dir, out = str(tmp_path / "ticks"), str(tmp_path / "out")
    ticks.write_ticks(ticks_dir, seed=3, files=1, symbols=2)
    topic_writer = workloads._topic_writer

    def slow_topic_writer(out_dir, writes):
        write = topic_writer(out_dir, writes)

        def slow(batch_df, batch_id):
            time.sleep(2)
            write(batch_df, batch_id)

        return slow

    monkeypatch.setattr(workloads, "_topic_writer", slow_topic_writer)
    engine = run.Engine(str(tmp_path / "work"))
    try:
        spark = engine.start()
        tracer = tracing.Tracer(spark)
        workloads._drain(
            lambda: file_stream(spark, ticks_dir, workloads.TICK_SCHEMA),
            out, str(tmp_path / "ckpt"), "append", tracer, "stage3", None,
        )
    finally:
        engine.stop()
    (trigger,) = [s for s in tracer.spans if s["name"] == "trigger"]
    assert trigger["unattributed_ms"] >= 2000
    assert trigger["unattributed_share"] > 0.10


def _corrupt(path: str, column: str) -> None:
    """Rewrite one parquet file with ``column`` shifted by 1 in every row."""
    f = sorted(
        os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns
        if n.endswith(".parquet") and pq.read_metadata(os.path.join(d, n)).num_rows
    )[0]
    t = pq.read_table(f, partitioning=None)
    i = t.schema.get_field_index(column)
    pq.write_table(t.set_column(i, column, pc.add(t[column], 1.0)), f)


@pytest.mark.parametrize(
    "workload,target,column",
    [
        ("stream_replay", "stage2", "avg_value"),
        ("stream_replay", "stage3", "zscore_value"),
        ("batch_reference", "zscore_asof_join", "zscore_value"),
    ],
)
def test_corrupted_output_counts_as_failed(tiny_runs, tmp_path, workload, target, column):
    cwd, _ = tiny_runs[workload, 0]
    work = os.path.join(cwd, ".perfbench", workload)
    out = str(tmp_path / "pass0")
    shutil.copytree(os.path.join(work, "pass0"), out)
    data = os.path.join(work, "data")
    scale = run.SCALES["tiny"]
    attempted = 2 * scale.tick_files if workload == "stream_replay" else len(
        workloads.BATCH_REFERENCE)
    ok = workloads.PassResult(attempted=attempted)
    assert run.check(workload, data, [(out, ok)], scale) == (attempted, 0)
    _corrupt(os.path.join(out, target), column)
    _, failed = run.check(workload, data, [(out, ok)], scale)
    assert failed >= 1
