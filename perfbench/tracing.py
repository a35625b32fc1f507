"""Spans and per-layer counters for a traced benchmark run.

A traced run executes the same work as an untraced one.  Around each
call into a layer it records a span (name, start, end, parent) in
memory, and afterwards it reads the counters Spark already keeps:

* job groups ``<query>:build`` / ``<query>:run`` (streaming queries use
  their run id, which Spark sets as the group) with ``statusTracker``
  and the in-process status store, which works with the UI disabled;
* the ``QueryPlanningTracker`` phases and the job commit time of each
  executed command, through a ``QueryExecutionListener``, and the
  trigger phases of ``StreamingQueryProgress``;
* Spark's ``CodegenMetrics``.

Reconciliation: each query's and each trigger's wall time is set
against the layer times measured on their own (the build call, Catalyst
phases, first job submitted to last job done, the write's job commit,
and a trigger's phases other than ``addBatch``, which only wraps the
write).  What they leave uncovered is recorded on the span as
``unattributed_ms``; nothing is attributed by difference.

Spans are written to a JSON file when the run ends.  Time spent reading
counters is summed as ``trace.overhead_ms``.  :class:`NullTracer` is the
untraced stand-in: same interface, records nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def _ms(t_s: float) -> float:
    return t_s * 1000.0


class NullTracer:
    """Tracing off: the workloads call the same hooks, which do nothing."""

    @contextmanager
    def span(self, name, parent=None, **attrs):
        yield None

    def begin_query(self):
        pass

    def end_query(self, *args):
        pass

    def end_stream(self, *args):
        pass


class _PhaseListener:
    """``QueryExecutionListener`` implemented over the py4j callback
    server: keeps the planning phases and the job commit time of every
    executed command."""

    def __init__(self):
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.events.append({"phases": _phases(qe), "commit_ms": _commit_ms(qe)})

    def onFailure(self, func_name, qe, exception):
        self.events.append({"phases": _phases(qe), "commit_ms": 0})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, tuple[int, int]]:
    ph = qe.tracker().phases()
    return {
        k: (ph.apply(k).startTimeMs(), ph.apply(k).endTimeMs())
        for k in ("analysis", "optimization", "planning")
        if ph.contains(k)
    }


def _commit_ms(qe) -> int:
    """The job commit time a file write reports (Spark's
    ``BasicWriteJobStatsTracker``); 0 for other commands."""
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # its final plan, under a result stage
        if plan.nodeName() == "ResultQueryStage":
            plan = plan.plan()
    m = plan.metrics()
    return m.apply("jobCommitTime").value() if m.contains("jobCommitTime") else 0


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.skews: list[float] = []
        self.overhead_s = 0.0
        self.unattributed: list[float] = []
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name, parent=None, **attrs):
        s = {"id": len(self.spans), "name": name, "parent": parent,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        try:
            yield s["id"]
        finally:
            s["end"] = time.time()

    def _add_span(self, name, parent, start, end, **attrs):
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- counters Spark keeps -------------------------------------------
    def _drain_bus(self):
        self.jsc.listenerBus().waitUntilEmpty()

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, estimated compile ms so far).  Spark counts
        only compilations that succeed."""
        h = self._codegen.METRIC_COMPILATION_TIME()
        return h.getCount(), h.getCount() * h.getSnapshot().getMean()

    def _stage_rows(self, group: str, since: float):
        """(submit, complete) ms of the group's jobs submitted after
        ``since`` (a job group outlives one pass), and their stages."""
        store = self.jsc.statusStore()
        stage_ids = set()
        jobs = []
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(j)
            sub = _opt_ms(jd.submissionTime())
            if sub is None or sub < since * 1000 - 1:
                continue
            sids = jd.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
            jobs.append((sub, _opt_ms(jd.completionTime())))
        stages = []
        sl = store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.stageId() in stage_ids and s.status().toString() != "SKIPPED":
                stages.append(s)
        return jobs, stages

    def _add_operators(self, jobs, stages) -> None:
        """Sum job and stage counters into the ``operators`` and
        ``sources`` layers; keep the task skew of the longest stage."""
        self.sums["operators.jobs"] += len(jobs)
        self.sums["operators.stages"] += len(stages)
        longest = None
        for s in stages:
            self.sums["operators.tasks"] += s.numTasks()
            self.sums["operators.executor_run_ms"] += s.executorRunTime()
            self.sums["operators.executor_cpu_ms"] += s.executorCpuTime() / 1e6
            self.sums["operators.shuffle_write_bytes"] += s.shuffleWriteBytes()
            self.sums["operators.shuffle_read_bytes"] += s.shuffleReadBytes()
            self.sums["operators.gc_ms"] += s.jvmGcTime()
            self.sums["operators.spill_bytes"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            )
            self.sums["sources.scan_rows"] += s.inputRecords()
            self.sums["sources.scan_bytes"] += s.inputBytes()
            if longest is None or s.executorRunTime() > longest.executorRunTime():
                longest = s
        if longest is not None:
            tl = self.jsc.statusStore().taskList(
                longest.stageId(), longest.attemptId(), longest.numTasks()
            )
            durs = [
                tl.apply(i).duration().get()
                for i in range(tl.size())
                if tl.apply(i).duration().isDefined()
            ]
            if durs and statistics.median(durs) > 0:
                self.skews.append(max(durs) / statistics.median(durs))

    # -- reconciliation --------------------------------------------------
    def _write(self, parent, lo_s: float, hi_s: float, jobs) -> float:
        """Attribute one write call, from ``lo_s`` to ``hi_s``, to the
        layers Spark measures on its own: Catalyst phases of the write
        command (its ``QueryPlanningTracker``), execution (first job
        submitted to last job done, from the status store) and the sink's
        job commit (the write's ``jobCommitTime``).  Adds their spans
        under ``parent``, sums them, and returns the seconds they cover.
        Driver work none of them measures is left out, so it shows as
        unattributed."""
        lo_ms, hi_ms = lo_s * 1000 - 1, hi_s * 1000 + 1
        plan_ms = commit_ms = 0
        first = last = None
        for ev in self._listener.events:
            ph = ev["phases"]
            if not ph or not all(lo_ms <= a <= b <= hi_ms for a, b in ph.values()):
                continue
            for k, (a, b) in ph.items():
                self.sums[f"catalyst.{k}_ms"] += b - a
                plan_ms += b - a
                first = a if first is None else min(first, a)
                last = b if last is None else max(last, b)
            commit_ms += ev["commit_ms"]
        if first is not None:
            self._add_span("plan", parent, first / 1000, last / 1000)
        done = [(a / 1000, b / 1000) for a, b in jobs
                if a is not None and b is not None and lo_ms <= a <= hi_ms]
        exec_s = 0.0
        if done:
            j0, j1 = min(a for a, _ in done), max(b for _, b in done)
            exec_s = j1 - j0
            self._add_span("execute", parent, j0, j1, jobs=len(done))
            self._add_span("sink", parent, j1, j1 + commit_ms / 1000)
        self.sums["operators.exec_ms"] += _ms(exec_s)
        self.sums["sink.write_ms"] += commit_ms
        return plan_ms / 1000 + exec_s + commit_ms / 1000

    def _reconcile(self, span: dict, wall_s: float, covered_s: float) -> None:
        """Record the share of ``wall_s`` that no measured layer covers."""
        share = abs(wall_s - covered_s) / wall_s if wall_s > 0 else 0.0
        self.unattributed.append(share)
        span["unattributed_ms"] = round(_ms(wall_s - covered_s), 3)
        span["unattributed_share"] = round(share, 4)

    # -- batch queries ---------------------------------------------------
    def begin_query(self) -> None:
        """Start a batch query or a streaming stage."""
        t0 = time.time()
        self._drain_bus()
        self._listener.events.clear()
        self._cg0 = self.codegen()
        self.overhead_s += time.time() - t0

    def end_query(self, name, qspan, df, t_write0: float, t_write1: float) -> None:
        """Attribute one query's wall time to build, plan, execute and
        sink, and sum its counters."""
        t0 = time.time()
        self._drain_bus()
        q = self.spans[qspan]
        build = next(s for s in self.spans if s["parent"] == qspan and s["name"] == "build")
        build_s = build["end"] - build["start"]
        self.sums["plans.build_ms"] += _ms(build_s)

        bjobs, bstages = self._stage_rows(f"{name}:build", q["start"])
        self.sums["plans.build_jobs"] += len(bjobs)
        self.sums["plans.build_tasks"] += sum(s.numTasks() for s in bstages)

        # Analysis is eager: it ran inside build, on the DataFrame's own
        # QueryExecution, so it counts for Catalyst but is covered by build.
        ana = _phases(df._jdf.queryExecution()).get("analysis", (0, 0))
        self.sums["catalyst.analysis_ms"] += ana[1] - ana[0]

        rjobs, rstages = self._stage_rows(f"{name}:run", q["start"])
        self._add_operators(rjobs, rstages)
        covered = build_s + self._write(qspan, t_write0, t_write1, rjobs)
        self._reconcile(q, q["end"] - q["start"], covered)
        cg = self.codegen()
        self.sums["operators.codegen_compiles"] += cg[0] - self._cg0[0]
        self.sums["operators.codegen_compile_ms"] += cg[1] - self._cg0[1]
        self.overhead_s += time.time() - t0

    # -- streaming -------------------------------------------------------
    def end_stream(self, stage: str, qspan, query, writes) -> None:
        """Attribute one drained streaming query: one span per trigger
        with its progress phases, operator counters of the query's jobs
        (Spark tags them with the run id) and state-store counters.
        ``writes`` maps batch id -> (start, end) of the foreachBatch
        write.  A trigger's ``addBatch`` phase is not counted as covered:
        inside it only the write's Catalyst phases, jobs and commit are."""
        t0 = time.time()
        self._drain_bus()
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        jobs, stages = self._stage_rows(str(query.runId), self.spans[qspan]["start"])
        self._add_operators(jobs, stages)
        pre = f"streaming.{stage}"
        phases = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets")
        per_batch = defaultdict(list)
        for p in progress:
            d = p.durationMs
            total = d.get("triggerExecution", 0)
            start = self._iso(p.timestamp)
            tid = len(self.spans)
            self._add_span("trigger", qspan, start, start + total / 1000,
                           batch=p.batchId, stage=stage)
            at, covered = start, 0.0
            for ph in phases:
                if ph in d:
                    sid = len(self.spans)
                    self._add_span(ph, tid, at, at + d[ph] / 1000)
                    at += d[ph] / 1000
                    per_batch[ph].append(d[ph])
                    if ph != "addBatch":
                        covered += d[ph] / 1000
                    elif p.batchId in writes:
                        covered += self._write(sid, *writes[p.batchId], jobs)
            self._reconcile(self.spans[tid], total / 1000, covered)
            ops = p.stateOperators
            for key, attr in (("commit_ms", "commitTimeMs"),
                              ("updates_ms", "allUpdatesTimeMs"),
                              ("removals_ms", "allRemovalsTimeMs")):
                per_batch[f"state.{key}"].append(sum(getattr(o, attr) for o in ops))
            per_batch["state.dropped"].append(
                sum(o.numRowsDroppedByWatermark for o in ops)
            )
        for ph in phases:
            if per_batch[ph]:
                self.sums[f"{pre}.{ph}_ms"] = statistics.median(per_batch[ph])
        for key in ("commit_ms", "updates_ms", "removals_ms"):
            vals = per_batch[f"state.{key}"]
            if vals:
                self.sums[f"state.{stage}.{key}"] = statistics.median(vals)
        self.sums[f"state.{stage}.rows_dropped_by_watermark"] = sum(
            per_batch["state.dropped"]
        )
        self.sums[f"{pre}.batches"] += len(progress)
        self.sums[f"{pre}.input_rows"] += sum(p.numInputRows for p in progress)
        if progress:
            last = progress[-1].stateOperators
            self.sums[f"state.{stage}.operators"] = len(last)
            self.sums[f"state.{stage}.store_instances"] = sum(
                o.numStateStoreInstances for o in last
            )
            self.sums[f"state.{stage}.rows_total"] = sum(o.numRowsTotal for o in last)
            self.sums[f"state.{stage}.memory_bytes"] = sum(
                o.memoryUsedBytes for o in last
            )
        cg = self.codegen()
        self.sums["operators.codegen_compiles"] += cg[0] - self._cg0[0]
        self.sums["operators.codegen_compile_ms"] += cg[1] - self._cg0[1]
        self.overhead_s += time.time() - t0

    @staticmethod
    def _iso(ts: str) -> float:
        import datetime as dt

        return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
