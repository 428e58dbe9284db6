"""Traced-run instrumentation: timing wrappers around public engine calls and
a fold of Spark's own event log into per-layer numbers.

Nothing here is active in an untraced run.  The traced run configures
``spark.eventLog.*`` (uncompressed, into the run's work directory) before
the JVM starts, and installs the wrappers below around the compiler and the
upsert store for the duration of the measured work.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def event_log_submit_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` value that turns on the event log."""
    os.makedirs(log_dir, exist_ok=True)
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        # one plain file per application (Spark 4 rolls into a directory)
        "--conf spark.eventLog.rolling.enabled=false "
        "pyspark-shell"
    )


class Spans:
    """Per-name call counts and summed wall seconds, kept in memory."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.calls[name] += 1
            self.seconds[name] += time.perf_counter() - t0


@contextmanager
def wrap_engine(spans: Spans):
    """Time ``PipelineCompiler`` construction and stage builds (the runner
    rebuilds the compiler every microbatch), ``UpsertSnapshot.upsert`` and
    ``StatementSetRunner.finalize``, by swapping the runner's references for
    timed subclasses and methods."""
    from confluent_data_ingestion_spark.plans.compiler import PipelineCompiler
    from confluent_data_ingestion_spark.streaming import runner
    from confluent_data_ingestion_spark.streaming.upsert import UpsertSnapshot

    class TimedCompiler(PipelineCompiler):
        def __init__(self, *a, **k):
            with spans.span("plans.compile"):
                super().__init__(*a, **k)

        def _builders(self):
            def timed(fn):
                def build(table, rows):
                    with spans.span("plans.build"):
                        return fn(table, rows)
                return build
            return {s: timed(fn) for s, fn in super()._builders().items()}

    orig_upsert = UpsertSnapshot.upsert
    orig_finalize = runner.StatementSetRunner.finalize

    def upsert(self, batch_df, batch_id=None):
        with spans.span("upsert"):
            return orig_upsert(self, batch_df, batch_id=batch_id)

    def finalize(self):
        with spans.span("finalize"):
            return orig_finalize(self)

    runner.PipelineCompiler = TimedCompiler
    UpsertSnapshot.upsert = upsert
    runner.StatementSetRunner.finalize = finalize
    try:
        yield
    finally:
        runner.PipelineCompiler = PipelineCompiler
        UpsertSnapshot.upsert = orig_upsert
        runner.StatementSetRunner.finalize = orig_finalize


# -- event-log fold ----------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
}


class EventLog:
    """Jobs, stages and SQL executions of one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "start": ev["Submission Time"],
                        "end": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "stages": 0,
                        "tasks": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = defaultdict(float)
                    for acc in info.get("Accumulables", []):
                        key = _STAGE_METRICS.get(acc.get("Name"))
                        if key:
                            st[key] += float(acc.get("Value") or 0)
                    st["tasks"] = info.get("Number of Tasks", 0)
                    st["job"] = stage_job.get(info["Stage ID"], -1)
                    self.stages[info["Stage ID"]] = st
                    job = self.jobs.get(st["job"])
                    if job is not None:
                        job["stages"] += 1
                        job["tasks"] += st["tasks"]
                elif kind == _SQL_START:
                    self.sql[ev["executionId"]] = {
                        "start": ev["time"], "end": ev["time"],
                        "plan": ev.get("physicalPlanDescription", ""),
                    }
                elif kind == _SQL_END:
                    if ev["executionId"] in self.sql:
                        self.sql[ev["executionId"]]["end"] = ev["time"]

    @staticmethod
    def latest(log_dir: str) -> "EventLog":
        paths = sorted(glob.glob(os.path.join(log_dir, "*")),
                       key=os.path.getmtime)
        if not paths:
            raise FileNotFoundError(f"no event log under {log_dir}")
        return EventLog(paths[-1])

    def jobs_between(self, t0_ms: float, t1_ms: float) -> dict[int, dict]:
        return {j: r for j, r in self.jobs.items() if t0_ms <= r["start"] <= t1_ms}

    def engine(self, jobs: dict[int, dict], wall_s: float, cores: int) -> dict:
        """Spark-engine totals over ``jobs`` for a region of ``wall_s``."""
        stages = [s for s in self.stages.values() if s["job"] in jobs]
        run_s = sum(s["run_ms"] for s in stages) / 1e3
        busy_s = union_seconds([(r["start"], r["end"]) for r in jobs.values()])
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": int(sum(s["tasks"] for s in stages)),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "spark.spill_bytes": sum(s["spill"] for s in stages),
            "spark.driver_s": max(wall_s - busy_s, 0.0),
            "spark.core_utilization": run_s / (wall_s * cores) if wall_s else 0.0,
        }

    def per_batch(self, t0_ms: float, t1_ms: float) -> dict[int, dict]:
        """Jobs of each streaming microbatch (``streaming.sql.batchId``) of
        the query that ran in the window."""
        out: dict[int, dict] = defaultdict(
            lambda: {"jobs": 0, "stages": 0, "tasks": 0, "spans": []})
        for r in self.jobs_between(t0_ms, t1_ms).values():
            if r["batch"] is None:
                continue
            b = out[int(r["batch"])]
            b["jobs"] += 1
            b["stages"] += r["stages"]
            b["tasks"] += r["tasks"]
            b["spans"].append((r["start"], r["end"]))
        return dict(out)

    def sink_seconds(self, path: str, t0_ms: float, t1_ms: float) -> float:
        """Summed duration of SQL executions in the window whose physical
        plan writes to ``path``."""
        needle = path.rstrip("/")
        total = 0.0
        for e in self.sql.values():
            if not (t0_ms <= e["start"] <= t1_ms):
                continue
            plan = e["plan"]
            i = plan.find(needle)
            while i >= 0:
                nxt = plan[i + len(needle): i + len(needle) + 1]
                if not (nxt.isalnum() or nxt == "_"):
                    total += (e["end"] - e["start"]) / 1e3
                    break
                i = plan.find(needle, i + 1)
        return total


def union_seconds(spans: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
