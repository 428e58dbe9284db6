"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_upsert --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Generates the workload's inputs
from ``--seed`` under ``.perfbench/`` in the checkout, sets the engine up
three times (``setup_s`` is the median), measures the workload, checks its
outputs against an independent reference outside the timed region, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes Spark's event log and wraps the compiler and upsert
store in timing spans, and the metrics are the per-layer ones (including
the end-to-end metrics as measured under tracing, ``traced.*``, so the
tracing overhead is their difference to an untraced run).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 3

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import REGISTRY_ROWS

    units = {
        "session.get_spark_s": "s", "session.open_inputs_s": "s",
        "session.warmup_s": "s", "session.peak_rss_mb": "MB",
        "spec.load_s": "s", "plans.compile_s": "s", "plans.compile_calls": "count",
        "streaming.microbatches": "count",
        "streaming.add_batch_p50_s": "s", "streaming.wal_commit_p50_s": "s",
        "streaming.commit_offsets_p50_s": "s",
        "streaming.latest_offset_p50_s": "s",
        "streaming.query_planning_p50_s": "s",
        "streaming.jobs_per_microbatch": "count",
        "streaming.stages_per_microbatch": "count",
        "streaming.tasks_per_microbatch": "count",
        "streaming.driver_share": "ratio",
        "streaming.microbatch_first5_s": "s",
        "streaming.microbatch_last5_s": "s",
        "streaming.finalize_s": "s",
        "upsert.calls": "count", "upsert.s": "s",
    }
    for store in ("xref", "fgac"):
        units.update({
            f"upsert.{store}_log_rows": "count",
            f"upsert.{store}_live_keys": "count",
            f"upsert.{store}_read_amplification": "ratio",
            f"upsert.{store}_log_files": "count",
            f"upsert.{store}_log_bytes": "bytes",
        })
    units.update({"sink.xref_s": "s", "sink.fgac_s": "s",
                  "sink.quarantine_s": "s"})
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.driver_s": "s", "spark.core_utilization": "ratio",
    })
    for name in REGISTRY_ROWS:
        units[f"registry.row.{name}_s"] = "s"
        units[f"registry.row.{name}.jobs"] = "count"
    units.update({"artifacts.builds": "count",
                  "artifacts.redundant_builds": "count"})
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    return units


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return py_mb + int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return py_mb


def _configure_env(work: str, cores: int, trace_dir: str | None) -> None:
    """Everything the engine writes goes under ``work``; the event log is
    switched on before the JVM starts when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    args = (f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} ")
    if trace_dir:
        from perfbench.tracing import event_log_submit_args

        args += event_log_submit_args(trace_dir)
    else:
        args += "pyspark-shell"
    os.environ["PYSPARK_SUBMIT_ARGS"] = args


def _shutdown(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool,
        cores: int = 4, tiny: bool = False, perturb: bool = False) -> dict:
    # the engine must be importable from the checkout before any work
    import confluent_data_ingestion_spark  # noqa: F401

    from perfbench import workloads
    from perfbench.tracing import EventLog, median, wrap_engine

    work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    trace_dir = os.path.join(work, "eventlog") if trace else None
    _configure_env(work, cores, trace_dir)
    try:
        wl = workloads.WORKLOADS[workload](work, seed, tiny, perturb)
        wl.prepare()
        _log("inputs generated")

        from confluent_data_ingestion_spark.session import get_spark

        setups, get_s, open_s = [], [], []
        spark = None
        for cycle in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{workload}")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("FATAL")
            # keep every microbatch's progress, not only the last 100
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                           "100000")
            wl.setup(spark)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            get_s.append(t1 - t0)
            open_s.append(t2 - t1)
            _log(f"set-up {cycle}: {t2 - t0:.2f} s")

        t0 = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        _log(f"warm-up: {warmup_s:.2f} s")

        if trace:
            with wrap_engine(wl.spans):
                res = wl.measure(spark, seconds)
        else:
            res = wl.measure(spark, seconds)
        _log("measured and checked")
        res["metrics"]["setup_s"] = median(setups)
        rss = _jvm_peak_rss_mb(spark)
        _shutdown(spark)
        _log("engine stopped")

        if trace:
            log = EventLog.latest(trace_dir)
            t0_ms, t1_ms = wl.windows[0][0], wl.windows[-1][1]
            layers = {k: 0.0 for k in per_layer_units()}
            layers.update(log.engine(log.jobs_between(t0_ms, t1_ms),
                                     (t1_ms - t0_ms) / 1e3, cores))
            units = wl.units
            layers.update({
                "session.get_spark_s": median(get_s),
                "session.open_inputs_s": median(open_s),
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": rss,
                "spec.load_s": wl.spans.seconds["spec.load"] / SETUP_CYCLES,
                "plans.compile_s": (wl.spans.seconds["plans.compile"]
                                    + wl.spans.seconds["plans.build"]) / units,
                "plans.compile_calls": wl.spans.calls["plans.compile"] / units,
            })
            layers.update(wl.layers(log))
            layers.update({f"traced.{k}": v for k, v in res["metrics"].items()})
            res["metrics"] = layers
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] task slots (1 gives the single-thread baseline)")
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the harness self-test")
    ap.add_argument("--perturb-reference", action="store_true",
                    help="drop one expected row, to show the check has teeth")
    a = ap.parse_args(argv)

    res = run(a.workload, a.seed, a.seconds, bool(a.trace), a.cores, a.tiny,
              a.perturb_reference)
    units = per_layer_units() if a.trace else END_TO_END
    missing = sorted(set(units) - set(res["metrics"]))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"workload": a.workload, "samples": res["samples"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": res["metrics"][k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package from the checkout
    # root, not its modules from this directory
    sys.path[0] = ROOT
    sys.exit(main())
