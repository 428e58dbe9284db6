"""The benchmark workloads.

Each workload generates its inputs before any timing (``prepare``), opens
them in a fresh session during set-up (``setup``), runs an untimed part of
its work on the measured inputs so the engine's first-use costs are paid
(``warmup``), runs its measured units until the run's seconds are spent
(``measure``), checks its outputs against an independent reference outside
the timed region, and, in a traced run, folds the event log and its timing spans into
per-layer numbers (``layers``).
"""

from __future__ import annotations

import os
import sys
import time

from . import registry_data, sttm
from .tracing import EventLog, Spans, median, union_seconds

# Sized for a 4-core host so that one run of each workload, set-up and
# checks included, takes about a minute.  A run's length, not its input,
# decides how many units (stream microbatches, registry passes) it measures.
STREAM_PARAMS = sttm.GenParams(
    files=10, events_per_file=5000, key_space=60_000, hot_keys=600,
    hot_share=0.3, zipf_s=1.1, delete_share=0.02, orphan_share=0.25,
    acct_share=0.8, pay_share=0.1,
)
REGISTRY_TABLES = registry_data.TableParams(
    documents=500, dup_share=0.05, embeddings=500, dim=64, events=10_000,
    users=150,
)
# Builders and consumers of session artifact families (simhash; minhash
# pairs, doc bands and doc shingles) and the label model the roadmap names.
# Run in registry order.
REGISTRY_ROWS = (
    "dedup_simhash_pairs", "dedup_clusters",
    "dedup_lsh_verified", "dedup_minhash_lsh",
    "dawid_skene_labels",
)
# the whole input of a ``--tiny`` self-test run
TINY_STREAM = sttm.GenParams(
    files=2, events_per_file=200, key_space=2000, hot_keys=50,
    hot_share=0.3, zipf_s=1.1, delete_share=0.02, orphan_share=0.25,
    acct_share=0.8, pay_share=0.1,
)
TINY_TABLES = registry_data.TableParams(
    documents=60, dup_share=0.1, embeddings=60, dim=64, events=600, users=20,
)


def _time_left(t0: float, last: float, seconds: float) -> bool:
    """Whether another unit as long as the ``last`` one would end within
    ``seconds`` of ``t0``.  A rule that let a unit run over would give a
    registry pass (about 10 s in a 15 s run) one pass on a slow host and
    two on a fast one, and the second, later on the JIT's curve, reads
    lower: the metric would jump with the host's speed."""
    return time.perf_counter() - t0 + last <= seconds


def _units(seconds: float, run_unit) -> list:
    """Run ``run_unit`` once, then again while there is time left."""
    t0 = time.perf_counter()
    results = [run_unit(0)]
    last = time.perf_counter() - t0
    while _time_left(t0, last, seconds):
        u0 = time.perf_counter()
        results.append(run_unit(len(results)))
        last = time.perf_counter() - u0
    return results


def _now_ms() -> float:
    return time.time() * 1e3


class StreamUpsert:
    """One streaming query (``run_streaming``, one file per microbatch) is
    fed the generated NDJSON envelope files one at a time: a file is moved
    into the watched directory only after the previous one's microbatch has
    committed (closed loop), until the run's seconds are spent.  Then the
    query is stopped and ``finalize`` writes the quiescence sinks, which are
    compared with the pure-Python reference over the files fed.  The
    reference is the batch semantics of the spec, so the check is also the
    streaming = batch contract."""

    def __init__(self, work: str, seed: int, tiny: bool, perturb: bool):
        self.work = work
        self.seed = seed
        self.params = TINY_STREAM if tiny else STREAM_PARAMS
        self.perturb = perturb
        self.staged = os.path.join(work, "staged")
        self.warm_staged = os.path.join(work, "warm-staged")
        self.dim_path = os.path.join(work, "dim.parquet")
        self.spans = Spans()
        self.windows: list[tuple[float, float]] = []

    def prepare(self) -> None:
        self.files = sttm.generate_events(self.seed, self.params)
        sttm.write_backlog(self.files, self.staged)
        sttm.write_dim(self.params, self.dim_path)
        sttm.write_backlog(self.files[:2], self.warm_staged)

    def setup(self, spark) -> None:
        from confluent_data_ingestion_spark.spec import load_spec, validate_spec

        with self.spans.span("spec.load"):
            self.spec = load_spec(sttm.pipeline_rows())
            issues = validate_spec(self.spec)
        errors = [i for i in issues if i[0] == "ERROR"]
        if errors:
            raise ValueError(f"benchmark spec does not validate: {errors}")
        self.dim = spark.read.parquet(self.dim_path)
        self.dim.count()

    def _stream(self, spark, staged: str, out: str, seconds: float):
        """Feed the files under ``staged`` to one query until ``seconds``
        would be exceeded; returns (runner, wall seconds including
        finalize, files fed, progress of the microbatches with input)."""
        from confluent_data_ingestion_spark.streaming import (
            StatementSetRunner,
            file_envelope_stream,
        )

        names = sorted(os.listdir(staged))
        live = os.path.join(out, "live")
        os.makedirs(live)
        runner = StatementSetRunner(spark, self.spec, {"dim": self.dim}, out)
        t0 = time.perf_counter()
        query = runner.run_streaming(
            file_envelope_stream(spark, live, max_files_per_trigger=1),
            available_now=False)
        fed, last = 0, 0.0
        try:
            while fed < len(names) and (
                    fed == 0 or _time_left(t0, last, seconds)):
                u0 = time.perf_counter()
                os.rename(os.path.join(staged, names[fed]),
                          os.path.join(live, names[fed]))
                fed += 1
                # a poll that listed the directory just before the move can
                # report "no new data": wait until the file's batch is in
                while _batches_with_input(query) < fed:
                    query.processAllAvailable()
                last = time.perf_counter() - u0
        finally:
            query.stop()
        runner.finalize()
        wall = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        return runner, wall, fed, progress

    def warmup(self, spark) -> None:
        # the first two files, in a query of their own: the second
        # microbatch is the first to upsert into an existing store, a code
        # path of its own
        self._stream(spark, self.warm_staged,
                     os.path.join(self.work, "warm-out"), float("inf"))

    @property
    def units(self) -> int:
        return max(len(self.progress), 1)

    def measure(self, spark, seconds: float) -> dict:
        w0 = _now_ms()
        self.runner, wall, fed, self.progress = self._stream(
            spark, self.staged, os.path.join(self.work, "out"), seconds)
        self.windows.append((w0, _now_ms()))
        if fed == len(self.files):
            print(f"all {fed} files were fed before the run's seconds were "
                  "spent: generate more", file=sys.stderr)
        self.expected = sttm.reference(self.files[:fed], self.params)
        if self.perturb:  # drop one expected row: the check must notice
            self.expected["XREF_ACCT"].discard(min(self.expected["XREF_ACCT"]))
        trig = [p.durationMs["triggerExecution"] / 1e3 for p in self.progress]
        got = {t: sttm.read_sink(self.runner.table_path(t), t)
               for t in sttm.SINKS}
        failed = abs(fed - len(self.progress)) + sum(
            1 for n in sttm.mismatches(self.expected, got).values() if n)
        return {
            "metrics": {
                "throughput_per_s": self.params.events_per_file * fed / wall,
                "op_p50_s": median(trig),
            },
            "attempted": fed + len(sttm.SINKS),
            "failed": failed,
            "samples": {"microbatches": len(trig), "wall_s": round(wall, 3),
                        "microbatch_s": [round(t, 3) for t in trig]},
        }

    def layers(self, log: EventLog) -> dict:
        prog = self.progress
        trig = [p.durationMs["triggerExecution"] / 1e3 for p in prog]

        def phase(key):
            return median(p.durationMs.get(key, 0) / 1e3 for p in prog)

        out = {
            "streaming.microbatches": len(prog),
            "streaming.add_batch_p50_s": phase("addBatch"),
            "streaming.wal_commit_p50_s": phase("walCommit"),
            "streaming.commit_offsets_p50_s": phase("commitOffsets"),
            "streaming.latest_offset_p50_s": phase("latestOffset"),
            "streaming.query_planning_p50_s": phase("queryPlanning"),
            "streaming.microbatch_first5_s": median(trig[:5]),
            "streaming.microbatch_last5_s": median(trig[-5:]),
            "streaming.finalize_s": self.spans.seconds["finalize"],
            # per microbatch: how many fit in a run depends on the host
            "upsert.calls": self.spans.calls["upsert"] / self.units,
            "upsert.s": self.spans.seconds["upsert"] / self.units,
        }
        for store, table in (("xref", "XREF_ACCT"), ("fgac", "FGAC_ACCT")):
            rows, files, size = store_log_stats(
                os.path.join(self.runner.out_dir, f"_{store}", table, "log"))
            live = len(self.expected[table])
            out.update({
                f"upsert.{store}_log_rows": rows,
                f"upsert.{store}_live_keys": live,
                f"upsert.{store}_read_amplification": rows / live if live else 0.0,
                f"upsert.{store}_log_files": files,
                f"upsert.{store}_log_bytes": size,
            })
        batches = log.per_batch(*self.windows[-1])
        trigger = {p.batchId: p.durationMs["triggerExecution"] / 1e3
                   for p in prog}
        with_input = [b for bid, b in batches.items() if bid in trigger]
        out.update({
            "streaming.jobs_per_microbatch": median(b["jobs"] for b in with_input),
            "streaming.stages_per_microbatch": median(b["stages"] for b in with_input),
            "streaming.tasks_per_microbatch": median(b["tasks"] for b in with_input),
            "streaming.driver_share": median(
                1 - union_seconds(b["spans"]) / trigger[bid]
                for bid, b in batches.items() if trigger.get(bid)),
        })
        for table, name in (("XREF_ACCT", "xref"), ("FGAC_ACCT", "fgac"),
                            ("Q_ACCT", "quarantine")):
            out[f"sink.{name}_s"] = log.sink_seconds(
                self.runner.table_path(table), *self.windows[-1])
        return out


def _batches_with_input(query) -> int:
    return sum(1 for p in query.recentProgress if p.numInputRows > 0)


def store_log_stats(log_dir: str) -> tuple[int, int, int]:
    """(rows, parquet files, bytes) of an upsert store's changelog."""
    import pyarrow.parquet as pq

    rows = files = size = 0
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                rows += pq.read_metadata(p).num_rows
                files += 1
                size += os.path.getsize(p)
    return rows, files, size


class RegistryArtifacts:
    """A fixed list of registry rows run in registry order in one session,
    in passes until the run's seconds are spent.  Each row's result is collected into this process inside its timing (the
    check compares those rows) and the per-row caches are released inside
    it too; the artifact families are evicted only at the start of each
    pass, so builder rows pay their builds and consumers reuse them."""

    def __init__(self, work: str, seed: int, tiny: bool, perturb: bool):
        self.work = work
        self.seed = seed
        self.tables = TINY_TABLES if tiny else REGISTRY_TABLES
        self.perturb = perturb
        self.sf_dir = os.path.join(work, "tables")
        self.spans = Spans()
        self.windows: list[tuple[float, float]] = []
        # per measured pass: the (family, key) of each artifact it built
        self.built: list[list[tuple[str, object]]] = []

    def prepare(self) -> None:
        from confluent_data_ingestion_spark.queries import ORACLES, QUERIES

        missing = [r for r in REGISTRY_ROWS
                   if r not in QUERIES or r not in ORACLES]
        if missing:
            raise KeyError(f"registry rows without a query or oracle: {missing}")
        self.rows = [q for q in QUERIES if q in REGISTRY_ROWS]
        registry_data.write_tables(self.seed, self.tables, self.sf_dir)

    def setup(self, spark) -> None:
        for t in registry_data.TABLES:
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).count()

    def _pass(self, spark, sf_dir: str, rows) -> tuple[float, list, list]:
        """One pass: evict the families, run the rows; returns the summed
        row time, each row's (name, seconds, (columns, rows) or error
        text) and the (family, key) of each artifact built."""
        from confluent_data_ingestion_spark.caching import release_caches
        from confluent_data_ingestion_spark.queries import (
            ARTIFACT_FAMILIES,
            QUERIES,
            artifact_family_keys,
            release_artifact_families,
        )

        sc = spark.sparkContext
        release_artifact_families(list(ARTIFACT_FAMILIES))
        total, results, built = 0.0, [], []
        for name in rows:
            before = artifact_family_keys()
            sc.setJobGroup(f"perfbench:{name}", name)
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, sf_dir)
                out = (df.columns, [list(r) for r in df.collect()])
                release_caches()
            except Exception as e:  # a failing row is counted, not fatal
                out = f"{type(e).__name__}: {e}"[:300]
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            results.append((name, dt, out))
            total += dt
            for fam, keys in artifact_family_keys().items():
                built += [(fam, k) for k in keys - before[fam]]
        return total, results, built

    def warmup(self, spark) -> None:
        # a whole pass on the measured tables: every row's first runs in a
        # session pay first-use costs, and a pass after a warm-up on small
        # tables still ran about a quarter slower than the next one
        self._pass(spark, self.sf_dir, self.rows)

    @property
    def units(self) -> int:
        return max(len(self.windows), 1)

    def measure(self, spark, seconds: float) -> dict:
        self.results: list[tuple[str, float, object]] = []

        def repetition(i: int):
            w0 = _now_ms()
            total, results, built = self._pass(spark, self.sf_dir, self.rows)
            self.windows.append((w0, _now_ms()))
            self.results += results
            self.built.append(built)
            return total

        totals = _units(seconds, repetition)
        bad = self._check()
        for name, msg in bad:
            print(f"registry row {name}: {msg}", file=sys.stderr)
        times = [dt for _, dt, _ in self.results]
        return {
            "metrics": {
                "throughput_per_s": len(times) / sum(totals),
                # one op is a pass over the row list: the row times are
                # too unlike for a median over rows to be steady
                "op_p50_s": median(totals),
            },
            "attempted": len(times),
            "failed": len(bad),
            "samples": {"rows": len(times), "repetitions": len(totals),
                        "registry_s": sum(totals) / len(totals),
                        "row_s": [round(t, 3) for t in times]},
        }

    def _check(self) -> list[tuple[str, str]]:
        """Compare each row result with its DuckDB oracle by column set, row
        count and an order-insensitive value hash."""
        import duckdb

        from confluent_data_ingestion_spark.queries import ORACLES
        from tools.check_correctness import frame_to_key_rows

        def digest(cols, rows):
            return (sorted(cols), len(rows),
                    hash(tuple(frame_to_key_rows(cols, rows)[1])))

        con = duckdb.connect()
        expected, bad = {}, []
        try:
            for t in registry_data.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name, _, out in self.results:
                if isinstance(out, str):
                    bad.append((name, out))
                    continue
                if name not in expected:
                    res = con.execute(ORACLES[name])
                    drows = [list(r) for r in res.fetchall()]
                    if self.perturb and name == self.rows[0] and drows:
                        drows.pop()  # the check must notice a missing row
                    expected[name] = digest([d[0] for d in res.description], drows)
                got = digest(*out)
                if got != expected[name]:
                    bad.append((name, f"columns/rows {got[:2]} != "
                                      f"{expected[name][:2]} or values differ"))
        finally:
            con.close()
        return bad

    def layers(self, log: EventLog) -> dict:
        reps = len(self.windows)
        out = {
            "artifacts.builds": sum(map(len, self.built)) / reps,
            "artifacts.redundant_builds":
                sum(len(b) - len(set(b)) for b in self.built) / reps,
        }
        jobs: dict[str, int] = {}
        for w in self.windows:
            for r in log.jobs_between(*w).values():
                group = r["group"] or ""
                if group.startswith("perfbench:"):
                    row = group[len("perfbench:"):]
                    jobs[row] = jobs.get(row, 0) + 1
        for name in REGISTRY_ROWS:
            out[f"registry.row.{name}_s"] = median(
                dt for row, dt, _ in self.results if row == name)
            out[f"registry.row.{name}.jobs"] = jobs.get(name, 0) / reps
        return out


WORKLOADS = {
    "stream_upsert": StreamUpsert,
    "registry_artifacts": RegistryArtifacts,
}
