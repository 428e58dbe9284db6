"""Statement-set runtime (reference T1): run every pipeline stage as one job
over a shared source scan, in batch or streaming mode.

The reference wraps all INSERTs in ``EXECUTE STATEMENT SET BEGIN … END`` so
Flink plans one job with shared scans (``scripts/sttm_to_flink_v22.py:
391-398``).  Spark's equivalent patterns, both implemented here:

 - batch:     persist the raw envelope once, write every compiled target
   sequentially from the cached scan, unpersist.
 - streaming: ONE ``foreachBatch`` query.  Per microbatch:

   1. the microbatch is persisted and every stage is compiled against it;
   2. each XREF target's rows are appended to its changelog snapshot
      store (``UpsertSnapshot.upsert``);
   3. the post-upsert *global* latest rows of the keys that append touched
      (``UpsertSnapshot.latest_of_batch``, which takes the keys from the
      store's new log partition, not from the views again) are
      materialized ONCE with an eager ``localCheckpoint`` — but only when
      a later stage reads the XREF table;
   4. the FGAC / QUARANTINE stages join against that checkpoint
      (stream-static per microbatch — the Spark rendering of Flink's
      changelog join, reference J6/T3,
      ``resources/sql/xref-queries.sql:80-99``), and their writes are
      submitted together on the runner's writer threads (started by the
      first microbatch, stopped by ``finalize``), each keeping its own
      commit marker;
   5. the checkpoints and the persisted microbatch are released.

   The sinks share their upstream sub-plans the way the reference's
   statement set does: no sink write recomputes the views, the XREF
   dedup or the ranking.  The XREF appends run before the downstream
   writes, not beside them: the driver is the bottleneck there, and
   overlapping them was measured slower.

Quiescence contract (AC-2): after all input is consumed, streaming outputs
equal the batch pipeline run over the same total input.  Tests assert this.

Scale notes: per microbatch the work is bounded by |batch| for views,
|batch| log-append for XREF, the touched keys' history for the ranking,
and |touched| ⨝ dim for FGAC/QUARANTINE.  Nothing here collects to the
driver; the transaction markers make foreachBatch retries idempotent
(PR-3), per sink.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor, wait
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..caching import release_checkpoint
from ..plans.compiler import PipelineCompiler, xref_dedup_spec
from ..spec.models import PipelineSpec
from .upsert import UpsertSnapshot


class StatementSetRunner:
    def __init__(
        self,
        spark: SparkSession,
        spec: PipelineSpec,
        static_sources: dict[str, DataFrame],
        out_dir: str,
        *,
        checkpoint_dir: str | None = None,
        capture_plans: bool = False,
    ):
        self.spark = spark
        self.spec = spec
        self.static_sources = dict(static_sources)
        self.out_dir = out_dir.rstrip("/")
        self.checkpoint_dir = checkpoint_dir or f"{self.out_dir}/_checkpoints"
        # one store instance per target for the runner's lifetime, so
        # per-instance state (the cached log schema) holds across
        # microbatches instead of re-merging footers every batch
        self._stores: dict[tuple[str, str], UpsertSnapshot | None] = {}
        # per-stage physical plans of the most recent microbatch — the
        # foreachBatch side of the plan audit (streaming/audit.py);
        # overwritten each batch so quiescence leaves the LAST one.
        # OPT-IN (capture_plans): executedPlan() forces an extra physical
        # planning pass per stage per microbatch — e.g. VIEW stages whose
        # plan is otherwise only planned inlined into consumers — so
        # production runners skip it and only audit/registry paths pay
        self.capture_plans = capture_plans
        self.last_batch_plans: dict[str, str] = {}
        # tables some stage reads: only these XREF targets are materialized
        # for downstream use each microbatch
        self._read_tables = {
            t
            for rows in spec.tables().values()
            for r in rows
            for t in (r.source_table, r.join_table)
            if t
        }
        # the threads the downstream sink writes run on: started by the
        # first microbatch, reused by the later ones, stopped when the
        # query ends (finalize).  Fresh threads every microbatch cost a
        # Py4J connection and a JVM thread each in pinned-thread mode, and
        # made microbatch times spread wider.
        self._writers: ThreadPoolExecutor | None = None
        os.makedirs(self.out_dir, exist_ok=True)

    def table_path(self, table: str) -> str:
        return f"{self.out_dir}/{table}"

    # -- batch mode ----------------------------------------------------------

    def run_batch(self, raw_df: DataFrame, write_views: bool = False) -> dict[str, str]:
        """Persist the shared envelope scan, write every compiled target."""
        raw_df = raw_df.persist()
        try:
            compiler = PipelineCompiler(
                self.spark, self.spec,
                {self.spec.raw_table: raw_df, **self.static_sources},
            )
            compiled = compiler.compile()
            paths: dict[str, str] = {}
            for table, df in compiled.items():
                if self.spec.stage_of(table) == "VIEW" and not write_views:
                    continue
                path = self.table_path(table)
                df.write.mode("overwrite").parquet(path)
                paths[table] = path
            return paths
        finally:
            raw_df.unpersist()

    # -- streaming mode ------------------------------------------------------

    def _xref_store(self, table: str, rows) -> UpsertSnapshot:
        key = ("xref", table)
        if key not in self._stores:
            pks, order_fields, del_field, del_values = xref_dedup_spec(rows)
            self._stores[key] = UpsertSnapshot(
                f"{self.out_dir}/_xref/{table}",
                pks,
                order_fields or pks,
                delete_flag_field=del_field,
                delete_flag_values=del_values,
            )
        return self._stores[key]

    def _keyed_store(self, table: str, rows) -> UpsertSnapshot | None:
        """Changelog store for a keyed FGAC target: versions ordered by the
        microbatch sequence (the changelog position)."""
        key = ("fgac", table)
        if key not in self._stores:
            pks = [r.target_column for r in rows if r.is_target_pk]
            self._stores[key] = (
                UpsertSnapshot(f"{self.out_dir}/_fgac/{table}", pks, ["__seq__"])
                if pks
                else None
            )
        return self._stores[key]

    def _append_once(self, df: DataFrame, table: str, batch_id: int) -> None:
        path = self.table_path(table)
        marker_dir = f"{path}/_txn"
        os.makedirs(marker_dir, exist_ok=True)
        marker = f"{marker_dir}/committed-{batch_id}"
        if not os.path.exists(marker):
            df.write.mode("append").parquet(path)
            with open(marker, "w") as f:
                f.write("1")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        checkpoints: list[DataFrame] = []
        try:
            compiler = PipelineCompiler(
                spark, self.spec,
                {self.spec.raw_table: batch_df, **self.static_sources},
                xref_keep_order_fields=True,
            )
            writes = []
            for table, rows in self.spec.tables().items():  # stage-ordered
                stage = rows[0].pipeline_stage
                df = compiler._builders()[stage](table, rows)
                if self.capture_plans:
                    try:  # plan capture must never fail the batch
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    except Exception as ex:  # pragma: no cover
                        plan = f"<plan capture unavailable: {ex}>"
                    self.last_batch_plans[f"{stage} {table}"] = plan
                if stage == "VIEW":
                    compiler.compiled[table] = df
                elif stage == "XREF":
                    store = self._xref_store(table, rows)
                    txn = f"{table}-{batch_id}"
                    store.upsert(df, batch_id=txn)
                    if table not in self._read_tables:
                        continue
                    # Delta-driven changelog propagation (reference J6/T3):
                    # downstream stages see the post-upsert GLOBAL latest
                    # rows, but only for keys touched in this batch — work
                    # per microbatch is O(|batch|), not O(live keys).  At
                    # quiescence the last batch touching a key computed its
                    # downstream rows from the true global latest, so keyed
                    # downstream upserts converge to the batch-mode result.
                    latest = store.latest_of_batch(spark, txn).select(
                        *[r.target_column for r in rows]
                    )
                    checkpoints.append(latest.localCheckpoint(eager=True))
                    compiler.compiled[table] = checkpoints[-1]
                else:  # FGAC / QUARANTINE
                    keyed = self._keyed_store(table, rows)
                    if stage == "FGAC" and keyed is not None:
                        writes.append(partial(
                            keyed.upsert,
                            df.withColumn("__seq__", F.lit(batch_id)),
                            batch_id=f"{table}-{batch_id}",
                        ))
                    else:  # reject/append streams
                        writes.append(
                            partial(self._append_once, df, table, batch_id)
                        )
                    compiler.compiled[table] = df
            self._run_together(spark, writes)
        finally:
            for frame in checkpoints:
                release_checkpoint(frame)
            batch_df.unpersist()

    def _run_together(self, spark: SparkSession, writes: list) -> None:
        """Run the sink writes as concurrent Spark jobs on the runner's
        writer threads and wait for all of them; then raise the first
        failure in submission order.  Each write inherits the calling
        thread's local properties (the microbatch's
        ``streaming.sql.batchId``) and job tags; the tags are cleared when
        it ends, because the thread serves later microbatches too."""
        if not writes:
            return
        if self._writers is None:
            self._writers = ThreadPoolExecutor(
                len(writes), thread_name_prefix="sink-writer"
            )
        inherit = inheritable_thread_target(spark)
        futures = [
            self._writers.submit(inherit(partial(_untagged, spark, write)))
            for write in writes
        ]
        wait(futures)
        for future in futures:
            future.result()

    def _stop_writers(self) -> None:
        if self._writers is not None:
            self._writers.shutdown()
            self._writers = None

    def run_streaming(self, raw_stream: DataFrame, *, available_now: bool = True):
        """One streaming query fanning out to every sink (T1).  With
        ``available_now`` the query drains all currently-available input and
        stops — the batch-equivalent execution used by tests; without it the
        query runs continuously until stopped."""
        writer = (
            raw_stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if available_now:
            try:
                query.awaitTermination()
            finally:
                self._stop_writers()
            self.finalize()
        return query

    def finalize(self) -> dict[str, str]:
        """Materialize final XREF / keyed-FGAC snapshots as plain parquet
        tables (the quiescence outputs the batch mode writes directly), and
        stop the sink-writer threads."""
        self._stop_writers()
        paths: dict[str, str] = {}
        for table, rows in self.spec.tables().items():
            stage = rows[0].pipeline_stage
            if stage == "XREF":
                store = self._xref_store(table, rows)
            elif stage == "FGAC":
                store = self._keyed_store(table, rows)
            else:
                continue
            if store is None or not store.exists():
                continue
            target_cols = [r.target_column for r in rows]
            out = self.table_path(table)
            store.snapshot(self.spark).select(*target_cols).write.mode(
                "overwrite"
            ).parquet(out)
            paths[table] = out
        return paths


def _untagged(spark: SparkSession, write) -> None:
    try:
        write()
    finally:
        spark.clearTags()
