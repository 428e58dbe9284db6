"""Upsert-changelog materialization (reference A2/T3).

The reference declares XREF tables ``PRIMARY KEY … NOT ENFORCED`` with
``changelog.mode = upsert`` (``resources/sql/xref-queries.sql:13-23``): the
table holds ONE current row per key, replays are idempotent (PR-3,
``resources/requirements.txt:44``).

Spark has no native upsert sink, so this module implements the standard
log-structured pattern (what Delta/Iceberg/Hudi/Paimon do under the hood,
without the dependency):

 - ``upsert(batch)``  appends the microbatch to a parquet changelog,
   guarded by a per-batch transaction marker -> exactly-once-effect under
   foreachBatch retries (same idempotent-commit trick as
   ``DeltaTable.…txnVersion``).
 - ``snapshot()``     reads the log and collapses to latest-per-key with
   the same ``latest_by_key`` operator the batch path uses, so batch and
   streaming agree at quiescence (AC-2 semantics).  The store is the log's
   only writer, so it keeps the log's merged schema in memory: the first
   read of a store instance merges every footer, later reads pass the
   known schema and plan without touching a footer, and an append that
   brings a new column or type (or a compaction, or the v1 migration)
   drops the cached schema so the next read merges again.
 - ``latest_of_batch(batch_id)``  the current rows of only the keys one
   append wrote: the log is semi-joined on that append's ``__seq``
   partition keys before ranking (exact, since the ranking window is
   partitioned by the keys) — what a microbatch propagates downstream.
 - ``compact()``      rewrites the log as its snapshot, bounding read
   amplification (changelog compaction).
 - ``snapshot_as_of(seq)``  time travel: every append lands in its own
   ``__seq=N`` log partition, so "the table as of append N" is a
   partition-pruned latest-per-key read over ``__seq <= N`` — the same
   capability Delta/Iceberg expose as version-as-of, with compaction as
   the history horizon (as-of below it raises, like post-VACUUM reads).

Scale notes: the log is append-only parquet — writes never rewrite data, so
write cost is O(batch).  Snapshot reads shuffle once on the key (the minimum
the semantics allow); periodic ``compact()`` keeps that scan proportional to
the live key count rather than total history.  On a real deployment the same
class of object-store renames/markers applies (task commit protocol), or the
log is simply a Delta table and ``upsert`` becomes MERGE.

``backend="delta"`` IS that production landing (the reference materializes
XREF into Iceberg, ``resources/architecture/sprint-demo-20250919:29-32`` —
Delta is the equivalent table format this package can drive from OSS
PySpark): each batch collapses to latest-per-key then MERGEs into a Delta
table keyed on the PK, so the table always holds exactly the current rows
and ``snapshot()`` is a plain read with no ranking scan.  The marker-commit
protocol is backend-independent — foreachBatch retries skip an
already-committed batch id either way.  ``backend="auto"`` probes
``session.delta_available`` and falls back to the parquet log (as in
environments without the delta-spark package).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.xref import latest_by_key


class UpsertSnapshot:
    def __init__(
        self,
        path: str,
        keys: list[str],
        order_by: list[str],
        *,
        delete_flag_field: str | None = None,
        delete_flag_values: tuple[str, ...] = ("true", "1"),
        delete_mode: str = "exclude",
        backend: str = "parquet-log",
    ):
        if backend not in ("parquet-log", "delta", "auto"):
            raise ValueError(
                f"backend must be 'parquet-log', 'delta' or 'auto', got {backend!r}"
            )
        self.path = path.rstrip("/")
        self.keys = keys
        self.order_by = order_by
        self.delete_flag_field = delete_flag_field
        self.delete_flag_values = delete_flag_values
        self.delete_mode = delete_mode
        self.backend = backend
        self.log_dir = f"{self.path}/log"
        self.delta_dir = f"{self.path}/delta"
        self.txn_dir = f"{self.path}/_txn"
        # single-writer contract (foreachBatch): the v1->v2 format check
        # runs once per store instance, not once per append, and the log's
        # merged schema is known without re-reading footers (None: merge
        # on the next read)
        self._log_format_checked = False
        self._log_schema: StructType | None = None
        os.makedirs(self.txn_dir, exist_ok=True)

    def _resolve_backend(self, spark: SparkSession) -> str:
        from ..session import delta_available

        if self.backend == "auto":
            self.backend = "delta" if delta_available(spark) else "parquet-log"
        elif self.backend == "delta" and not delta_available(spark):
            raise RuntimeError(
                "backend='delta' requires the delta-spark package and a "
                "session built with the Delta SQL extension (see "
                "session.get_spark); use backend='auto' to fall back"
            )
        return self.backend

    # -- write path ----------------------------------------------------------

    def _marker(self, batch_id) -> str:
        return f"{self.txn_dir}/committed-{batch_id}"

    def committed(self, batch_id) -> bool:
        return os.path.exists(self._marker(batch_id))

    def upsert(self, batch_df: DataFrame, batch_id=None) -> bool:
        """Apply a (micro)batch. Returns False when this batch_id already
        committed (idempotent replay — PR-3).

        parquet-log: append to the changelog (ranking deferred to
        ``snapshot()``).  delta: collapse the batch to latest-per-key and
        MERGE into the materialized table — matched keys update only when
        the source is strictly newer on ``order_by`` (lexicographic;
        target kept on ties), so cross-batch out-of-order replays are
        no-ops, same as the log's global ranking.
        """
        if batch_id is not None and self.committed(batch_id):
            return False
        seq = None
        if self._resolve_backend(batch_df.sparkSession) == "delta":
            self._upsert_delta(batch_df)
        else:
            self._ensure_log_format(batch_df.sparkSession)
            seq = self._next_seq()
            (
                batch_df.withColumn("__seq", F.lit(seq))
                .write.mode("append")
                .partitionBy("__seq")
                .parquet(self.log_dir)
            )
            self._bump_seq(seq)
            if self._log_schema is not None:
                known = {(f.name, f.dataType) for f in self._log_schema}
                if any((f.name, f.dataType) not in known for f in batch_df.schema):
                    self._log_schema = None
        if batch_id is not None:
            with open(self._marker(batch_id), "w") as f:
                # delta markers carry no sequence — write a sentinel, never
                # a digit that seq_of_batch could misread as a real seq
                f.write("delta" if seq is None else str(seq))
        return True

    # -- on-disk format migration ---------------------------------------------
    #
    # Format v1 (pre-__seq) appended bare parquet files at the log root;
    # v2 partitions every append under __seq=N.  Spark's partition discovery
    # rejects a directory mixing both ("Conflicting directory structures"),
    # so the first v2 access of a v1 store folds the root files into the
    # oldest sequence — they predate every partitioned append, and snapshot
    # ranking orders on ``order_by`` columns (never on ``__seq``), so the
    # fold is exact for snapshots and only coarsens time travel across the
    # migrated history (same contract as compaction's horizon).

    def _legacy_root_files(self) -> list[str]:
        if not os.path.isdir(self.log_dir):
            return []
        return [
            os.path.join(self.log_dir, n)
            for n in os.listdir(self.log_dir)
            if n.endswith(".parquet")
            and os.path.isfile(os.path.join(self.log_dir, n))
        ]

    def _ensure_log_format(self, spark: SparkSession) -> None:
        if self._log_format_checked:
            return
        roots = self._legacy_root_files()
        if not roots:
            self._log_format_checked = True
            return
        seqs = [
            int(n.split("=", 1)[1])
            for n in os.listdir(self.log_dir)
            if n.startswith("__seq=")
        ]
        target = min(seqs) if seqs else 0
        # Partitioned parquet derives __seq from the DIRECTORY name — files
        # inside __seq=N never store the column — so the fold is a pure
        # same-filesystem rename of each v1 file into __seq=<target>/, with
        # no Spark rewrite and no copy.  Every rename is atomic and the
        # source is deleted only by succeeding, so no crash point loses
        # data: a crash mid-loop leaves the remaining roots in place and
        # the next access (read- or write-triggered) resumes the fold.
        part_dst = os.path.join(self.log_dir, f"__seq={target}")
        os.makedirs(part_dst, exist_ok=True)
        for p in roots:
            os.rename(p, os.path.join(part_dst, os.path.basename(p)))
        self._log_schema = None
        success = os.path.join(self.log_dir, "_SUCCESS")
        if os.path.isfile(success):
            os.remove(success)
        if not seqs:
            # pure-v1 store: its markers hold the literal "1" placeholder,
            # not an append sequence — stamp them so seq lookups fail
            # loudly instead of silently time-traveling to seq 1.  (With
            # __seq dirs present a "1" marker IS a real v2 sequence; those
            # are left untouched.)
            for n in os.listdir(self.txn_dir):
                if not n.startswith("committed-"):
                    continue
                mp = os.path.join(self.txn_dir, n)
                with open(mp) as f:
                    content = f.read().strip()
                if content == "1":
                    with open(mp, "w") as f:
                        f.write("legacy")
            if self._next_seq() == 0:
                self._bump_seq(target)
        self._log_format_checked = True

    # -- append sequence (the log's time axis) --------------------------------
    #
    # Batch ids are caller-chosen and may be strings (the statement-set
    # runner uses "<table>-<epoch>"), so time travel orders on a
    # store-assigned monotone append sequence instead.  Single writer per
    # store is the foreachBatch contract, so a plain counter file suffices.

    def _seq_file(self) -> str:
        return f"{self.txn_dir}/seq"

    def _next_seq(self) -> int:
        try:
            with open(self._seq_file()) as f:
                return int(f.read().strip()) + 1
        except (FileNotFoundError, ValueError):
            return 0

    def _bump_seq(self, seq: int) -> None:
        with open(self._seq_file(), "w") as f:
            f.write(str(seq))

    def current_seq(self) -> int:
        """Sequence number of the newest committed append (-1 if empty)."""
        return self._next_seq() - 1

    def seq_of_batch(self, batch_id) -> int:
        """Append sequence recorded when ``batch_id`` committed — pass it
        to :meth:`snapshot_as_of` to read the table as of that batch.
        Parquet-log only: delta markers carry no sequence (that backend
        time-travels natively via the Delta version log)."""
        if self.backend == "delta":
            raise RuntimeError(
                "seq_of_batch is parquet-log-only; the delta backend "
                "maps batches to versions in its own transaction log"
            )
        with open(self._marker(batch_id)) as f:
            content = f.read().strip()
        try:
            return int(content)
        except ValueError:
            raise RuntimeError(
                f"marker for batch {batch_id!r} records no append sequence "
                f"({content!r}): it predates the __seq log format or was "
                "written by the delta backend — time travel is unavailable "
                "for batches committed before the format migration"
            ) from None

    def _is_deleted_expr(self, qualifier: str = ""):
        flag = F.lower(
            F.trim(F.col(f"{qualifier}{self.delete_flag_field}").cast("string"))
        )
        vals = [v.lower() for v in self.delete_flag_values]
        return F.coalesce(flag.isNotNull() & flag.isin(*vals), F.lit(False))

    # Test seam: the Delta surface resolves through these two hooks so the
    # exactly-once MERGE contract can be executed in environments without
    # delta-spark (tests/fake_delta.py substitutes a DataFrame-backed
    # MERGE emulator and parquet storage; the real backend is unchanged).
    def _delta_table_api(self):
        from delta.tables import DeltaTable

        return DeltaTable

    def _delta_io_format(self) -> str:
        return "delta"

    def _upsert_delta(self, batch_df: DataFrame) -> None:
        """MERGE one microbatch into the Delta table.

        Semantics parity with the log backend's ``snapshot()`` ranking:

        - ``delete_mode="exclude"``: flagged rows never participate (the
          log drops them before ranking — a delete event leaves the
          previous version standing), so they are filtered from the batch
          before the MERGE and no delete clause exists.
        - ``delete_mode="tombstone"``: a key whose newest row is flagged
          is retracted — whenMatchedDelete for a strictly-newer flagged
          source row; flagged rows for absent keys insert nothing.

        Caveat shared by every materialized-MERGE sink: a tombstone's
        order key is gone once the row is deleted, so an OLDER update
        replayed in a LATER batch can resurrect a retracted key, where
        the full log would keep it retracted.  Same-batch and in-order
        streams (the foreachBatch contract) are unaffected.  ``order_by``
        columns should be non-null here — a NULL order field makes the
        newer-than comparison NULL and the target row wins.
        """
        DeltaTable = self._delta_table_api()

        spark = batch_df.sparkSession
        batch = batch_df
        # exclude mode drops flagged rows BEFORE ranking (log parity: an
        # older unflagged row in the same batch must win the key)
        if self.delete_flag_field and self.delete_mode == "exclude":
            batch = batch.filter(~self._is_deleted_expr())
        batch = latest_by_key(batch, self.keys, self.order_by)
        if not DeltaTable.isDeltaTable(spark, self.delta_dir):
            seed = batch
            if self.delete_flag_field and self.delete_mode == "tombstone":
                seed = seed.filter(~self._is_deleted_expr())
            seed.write.format(self._delta_io_format()).mode(
                "overwrite"
            ).save(self.delta_dir)
            return
        tgt = DeltaTable.forPath(spark, self.delta_dir)
        newer = (
            "struct("
            + ", ".join(f"s.{c}" for c in self.order_by)
            + ") > struct("
            + ", ".join(f"t.{c}" for c in self.order_by)
            + ")"
        )
        m = tgt.alias("t").merge(
            batch.alias("s"),
            " AND ".join(f"t.{k} <=> s.{k}" for k in self.keys),
        )
        if self.delete_flag_field and self.delete_mode == "tombstone":
            flagged = (
                f"lower(trim(CAST(s.{self.delete_flag_field} AS STRING))) IN ("
                + ", ".join(f"'{v.lower()}'" for v in self.delete_flag_values)
                + ")"
            )
            m = (
                m.whenMatchedDelete(condition=f"({newer}) AND ({flagged})")
                .whenMatchedUpdateAll(condition=f"({newer}) AND NOT ({flagged})")
                .whenNotMatchedInsertAll(condition=f"NOT ({flagged})")
            )
        else:
            m = m.whenMatchedUpdateAll(condition=newer).whenNotMatchedInsertAll()
        m.execute()

    # -- read path -----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self.log_dir) or os.path.exists(
            f"{self.delta_dir}/_delta_log"
        )

    def log(self, spark: SparkSession) -> DataFrame:
        """The raw changelog including the ``__seq`` append-sequence
        partition column (parquet-log backend only — the delta backend
        materializes current rows and keeps history in the Delta log).

        Reads with the merged schema of every file, so columns ADDED by
        later appends survive (rows that predate a column read it as NULL
        — additive schema evolution, the same contract Delta's mergeSchema
        write option gives).  Without it Spark samples one footer and
        silently DROPS the new columns from every snapshot.  Merging reads
        every footer in a Spark job, so it runs once per store instance;
        later reads pass the cached schema, which ``upsert`` drops when an
        append brings a field or type it lacks, as do ``compact()`` and
        the v1 migration."""
        if self._resolve_backend(spark) == "delta":
            raise RuntimeError(
                "log() is parquet-log-only; the delta backend's history "
                "lives in the Delta transaction log (DESCRIBE HISTORY)"
            )
        self._ensure_log_format(spark)
        if self._log_schema is None:
            log = spark.read.option("mergeSchema", "true").parquet(self.log_dir)
            self._log_schema = log.schema
            return log
        return spark.read.schema(self._log_schema).parquet(self.log_dir)

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """The upsert table's current contents: latest-per-key view of the
        changelog (parquet-log), or a plain read of the materialized table
        (delta — the MERGE already applied ranking + deletes)."""
        if self._resolve_backend(spark) == "delta":
            return spark.read.format(self._delta_io_format()).load(
                self.delta_dir
            )
        return self._rank(self.log(spark))

    def latest_of_batch(
        self,
        spark: SparkSession,
        batch_id,
        fallback_keys: DataFrame | None = None,
    ) -> DataFrame:
        """The current rows of the keys that committed batch ``batch_id``
        appended: the log semi-joined on the keys of that append's
        ``__seq`` partition, then ranked.  Equal to ``snapshot()``
        restricted to those keys, because the ranking window is
        partitioned by the keys, but the ranking only sees their history.
        Keys whose rows were all deletes come back absent, as in
        ``snapshot()``.

        A marker that records no append sequence (a batch committed before
        the ``__seq`` format) takes its keys from ``fallback_keys`` (any
        frame holding the key columns); without one it raises, as
        :meth:`seq_of_batch` does.  Parquet-log only."""
        log = self.log(spark)
        try:
            touched = log.filter(F.col("__seq") == self.seq_of_batch(batch_id))
        except RuntimeError:
            if fallback_keys is None:
                raise
            touched = fallback_keys
        return self._rank(
            log.join(touched.select(*self.keys), self.keys, "left_semi")
        )

    def snapshot_as_of(self, spark: SparkSession, seq: int) -> DataFrame:
        """Time travel: the table as it stood after append ``seq`` — the
        latest-per-key view over log partitions ``__seq <= seq`` only
        (partition-pruned scan; history later than ``seq`` is never read).
        Resolve a batch id to its sequence with :meth:`seq_of_batch`.

        Compaction collapses history: appends at or below the compaction
        horizon fold into one partition, so as-of reads BELOW the horizon
        raise rather than silently answer from a partial log — the same
        contract as VACUUM limiting Delta/Iceberg time travel.  The delta
        backend keeps history in its own transaction log; use Delta's
        native ``versionAsOf`` there.
        """
        if self._resolve_backend(spark) == "delta":
            raise RuntimeError(
                "snapshot_as_of is parquet-log-only; the delta backend "
                "time-travels natively (read option versionAsOf)"
            )
        log = self.log(spark)
        horizon = log.agg(F.min("__seq")).collect()[0][0]
        if horizon is not None and seq < horizon:
            raise ValueError(
                f"history before append {horizon} was compacted away; "
                f"as-of {seq} is unanswerable"
            )
        return self._rank(log.filter(F.col("__seq") <= F.lit(seq)))

    def _rank(self, log_df: DataFrame) -> DataFrame:
        ranked = latest_by_key(
            log_df,
            self.keys,
            self.order_by,
            delete_flag_field=self.delete_flag_field,
            delete_flag_values=self.delete_flag_values,
            delete_mode=self.delete_mode,
        )
        return ranked.drop("__seq")

    # -- maintenance ---------------------------------------------------------

    def compact(self, spark: SparkSession) -> None:
        """Rewrite the log as its snapshot (changelog compaction).  Writes to
        a side directory then swaps, so a concurrent reader sees either the
        old or the new log, never a partial one.  No-op on the delta
        backend — MERGE keeps the table materialized (file-count hygiene
        there is OPTIMIZE/VACUUM, a storage concern, not a semantic one)."""
        if self._resolve_backend(spark) == "delta":
            return
        tmp = f"{self.path}/log-compact-{uuid.uuid4().hex[:8]}"
        # the compacted block keeps the newest folded sequence as its
        # partition (the compaction horizon): later as-of reads >= horizon
        # stay answerable, earlier ones raise in snapshot_as_of
        horizon = self.log(spark).agg(F.max("__seq")).collect()[0][0] or 0
        (
            self.snapshot(spark)
            .withColumn("__seq", F.lit(int(horizon)))
            .write.mode("overwrite")
            .partitionBy("__seq")
            .parquet(tmp)
        )
        old = f"{self.path}/log-old-{uuid.uuid4().hex[:8]}"
        os.rename(self.log_dir, old)
        os.rename(tmp, self.log_dir)
        self._log_schema = None
        shutil.rmtree(old)
