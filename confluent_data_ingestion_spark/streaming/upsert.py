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
   ``DeltaTable.…txnVersion``).  The marker records the append's
   ``__seq``, which ``seq_of_batch`` reads back.
 - ``snapshot()``     reads the log and collapses to latest-per-key with
   the same ``latest_by_key`` operator the batch path uses, so batch and
   streaming agree at quiescence (AC-2 semantics).  The store is the log's
   only writer, so it keeps the log's merged schema in memory: the first
   read of a store instance merges every footer, later reads pass the
   known schema and plan without touching a footer, and an append that
   brings a new column or type (or a compaction) drops the cached schema
   so the next read merges again.
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
class of object-store renames/markers applies (task commit protocol).
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
    ):
        self.path = path.rstrip("/")
        self.keys = keys
        self.order_by = order_by
        self.delete_flag_field = delete_flag_field
        self.delete_flag_values = delete_flag_values
        self.delete_mode = delete_mode
        self.log_dir = f"{self.path}/log"
        self.txn_dir = f"{self.path}/_txn"
        # single-writer contract (foreachBatch): the log's merged schema is
        # known without re-reading footers (None: merge on the next read)
        self._log_schema: StructType | None = None
        os.makedirs(self.txn_dir, exist_ok=True)

    # -- write path ----------------------------------------------------------

    def _marker(self, batch_id) -> str:
        return f"{self.txn_dir}/committed-{batch_id}"

    def committed(self, batch_id) -> bool:
        return os.path.exists(self._marker(batch_id))

    def upsert(self, batch_df: DataFrame, batch_id=None) -> bool:
        """Apply a (micro)batch. Returns False when this batch_id already
        committed (idempotent replay — PR-3).

        Appends to the changelog under a new ``__seq`` partition; ranking
        is deferred to ``snapshot()``.
        """
        if batch_id is not None and self.committed(batch_id):
            return False
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
                f.write(str(seq))
        return True

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
        to :meth:`snapshot_as_of` to read the table as of that batch."""
        with open(self._marker(batch_id)) as f:
            content = f.read().strip()
        try:
            return int(content)
        except ValueError:
            raise RuntimeError(
                f"marker for batch {batch_id!r} records no append sequence "
                f"({content!r})"
            ) from None

    # -- read path -----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self.log_dir)

    def log(self, spark: SparkSession) -> DataFrame:
        """The raw changelog including the ``__seq`` append-sequence
        partition column.

        Reads with the merged schema of every file, so columns ADDED by
        later appends survive (rows that predate a column read it as NULL
        — additive schema evolution, the same contract Delta's mergeSchema
        write option gives).  Without it Spark samples one footer and
        silently DROPS the new columns from every snapshot.  Merging reads
        every footer in a Spark job, so it runs once per store instance;
        later reads pass the cached schema, which ``upsert`` drops when an
        append brings a field or type it lacks, as does ``compact()``."""
        if self._log_schema is None:
            log = spark.read.option("mergeSchema", "true").parquet(self.log_dir)
            self._log_schema = log.schema
            return log
        return spark.read.schema(self._log_schema).parquet(self.log_dir)

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """The upsert table's current contents: latest-per-key view of the
        changelog."""
        return self._rank(self.log(spark))

    def latest_of_batch(self, spark: SparkSession, batch_id) -> DataFrame:
        """The current rows of the keys that committed batch ``batch_id``
        appended: the log semi-joined on the keys of that append's
        ``__seq`` partition, then ranked.  Equal to ``snapshot()``
        restricted to those keys, because the ranking window is
        partitioned by the keys, but the ranking only sees their history.
        Keys whose rows were all deletes come back absent, as in
        ``snapshot()``."""
        log = self.log(spark)
        touched = log.filter(F.col("__seq") == self.seq_of_batch(batch_id))
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
        contract as VACUUM limiting Delta/Iceberg time travel.
        """
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
        old or the new log, never a partial one."""
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
