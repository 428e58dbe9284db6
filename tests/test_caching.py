"""Regression tests for caching.release_checkpoint: the JVM-internal
release path (``_jdf.queryExecution().analyzed().rdd().unpersist``) acts
only when the analyzed plan is a ``LogicalRDD``, so a Spark upgrade that
changed the plan shape of a checkpointed frame would silently turn every
release back into the leak it fixes.  These tests exercise the call
DIRECTLY against the block manager's persistent-RDD registry so a silent
no-op fails CI instead of leaking (BM25 eviction is pinned elsewhere;
every shared-artifact eviction and the streaming runner's per-microbatch
checkpoints ride this same call)."""

from __future__ import annotations

from confluent_data_ingestion_spark.caching import release_checkpoint


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_release_checkpoint_frees_localcheckpoint_blocks(spark):
    base = _persistent_rdd_count(spark)
    df = spark.range(1_000).selectExpr("id", "id * 2 as v").localCheckpoint()
    df.count()
    assert _persistent_rdd_count(spark) > base, (
        "localCheckpoint no longer pins a persistent RDD — the release "
        "path (and this test) need rethinking for this Spark version"
    )
    release_checkpoint(df)
    assert _persistent_rdd_count(spark) == base, (
        "release_checkpoint silently failed to free the checkpointed "
        "blocks: the analyzed-plan .rdd() reach-through is a no-op on "
        "this Spark version — every shared-artifact eviction now leaks"
    )


def test_release_checkpoint_noop_on_plain_frame(spark):
    base = _persistent_rdd_count(spark)
    df = spark.range(100).selectExpr("id")
    release_checkpoint(df)  # must not raise, must not unpersist anything
    assert _persistent_rdd_count(spark) == base


def test_release_checkpoint_idempotent(spark):
    base = _persistent_rdd_count(spark)
    df = spark.range(500).localCheckpoint()
    df.count()
    release_checkpoint(df)
    release_checkpoint(df)  # second release: no raise, no double-free
    assert _persistent_rdd_count(spark) == base
