"""Cache lifecycle for operators that persist shared plan subtrees.

Operators like ``minhash_lsh_pairs(persist_signatures=True)`` persist a
subtree that feeds several branches of one query plan.  Spark gives no hook
for "unpersist after the next action", so the operator can't release its own
cache — a bare ``persist()`` would leak MEMORY_AND_DISK blocks into every
later query of the session (observed pressuring subsequent bench queries).

This registry is the seam: operators ``track()`` what they persist, and the
runtime (bench loop, query registry, or any caller) calls
``release_caches()`` once the consuming action has finished.  Releasing
early is safe — unpersisting a DataFrame that never materialized merely
skips the caching, it never changes results.

Artifacts that must outlive one query (shared index, model and layout
frames) live in the session-artifact store instead: :func:`artifact`
builds them once per (session, sf_dir) and frees them on eviction.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for release."""
    df.persist()
    _LIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    n = 0
    while _LIVE:
        _LIVE.pop().unpersist()
        n += 1
    return n


def release_checkpoint(frame: DataFrame) -> None:
    """Free a localCheckpointed DataFrame's RDD blocks.

    ``localCheckpoint`` pins its data as persisted RDD blocks that
    ``DataFrame.unpersist`` does NOT release (that path only drops
    cache-manager entries for ``persist()``-ed plans); the blocks stay
    reachable through the checkpointed plan's ``LogicalRDD`` and are
    freed there.  Eager and lazy checkpoints both analyze to a
    ``LogicalRDD``; any other frame holds no checkpoint blocks and is
    left alone, as is a frame whose SparkContext has stopped (its block
    manager went with it).  Idempotent.
    """
    jdf = frame._jdf
    plan = jdf.queryExecution().analyzed()
    if (
        plan.nodeName() == "LogicalRDD"
        and not jdf.sparkSession().sparkContext().isStopped()
    ):
        plan.rdd().unpersist(False)


# ---------------------------------------------------------------------------
# Session-artifact store
# ---------------------------------------------------------------------------

# family name -> {(applicationId, sf_dir, *extra_key): value}.  Every
# family's dict exists up front, so builds running on two threads (the
# base Bloom index builds beside the compaction chain) only ever write
# their own family's dict, never this one.
ARTIFACT_FAMILIES: dict[str, dict[tuple, Any]] = {
    name: {}
    for name in (
        "simhash", "bm25", "pq", "bpe", "bloom", "skipscan",
        "excerpt_shingles", "doc_shingles", "minhash_pairs", "doc_bands",
        "emb_count", "tables",
    )
}


def artifact(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    build: Callable[[], Any],
    *extra_key: Any,
) -> Any:
    """Return the ``family`` artifact of this (session, sf_dir), building
    it with ``build()`` on the first request.

    Shared artifacts (index, model and layout frames, a few scalars and
    reader plans) are built once and read by every later registry row
    over the same corpus.  Each family holds ONE corpus at a time: a
    build drops, and frees the checkpoint blocks of, the family's entries
    for any other (applicationId, sf_dir), so a session that switches
    sf_dir (the bench at sf0.1, then the gate at sf0.01) never leaks
    block-manager memory.  Family granularity is also what the bench
    charges builds by: it diffs :func:`artifact_family_keys` around a
    row's first run and releases the families that row built before the
    rerun, so each build stays in the time of the row that paid it
    instead of vanishing into a cache hit.
    """
    cache = ARTIFACT_FAMILIES[family]
    scope = (spark.sparkContext.applicationId, sf_dir)
    key = scope + extra_key
    if key in cache:
        return cache[key]
    value = build()
    for old in [k for k in cache if k[:2] != scope]:
        _free(cache.pop(old))
    cache[key] = value
    return value


def _free(value: Any) -> None:
    """Release the checkpoint blocks of every frame an artifact holds."""
    from .operators.retrieval import BM25Index

    if isinstance(value, DataFrame):
        release_checkpoint(value)
    elif isinstance(value, BM25Index):
        value.unpersist()
    elif isinstance(value, dict):
        for v in value.values():
            _free(v)
    elif isinstance(value, tuple):
        for v in value:
            _free(v)


def artifact_family_keys() -> dict[str, frozenset]:
    """Snapshot of each artifact family's populated keys -- diff two
    snapshots to learn which families a query execution BUILT (vs served
    from the store)."""
    return {fam: frozenset(cache) for fam, cache in ARTIFACT_FAMILIES.items()}


def release_artifact_families(names) -> int:
    """Evict the named artifact families (free checkpoint blocks + clear),
    restoring the fresh-session view a first consumer would see.  Unknown
    names fail loudly.  Returns how many families were evicted."""
    n = 0
    for name in names:
        cache = ARTIFACT_FAMILIES[name]
        while cache:
            _free(cache.popitem()[1])
        n += 1
    return n
