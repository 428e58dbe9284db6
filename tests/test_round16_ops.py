"""Round-16 regression tests: the r15 verdict's open items — bench
artifact-family eviction (the medium: a builder row's min-of-2 rerun
must not serve the session cache and drop the build cost from the map),
the UniqueKeyMonitor column-identity/empty-path fixes, per-round
convergence probing in the star-contraction cap region, the Dawid-Skene
bigint exactness precondition, and the bitext corpus-drift width pin."""

from __future__ import annotations

import tempfile

import pytest

import confluent_data_ingestion_spark.queries as Q
from confluent_data_ingestion_spark.operators.cluster import (
    connected_components,
)
from confluent_data_ingestion_spark.operators.labels import dawid_skene
from confluent_data_ingestion_spark.streaming.contracts import (
    UniqueKeyMonitor,
)


# ---------------------------------------------------------------------------
# shared-artifact families: the bench rerun's eviction seam
# ---------------------------------------------------------------------------


def test_artifact_family_build_is_observable_and_evictable(spark, sf_dir):
    """The bench loop diffs artifact_family_keys() around a query's
    first timing run to learn what it BUILT, then evicts exactly those
    families before the rerun — so a builder row's recorded min pays
    the build both times, instead of recording the cache hit (r15
    verdict: dedup_simhash_pairs recorded 0.015 s while the 3.7 s
    signature build appeared in no row)."""
    Q.release_artifact_families(["bpe"])  # fresh regardless of test order
    before = Q.artifact_family_keys()
    assert before["bpe"] == frozenset()

    Q._bpe_shared_merges(spark, sf_dir)
    built = [
        fam for fam, keys in Q.artifact_family_keys().items()
        # the reader-plan memo ('tables') is populated lazily by ANY _t
        # call, so whether it shows up here depends on test order — the
        # frame-artifact accounting under test must not
        if keys - before[fam] and fam != "tables"
    ]
    assert built == ["bpe"]

    assert Q.release_artifact_families(built) == 1
    assert Q.artifact_family_keys()["bpe"] == frozenset()

    # a consumer after eviction rebuilds transparently (same rows)
    merges = Q._bpe_shared_merges(spark, sf_dir)
    assert merges.count() > 0
    assert Q.artifact_family_keys()["bpe"] != frozenset()


def test_release_artifact_families_unknown_name_fails_loudly():
    with pytest.raises(KeyError):
        Q.release_artifact_families(["no_such_family"])


def test_artifact_switch_eviction_frees_checkpoint_blocks(spark):
    """A build for a new sf_dir drops the family's entry for the old one
    AND frees its checkpoint blocks, whatever the value's shape: a bare
    frame, a tuple or a dict of frames (a scalar is dropped as is).  The
    assertions track the RDD ids this test pinned, polled because the
    release is non-blocking (see test_bm25_index_unpersist_releases_blocks
    for why a global count does not work)."""
    import time

    def persistent_ids() -> set:
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet().toArray()
        }

    def pinned(build):
        before = persistent_ids()
        value = build()
        ids = persistent_ids() - before
        assert ids, "localCheckpoint no longer pins a persistent RDD"
        return value, ids

    def ckpt(n):
        return spark.range(n).localCheckpoint()

    def gone(ids) -> bool:
        deadline = time.monotonic() + 90
        while ids & persistent_ids() and time.monotonic() < deadline:
            time.sleep(0.1)
        return not ids & persistent_ids()

    fam = Q.ARTIFACT_FAMILIES["bpe"]
    Q.release_artifact_families(["bpe"])
    try:
        frame, frame_ids = pinned(lambda: ckpt(10))
        pair, pair_ids = pinned(lambda: (ckpt(11), ckpt(12)))
        arts, arts_ids = pinned(lambda: {"a": ckpt(13), "b": ckpt(14)})
        values = [(frame, frame_ids), (pair, pair_ids), (arts, arts_ids),
                  (7, set())]
        for i, (value, ids) in enumerate(values):
            sf = f"/switch/sf{i}"
            assert Q.artifact(spark, sf, "bpe", lambda v=value: v) is value
            # a hit on the same key returns the stored value, no build
            assert Q.artifact(spark, sf, "bpe", lambda: 1 / 0) is value
            assert [k[1] for k in fam] == [sf]
            assert ids <= persistent_ids(), "the stored value was freed"
            if i:
                prev_ids = values[i - 1][1]
                assert gone(prev_ids), (
                    f"switching to {sf} left the replaced entry's "
                    "checkpoint blocks pinned"
                )
    finally:
        Q.release_artifact_families(["bpe"])


def test_artifact_build_after_session_restart():
    """A build in a new session drops the stopped session's entries
    without a release: the stopped context's blocks went with its block
    manager, and releasing through it raises.  Runs in a child process,
    since it must stop its session."""
    import os
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent("""
        from pyspark.sql import SparkSession
        from confluent_data_ingestion_spark.caching import (
            ARTIFACT_FAMILIES, artifact,
        )

        def session():
            return (SparkSession.builder.master("local[1]")
                    .config("spark.ui.enabled", "false").getOrCreate())

        for _ in range(2):
            s = session()
            artifact(s, "/sf", "bpe", lambda: s.range(5).localCheckpoint())
            s.stop()
        assert len(ARTIFACT_FAMILIES["bpe"]) == 1
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True, timeout=600
    )


def test_artifact_registry_covers_every_session_cache():
    """Every module-level artifact cache in the query registry must be
    one of the session-artifact store's family dicts — a cache kept
    outside the store would have no eviction and would silently reopen
    the bench attribution hole."""
    registered = {id(c) for c in Q.ARTIFACT_FAMILIES.values()}
    for name in dir(Q):
        if name.endswith("_CACHE") and isinstance(getattr(Q, name), dict):
            assert id(getattr(Q, name)) in registered, (
                f"{name} is not registered in ARTIFACT_FAMILIES"
            )


# ---------------------------------------------------------------------------
# UniqueKeyMonitor: column identity + empty path (r15 ADVICE)
# ---------------------------------------------------------------------------


def test_unique_monitor_empty_path_gives_empty_report(spark):
    path = tempfile.mkdtemp(prefix="cdis-ukm-empty-")
    rep = UniqueKeyMonitor(path, ["k"]).snapshot(spark)
    assert rep.count() == 0
    assert rep.columns == ["check", "column", "observed", "threshold",
                           "status"]


def test_unique_monitor_rejects_reordered_columns(spark):
    """Partials persist the column NAME next to its index; a monitor
    re-instantiated with a reordered list must fail loudly, not merge
    stale digests under the wrong column."""
    path = tempfile.mkdtemp(prefix="cdis-ukm-reord-")
    writer = UniqueKeyMonitor(path, ["k", "g"])
    writer.apply(
        spark.createDataFrame([(1, "x"), (2, "x")], "k long, g string"), 0
    )
    with pytest.raises(ValueError, match="written for columns"):
        UniqueKeyMonitor(path, ["g", "k"]).snapshot(spark)


def test_unique_monitor_rejects_different_column_set(spark):
    path = tempfile.mkdtemp(prefix="cdis-ukm-diff-")
    UniqueKeyMonitor(path, ["k"]).apply(
        spark.createDataFrame([(1,)], "k long"), 0
    )
    with pytest.raises(ValueError, match="UniqueKeyMonitor"):
        UniqueKeyMonitor(path, ["other"]).snapshot(spark)


def test_unique_monitor_same_columns_still_green(spark):
    """The validation must not reject the legitimate case: a NEW monitor
    instance over existing partials with the SAME column list resumes
    cumulative monitoring (process restart)."""
    path = tempfile.mkdtemp(prefix="cdis-ukm-resume-")
    UniqueKeyMonitor(path, ["k"]).apply(
        spark.createDataFrame([(1,), (2,)], "k long"), 0
    )
    resumed = UniqueKeyMonitor(path, ["k"])
    resumed.apply(spark.createDataFrame([(2,)], "k long"), 1)
    row = resumed.snapshot(spark).collect()[0]
    assert abs(row["observed"] - round(2 / 3, 6)) < 2e-6


# ---------------------------------------------------------------------------
# star contraction: per-round probing near the iteration cap
# ---------------------------------------------------------------------------


def test_star_cap_region_detects_convergence_per_round(spark):
    """A 33-node chain converges in 6 star rounds; with max_iter=6 the
    run only succeeds because the last three rounds before the cap all
    probe — under pure every-second-round probing, detection trails the
    fixed point by up to two rounds and this exact budget would raise
    (r15 ADVICE).  max_iter should size the contraction depth, not the
    probe cadence."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    out = connected_components(
        chain, pairs_distinct=True, algorithm="star", max_iter=6,
        stats=stats,
    )
    assert stats["rounds"] == 6  # full budget used — the cap region fired
    assert out.filter("cluster_id = 0").count() == 33


# ---------------------------------------------------------------------------
# Dawid-Skene: bigint fixed-point exactness precondition (r15 ADVICE)
# ---------------------------------------------------------------------------


def test_dawid_skene_enforces_class_count_bound(spark):
    """n_classes * 1e12 must stay below 2^53 for the pico-unit softmax
    denominator to be 1-ulp-exact vs the DECIMAL oracle; the bound is
    enforced before any EM work, not just documented."""
    votes = spark.range(9000).selectExpr(
        "1L as item_id", "id as rater_id", "cast(id as string) as label"
    )
    with pytest.raises(ValueError, match="9000"):
        dawid_skene(votes, item_col="item_id", rater_col="rater_id",
                    label_col="label", iterations=1)


# ---------------------------------------------------------------------------
# bitext width pin: corpus drift fails loudly, and no count jobs
# ---------------------------------------------------------------------------


def test_bitext_corpus_drift_fails_loudly(spark, sf_dir):
    """The registry row's DuckDB oracle hard-pins width-4 band keys; if
    the corpus grows into the width-8 regime the row must raise, not
    silently hash-mismatch (r15 ADVICE).  Simulated via the memoized
    corpus count the row feeds to the auto-width law."""
    key = (spark.sparkContext.applicationId, sf_dir)
    counts = Q.ARTIFACT_FAMILIES["emb_count"]
    old = dict(counts)
    try:
        counts.clear()
        counts[key] = 500_000  # width-8+ regime
        with pytest.raises(AssertionError, match="re-pin the oracle"):
            Q.QUERIES["bitext_mutual_margin"](spark, sf_dir)
    finally:
        counts.clear()
        counts.update(old)


def test_bitext_row_memoizes_corpus_count(spark, sf_dir):
    """After one invocation the embeddings count is memoized per
    (session, sf_dir) — the n_hint path never re-runs count jobs
    (two full-scan jobs per invocation at cluster scale, r15 verdict)."""
    Q.release_artifact_families(["emb_count"])
    df = Q.QUERIES["bitext_mutual_margin"](spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    assert Q.ARTIFACT_FAMILIES["emb_count"].get(key, 0) > 0
    assert df.columns == ["a_id", "b_id", "cosine", "margin"]


# ---------------------------------------------------------------------------
# ngram_containment_pairs: asymmetric near-dup (excerpt detection)
# ---------------------------------------------------------------------------


def test_containment_finds_excerpt_jaccard_misses(spark):
    """A 10-word excerpt of a 20-word parent shares 6 of 16 distinct
    5-gram shingles (Jaccard 0.375, below a 0.8 near-dup bar) but all 6
    of its OWN shingles (containment 1.0) — the directed score flags
    the pair and names the excerpt side."""
    from confluent_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words[:10])),          # excerpt: first half
            (3, " ".join(f"z{i}" for i in range(12))),  # unrelated
        ],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs(docs, n=5, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["contained_doc"] == 2


def test_containment_tie_resolves_to_smaller_id(spark):
    from confluent_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    text = " ".join(f"w{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(7, text), (9, text)], "doc_id long, text string"
    )
    r = ngram_containment_pairs(docs, n=5, threshold=0.8).collect()[0]
    assert r["containment"] == 1.0
    assert r["contained_doc"] == 7  # equal sizes -> doc_a (smaller id)


def test_containment_df_cap_drops_boilerplate_shingles(spark):
    """A shingle shared by more docs than max_group_size is removed from
    posting lists AND size counts — the capped feature space, same
    semantics as ngram_jaccard_pairs."""
    from confluent_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    boiler = "b0 b1 b2 b3 b4"  # one shared 5-gram across ALL docs
    docs = spark.createDataFrame(
        [(i, boiler + f" u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(4)],
        "doc_id long, text string",
    )
    # cap=3 < 4 docs: the boilerplate shingle is dropped everywhere; the
    # remaining per-doc shingles are unique, so NO pair survives
    assert ngram_containment_pairs(
        docs, n=5, threshold=0.1, max_group_size=3
    ).count() == 0


# ---------------------------------------------------------------------------
# containment_verify_pairs: the containment scale path
# ---------------------------------------------------------------------------


def test_containment_verify_scores_only_candidates(spark):
    """Verification is pair-scoped: a true containment pair NOT in the
    candidate frame is never scored (the generator owns recall); a
    candidate pair sharing no shingle scores 0 and drops."""
    from confluent_data_ingestion_spark.operators.dedup import (
        containment_verify_pairs,
    )

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words[:10])),           # excerpt of 1
            (3, " ".join(words[10:])),           # excerpt of 1 (2nd half)
            (4, " ".join(f"z{i}" for i in range(12))),  # unrelated
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 4)], "doc_a long, doc_b long"  # (1,3) NOT offered
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in containment_verify_pairs(
        docs, cand, n=5, threshold=0.8
    ).collect()}
    assert set(rows) == {(1, 2)}          # (1,4) scored 0, (1,3) unscored
    assert rows[(1, 2)]["containment"] == 1.0
    assert rows[(1, 2)]["contained_doc"] == 2


def test_containment_verify_matches_allpairs_on_offered_pairs(spark, sf_dir):
    """On the pairs the LSH generator DOES offer, the verified scores
    must equal the exact all-pairs row's scores — the same
    exactness-on-candidates contract as jaccard_verify_pairs."""
    from confluent_data_ingestion_spark.operators.dedup import (
        containment_verify_pairs,
        minhash_lsh_pairs,
        ngram_containment_pairs,
    )
    from confluent_data_ingestion_spark.queries import _excerpt_corpus

    corpus = _excerpt_corpus(spark, sf_dir)
    cand = minhash_lsh_pairs(corpus, n=5)
    verified = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["contained_doc"])
        for r in containment_verify_pairs(
            corpus, cand, n=5, threshold=0.8
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["contained_doc"])
        for r in ngram_containment_pairs(
            corpus, n=5, threshold=0.8, max_group_size=None
        ).collect()
    }
    assert verified  # the generator offers a non-empty candidate set
    for pair, scored in verified.items():
        assert exact[pair] == scored
    # and the recall gap is real: the exact row sees pairs LSH missed
    assert set(verified) <= set(exact)


# ---------------------------------------------------------------------------
# ngram_diversity: per-group distinct-n corpus diversity
# ---------------------------------------------------------------------------


def test_ngram_diversity_exact_counts_and_guards(spark):
    """Counts are exact and per-document (no cross-doc bigrams); empty /
    1-token / NULL documents contribute no grams and trip neither the
    descending-sequence hazard nor the ratio division."""
    from confluent_data_ingestion_spark.operators.text import (
        ngram_diversity,
    )

    docs = spark.createDataFrame(
        [
            ("a", "x y x"),       # uni: x,y,x  bi: "x y","y x"
            ("a", "y x"),         # uni: y,x    bi: "y x"
            ("a", ""),            # nothing (empty after filter)
            ("a", None),          # nothing
            ("b", "solo"),        # 1 token, no bigram
        ],
        "source string, text string",
    )
    rep = {r["source"]: r for r in ngram_diversity(docs).collect()}
    a = rep["a"]
    assert (a["n_docs"], a["n_tokens"], a["distinct_tokens"]) == (4, 5, 2)
    assert a["ttr"] == 0.4
    # bigrams: "x y", "y x" (doc1) + "y x" (doc2) — never "x y" across
    # the doc boundary of doc2+doc3
    assert (a["n_bigrams"], a["distinct_bigrams"]) == (3, 2)
    assert a["distinct2"] == round(2 / 3, 6)
    b = rep["b"]
    assert (b["n_docs"], b["n_tokens"], b["n_bigrams"]) == (1, 1, 0)
    assert b["distinct2"] is None  # zero bigrams -> NULL ratio, no 1/0
