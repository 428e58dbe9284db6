"""Distributed BPE training vs a pure-Python reference implementation
(greedy most-frequent-pair merges, count-desc/lexicographic tiebreak)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F


def _py_bpe(texts, n_merges):
    """Independent reference: Sennrich-style BPE on whitespace words."""
    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    segs = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, cnt in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            break
        (a, b), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, a + b, pc))
        for w in segs:
            s, out, carry = segs[w], [], None
            for x in s:
                if carry is None:
                    carry = x
                elif carry == a and x == b:
                    out.append(a + b)
                    carry = None
                else:
                    out.append(carry)
                    carry = x
            if carry is not None:
                out.append(carry)
            segs[w] = out
    return merges, segs


def _texts(spark, sf_dir, n=60):
    from confluent_data_ingestion_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    sub = docs.filter(F.col("doc_id") % 8 == 0).select("doc_id", "text")
    return sub, [r.text for r in sub.collect()]


def test_merges_match_python_reference(spark, sf_dir, monkeypatch):
    """With the driver bound at the vocabulary size V the merge loop
    runs driver-side; at V - 1 the distributed loop runs.  Both must
    equal the pure-Python reference — on the documents sample and on a
    corpus whose pairs run out before ``n_merges``."""
    from confluent_data_ingestion_spark.operators import tokenize

    driver_calls = []
    real_driver = tokenize._bpe_train_driver

    def spy(*args, **kwargs):
        driver_calls.append(1)
        return real_driver(*args, **kwargs)

    monkeypatch.setattr(tokenize, "_bpe_train_driver", spy)
    sub, texts = _texts(spark, sf_dir)
    short = ["ab ab", "abc", "  c "]
    short_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(short)], "doc_id long, text string"
    )
    for df, corpus, n_merges in ((sub, texts, 8), (short_df, short, 5)):
        want, _ = _py_bpe(corpus, n_merges)
        vocab = len({w for t in corpus for w in t.split(" ") if w})
        for bound, driver in ((vocab, True), (vocab - 1, False)):
            monkeypatch.setattr(tokenize, "_DRIVER_BPE_MAX_VOCAB", bound)
            driver_calls.clear()
            got = [
                (r.left, r.right, r.merged, r.pair_count)
                for r in tokenize.bpe_train_merges(df, n_merges=n_merges)
                .orderBy("rank").collect()
            ]
            assert bool(driver_calls) == driver, bound
            assert got == want, bound
    assert len(_py_bpe(short, 5)[0]) == 2  # the short corpus runs out


def test_segment_matches_python_reference(spark, sf_dir):
    from confluent_data_ingestion_spark.operators.tokenize import (
        bpe_segment, bpe_train_merges,
    )

    sub, texts = _texts(spark, sf_dir)
    merges = bpe_train_merges(sub, n_merges=6)
    _, segs = _py_bpe(texts, 6)
    out = bpe_segment(sub, merges).collect()
    for r in out:
        want = [segs[w] for w in r.text.split(" ") if w]
        got = [list(t) for t in r.tokens if t]
        assert got == want, r.text

    # segmentation is lossless: concatenating tokens restores each word
    # (empty words are dropped before segmenting, mirroring training)
    for r in out:
        words = [w for w in r.text.split(" ") if w]
        assert len(words) == len(r.tokens)
        for w, toks in zip(words, r.tokens):
            assert "".join(toks) == w


def test_segment_irregular_whitespace_drops_empty_words(spark):
    """Consecutive/leading/trailing spaces yield empty words; training's
    word table drops them, so segmentation must too — otherwise the
    engine emits an empty token the SQL oracle (which inner-joins on
    non-empty words) never sees, shifting every later position."""
    from confluent_data_ingestion_spark.operators.tokenize import (
        bpe_segment, bpe_train_merges,
    )

    texts = ["ab  ab ab", " ab ab", "ab ab ", "cd  cd", "   "]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train_merges(df, n_merges=2)
    _, segs = _py_bpe(texts, 2)
    got = {r.doc_id: [list(t) for t in r.tokens]
           for r in bpe_segment(df, merges).collect()}
    for i, t in enumerate(texts):
        want = [segs[w] for w in t.split(" ") if w]
        assert got[i] == want, t


def test_segment_plan_is_zero_shuffle(spark, sf_dir):
    from confluent_data_ingestion_spark.operators.tokenize import (
        bpe_segment, bpe_train_merges,
    )

    sub, _ = _texts(spark, sf_dir)
    merges = bpe_train_merges(sub, n_merges=3)
    plan = (
        bpe_segment(sub, merges)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_n_merges_validation(spark, sf_dir):
    from confluent_data_ingestion_spark.operators.tokenize import (
        bpe_train_merges,
    )

    sub, _ = _texts(spark, sf_dir)
    with pytest.raises(ValueError):
        bpe_train_merges(sub, n_merges=0)
