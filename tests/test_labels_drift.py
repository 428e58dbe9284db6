"""Unit tests for the round-13 supervision/monitoring operators:
majority-vote label resolution, pairwise Cohen's kappa, per-entity
temporal holdout, and PSI snapshot drift."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from confluent_data_ingestion_spark.operators.labels import (
    majority_label,
    pairwise_kappa,
)
from confluent_data_ingestion_spark.operators.sampling import (
    temporal_holdout_split,
)
from confluent_data_ingestion_spark.operators.stats import psi_drift_report


def test_majority_label_tiebreak_skips_and_unanimity(spark):
    df = spark.createDataFrame(
        [
            (1, "cat", "cat", "dog"),    # majority cat
            (2, "dog", "cat", None),     # 1-1 tie -> lexical: cat
            (3, "owl", "owl", "owl"),    # unanimous
            (4, None, None, None),       # all skipped -> absent
            (5, "cat", None, None),      # single vote resolves
        ],
        "item long, a string, b string, c string",
    )
    got = {
        r["item"]: (r["label"], r["votes"], r["n_votes"], r["unanimous"])
        for r in majority_label(df, "item", ["a", "b", "c"]).collect()
    }
    assert got == {
        1: ("cat", 2, 3, False),
        2: ("cat", 1, 2, False),
        3: ("owl", 3, 3, True),
        5: ("cat", 1, 1, True),
    }


def test_pairwise_kappa_known_values_and_degenerate_pair(spark):
    # a vs b: agree only on item 1 -> po = 0.25; marginals
    # a: {x: 2/4, y: 2/4}, b: {x: 3/4, y: 1/4}
    # pe = 0.5*0.75 + 0.5*0.25 = 0.5 -> kappa = (0.25 - 0.5)/0.5 = -0.5
    # a vs c: c constant "x" -> pe = pa(x)*1 = 0.5 < 1 -> defined
    # b vs b2 (both constant x) -> pe = 1 -> kappa NULL
    df = spark.createDataFrame(
        [
            (1, "x", "x", "x", "x"),
            (2, "x", "y", "x", "x"),
            (3, "y", "x", "x", "x"),
            (4, "y", "x", "x", "x"),
        ],
        "item long, a string, b string, c string, b2 string",
    )
    got = {
        (r["rater_a"], r["rater_b"]): r
        for r in pairwise_kappa(df, ["a", "b", "c", "b2"]).collect()
    }
    ab = got[("a", "b")]
    assert ab["n_items"] == 4
    assert ab["observed_agreement"] == 0.25
    assert ab["expected_agreement"] == 0.5
    assert ab["kappa"] == -0.5
    assert got[("c", "b2")]["kappa"] is None  # both constant -> pe == 1
    assert got[("c", "b2")]["expected_agreement"] == 1.0


def test_pairwise_kappa_needs_two(spark):
    df = spark.createDataFrame([(1, "x")], "item long, a string")
    with pytest.raises(ValueError, match="two annotators"):
        pairwise_kappa(df, ["a"])


def test_temporal_holdout_no_test_before_train(spark):
    df = spark.createDataFrame(
        [(u, t, u * 100 + t) for u in range(5) for t in range(1 + u * 3)],
        "user long, t long, eid long",
    )
    out = temporal_holdout_split(df, "user", "t", "eid", train_frac=0.8)
    # per user: max train time <= min test time, and both halves ordered
    agg = (
        out.groupBy("user")
        .agg(
            F.max(F.when(F.col("split") == "train", F.col("t")))
            .alias("max_train"),
            F.min(F.when(F.col("split") == "test", F.col("t")))
            .alias("min_test"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .alias("n_train"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in agg:
        if r["min_test"] is not None:
            assert r["max_train"] <= r["min_test"]
        # single-row entity guarded into train
        assert r["n_train"] >= 1
        if r["n"] == 1:
            assert r["min_test"] is None
        else:
            assert r["n_train"] == max(int(r["n"] * 0.8), 1)


def test_temporal_holdout_frac_validated(spark):
    df = spark.createDataFrame([(1, 1, 1)], "user long, t long, eid long")
    with pytest.raises(ValueError, match="train_frac"):
        temporal_holdout_split(df, "user", "t", "eid", train_frac=1.0)


def test_psi_zero_on_identical_snapshots_and_positive_on_shift(spark):
    base = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i % 50)) for i in range(1000)],
        "id long, cat string, v double",
    )
    same = psi_drift_report(
        base, base, cat_cols=["cat"], num_cols={"v": 10.0}
    ).collect()
    assert {r["feature"] for r in same} == {"cat", "v"}
    for r in same:
        assert abs(r["psi"]) < 1e-9  # identical shares -> every term 0
        assert r["base_rows"] == r["cur_rows"] == 1000
    shifted = base.withColumn(
        "cat", F.when(F.col("id") % 10 < 9, "a").otherwise("b")
    )
    drift = {
        r["feature"]: r["psi"]
        for r in psi_drift_report(base, shifted, cat_cols=["cat"]).collect()
    }
    assert drift["cat"] > 0.2  # 50/50 -> 90/10 is a flagged shift


def test_psi_requires_features(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="no features"):
        psi_drift_report(df, df)


def test_hard_negative_mining_filters_and_ranks(spark):
    from confluent_data_ingestion_spark.operators.similarity import (
        hard_negative_mining,
    )

    rows = [
        # anchor 0: label A at the origin direction
        (0, "A", [1.0, 0.0]),
        (1, "A", [0.99, 0.14]),   # same label -> never a negative
        (2, "B", [1.0, 0.001]),   # different label but cos > 0.95 -> dup
        (3, "B", [0.8, 0.6]),     # hard negative (cos 0.8)
        (4, "B", [0.0, 1.0]),     # easy negative (cos 0)
        (5, "C", [0.6, 0.8]),     # hard negative (cos 0.6)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    got = hard_negative_mining(
        df, df.filter("vec_id = 0"), k=2
    ).collect()
    pairs = [(r["neighbor_id"], r["rn"]) for r in got]
    assert pairs == [(3, 1), (5, 2)]  # ranked by cosine desc
    assert all(r["query_label"] == "A" and r["neighbor_label"] != "A"
               for r in got)
    # dup-threshold exclusion really dropped the 0.999-cosine conflict
    assert 2 not in {r["neighbor_id"] for r in got}


def test_dawid_skene_downweights_biased_rater(spark):
    """The classic Dawid-Skene win over majority vote: raters a and b
    are consistently correct, rater c always votes 'x' regardless of
    the item.  On an item where only a ('y') and c ('x') voted, the
    majority is a lexical-tie coin flip — DS learns c's confusion row
    (votes x for everything) carries no evidence and resolves 'y'."""
    from confluent_data_ingestion_spark.operators.labels import dawid_skene

    rows = []
    for i in range(20):
        true = "x" if i % 2 == 0 else "y"
        rows += [(i, "a", true), (i, "b", true), (i, "c", "x")]
    rows += [(100, "a", "y"), (100, "c", "x")]
    v = spark.createDataFrame(rows, "item long, rater string, label string")
    out = {
        r["item"]: (r["label"], r["confidence"], r["n_votes"])
        for r in dawid_skene(v, iterations=2).collect()
    }
    assert out[100][0] == "y" and out[100][1] > 0.7
    assert out[100][2] == 2
    # clean items stay resolved to the consistent majority
    assert out[0][0] == "x" and out[1][0] == "y"
    assert out[0][1] > 0.99
    # the operator track()s its EM frames; direct calls (no registry
    # wrapper) release them here so later cache-count tests see a
    # stable baseline
    from confluent_data_ingestion_spark.caching import release_caches

    release_caches()


def test_dawid_skene_validates_iterations(spark):
    from confluent_data_ingestion_spark.operators.labels import dawid_skene

    v = spark.createDataFrame(
        [(1, "a", "x")], "item long, rater string, label string"
    )
    with pytest.raises(ValueError, match="iterations"):
        dawid_skene(v, iterations=0)


def test_dawid_skene_wide_driver_em_matches_long_form(spark):
    """The wide path's driver-side EM (bounded pattern collect) must be
    bit-identical to the long-form frame EM: same labels, 6-dp-exact
    posteriors, same n_votes — including on items where raters skipped
    (NULL votes) and on lexical-tie argmax rows."""
    from confluent_data_ingestion_spark.caching import release_caches
    from confluent_data_ingestion_spark.operators.labels import (
        dawid_skene,
        dawid_skene_wide,
    )

    wide_rows = []
    for i in range(30):
        true = ["x", "y", "z"][i % 3]
        wide_rows.append((
            i,
            true,
            true if i % 5 else None,          # b skips every 5th item
            "x" if i % 2 == 0 else "y",        # c is a biased voter
        ))
    wide_rows.append((100, "y", None, "x"))    # 1-1 split, tie-break row
    df = spark.createDataFrame(
        wide_rows, "item long, a string, b string, c string"
    )
    got = {
        r["item"]: (r["label"], r["confidence"], r["n_votes"])
        for r in dawid_skene_wide(
            df, item_col="item", rater_cols=["a", "b", "c"], iterations=2
        ).collect()
    }
    melted = []
    for item, a, b, c in wide_rows:
        for rater, lbl in (("a", a), ("b", b), ("c", c)):
            if lbl is not None:
                melted.append((item, rater, lbl))
    v = spark.createDataFrame(
        melted, "item long, rater string, label string"
    )
    want = {
        r["item"]: (r["label"], r["confidence"], r["n_votes"])
        for r in dawid_skene(v, iterations=2).collect()
    }
    release_caches()
    assert got == want  # confidences are 6-dp-quantized doubles: exact ==


def test_dawid_skene_wide_matches_long_form_across_the_pattern_bound(
    spark, monkeypatch
):
    """With the driver bound at the input's distinct-pattern count P the
    wide path runs the driver EM; at P - 1 it explodes the pattern map
    and runs the long-form frame EM.  Both must equal ``dawid_skene``
    over the melted votes, column for column and bit for bit.  The
    labels carry a backslash and a quote, some votes are NULL, one item
    has no vote at all, and one item is an exact posterior tie that the
    lexical tie-break resolves."""
    from confluent_data_ingestion_spark.caching import release_caches
    from confluent_data_ingestion_spark.operators import labels

    X, Y = "x\\", "y'z"
    swap = {X: Y, Y: X, None: None}
    base = []
    for i in range(12):
        base.append((
            i,
            X if i % 3 else Y,
            (Y if i % 2 else X) if i % 4 else None,   # b skips some items
            Y if i % 5 == 0 else X,
        ))
    # add each row's image under (swap the two labels, swap raters a and
    # b): the votes are then symmetric, so the item (a=X, b=Y) scores
    # both classes with the same integers and the tie-break picks X
    wide_rows = base + [
        (i + 1000, swap[b], swap[a], swap[c]) for i, a, b, c in base
    ]
    wide_rows += [(100, X, Y, None), (200, None, None, None)]
    df = spark.createDataFrame(
        wide_rows, "item long, a string, b string, c string"
    )
    melted = [
        (item, rater, lbl)
        for item, *votes in wide_rows
        for rater, lbl in zip("abc", votes)
        if lbl is not None
    ]
    n_patterns = len({
        tuple(sorted((r, lbl) for r, lbl in zip("abc", votes)
                     if lbl is not None))
        for _item, *votes in wide_rows
        if any(v is not None for v in votes)
    })

    def rows(frame):
        return frame.dtypes, {
            r["item"]: (r["label"], r["confidence"], r["n_votes"])
            for r in frame.collect()
        }

    want = rows(labels.dawid_skene(
        spark.createDataFrame(
            melted, "item long, rater string, label string"
        ),
        iterations=2,
    ))
    assert want[1][100] == (X, 0.5, 2)
    assert 200 not in want[1]

    driver_calls = []
    real_driver = labels._dawid_skene_driver

    def spy(*args, **kwargs):
        driver_calls.append(1)
        return real_driver(*args, **kwargs)

    monkeypatch.setattr(labels, "_dawid_skene_driver", spy)
    for bound, n_driver_calls in ((n_patterns, 1), (n_patterns - 1, 1)):
        monkeypatch.setattr(labels, "_DRIVER_EM_MAX_PATTERNS", bound)
        got = rows(labels.dawid_skene_wide(
            df, item_col="item", rater_cols=["a", "b", "c"], iterations=2
        ))
        assert len(driver_calls) == n_driver_calls, bound
        assert got == want, bound  # 6-dp-quantized doubles: exact ==
    release_caches()
