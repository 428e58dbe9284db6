"""Unit tests for temporal joins (as-of / interval / sessionize) and the
chunking + keyword-extraction text operators."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from confluent_data_ingestion_spark.operators.temporal import (
    asof_join,
    interval_join,
    sessionize,
)
from confluent_data_ingestion_spark.operators.text import (
    chunk_documents,
    top_terms,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive_and_nulls(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-05T00:00:00")),  # after both quotes
            (2, 10, _ts("2024-01-02T00:00:00")),  # exactly at quote 2 (inclusive)
            (3, 10, _ts("2024-01-01T11:59:59")),  # only quote 1 precedes
            (4, 20, _ts("2024-01-05T00:00:00")),  # key with no right rows
        ],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T00:00:00"), 1.0),
            (101, 10, _ts("2024-01-02T00:00:00"), 2.0),
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = asof_join(
        left, right,
        left_on="uid", right_on="uid",
        left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid",
    )
    got = {r["event_id"]: (r["asof_qid"], r["asof_px"]) for r in out.collect()}
    assert got == {1: (101, 2.0), 2: (101, 2.0), 3: (100, 1.0), 4: (None, None)}


def test_asof_join_null_value_in_latest_right_row(spark):
    """All attached values must come from ONE right row — the latest match.
    A NULL value col in that row must surface as NULL, not as the older
    row's non-null value bleeding through a per-column ignorenulls carry."""
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-05T00:00:00"))],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T00:00:00"), 1.0),
            (101, 10, _ts("2024-01-02T00:00:00"), None),  # latest: px NULL
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = asof_join(
        left, right,
        left_on="uid", right_on="uid",
        left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid",
    ).collect()
    assert (out[0]["asof_qid"], out[0]["asof_px"]) == (101, None)


def test_asof_join_tie_break_max_tie_col(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-02T00:00:00"))], "event_id long, uid long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T00:00:00"), 1.0),
            (103, 10, _ts("2024-01-01T00:00:00"), 3.0),
            (102, 10, _ts("2024-01-01T00:00:00"), 2.0),
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = asof_join(
        left, right,
        left_on="uid", right_on="uid",
        left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid",
    ).collect()
    assert (out[0]["asof_qid"], out[0]["asof_px"]) == (103, 3.0)


def test_interval_join_boundaries_and_cross_bucket(spark):
    base = _ts("2024-01-01T00:00:00")
    left = spark.createDataFrame(
        [(1, 7, base)], "lid long, k long, t timestamp"
    )
    sec = dt.timedelta(seconds=1)
    right = spark.createDataFrame(
        [
            (10, 7, base),                  # gap 0: excluded (strict lower)
            (11, 7, base + 60 * sec),       # inside
            (12, 7, base + 3600 * sec),     # exactly upper: included
            (13, 7, base + 3601 * sec),     # past upper: excluded
            (14, 8, base + 60 * sec),       # other key: excluded
            (15, 7, base - 1 * sec),        # before left: excluded
        ],
        "rid long, k long, t timestamp",
    )
    out = interval_join(
        left, right,
        left_on="k", right_on="k", left_time="t", right_time="t",
        lower_seconds=0, upper_seconds=3600,
    )
    assert sorted(r["rid_r"] for r in out.collect()) == [11, 12]


def test_interval_join_emits_each_pair_once(spark):
    # right row lands mid-bucket while left probes two buckets — the pair
    # must still appear exactly once.
    base = _ts("2024-01-01T00:59:00")
    left = spark.createDataFrame([(1, 7, base)], "lid long, k long, t timestamp")
    right = spark.createDataFrame(
        [(11, 7, base + dt.timedelta(seconds=120))], "rid long, k long, t timestamp"
    )
    out = interval_join(
        left, right,
        left_on="k", right_on="k", left_time="t", right_time="t",
        lower_seconds=0, upper_seconds=3600,
    )
    assert out.count() == 1


def test_sessionize_gap_and_ties(spark):
    base = _ts("2024-01-01T00:00:00")
    m = dt.timedelta(minutes=1)
    df = spark.createDataFrame(
        [
            (1, 7, base),
            (2, 7, base + 10 * m),   # same session (gap 10m < 30m)
            (3, 7, base + 50 * m),   # new session (gap 40m)
            (4, 7, base + 50 * m),   # same timestamp: tie-broken by id, same session
            (5, 8, base),            # other key: own numbering
        ],
        "event_id long, uid long, ts timestamp",
    )
    out = sessionize(
        df, key_col="uid", time_col="ts", gap_seconds=1800, order_tie_col="event_id"
    )
    got = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_chunk_documents_short_and_overlap(spark):
    toks = [f"t{i}" for i in range(41)]
    df = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(toks))], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_tokens=40, stride_tokens=30)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert rows[(1, 0)]["chunk_tokens"] == 3
    assert rows[(1, 0)]["chunk_text"] == "a b c"
    # 41 tokens -> chunk 0 = tokens[0:40], chunk 1 = tokens[30:41]
    assert rows[(2, 0)]["chunk_tokens"] == 40
    assert rows[(2, 1)]["chunk_tokens"] == 11
    assert rows[(2, 1)]["chunk_text"] == " ".join(toks[30:41])
    assert len(rows) == 3


def test_chunk_overlap_covers_every_token(spark):
    toks = [f"w{i}" for i in range(99)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=40, stride_tokens=30)
    covered = set()
    for r in out.collect():
        start = r["chunk_idx"] * 30
        covered.update(range(start, start + r["chunk_tokens"]))
    assert covered == set(range(99))


def test_top_terms_rank_and_tie_break(spark):
    df = spark.createDataFrame(
        [
            # doc 1: 'x' tf=3; 'rare' tf=2; 'common' tf=2 (common appears in
            # both docs -> doc_freq 2 loses the tie to rare's doc_freq 1)
            (1, "x x x rare rare common common"),
            (2, "common y"),
        ],
        "doc_id long, text string",
    )
    out = top_terms(df, k=3)
    d1 = {r["term_rank"]: r["term"] for r in out.collect() if r["doc_id"] == 1}
    assert d1 == {1: "x", 2: "rare", 3: "common"}
    # doc 2: both terms tf=1; 'y' (doc_freq 1) outranks 'common' (doc_freq 2)
    d2 = sorted((r["term_rank"], r["term"]) for r in out.collect() if r["doc_id"] == 2)
    assert d2 == [(1, "y"), (2, "common")]


def test_tumbling_window_assigns_each_row_once(spark):
    base = _ts("2024-01-01T00:00:00")
    h = dt.timedelta(hours=1)
    df = spark.createDataFrame(
        [
            ("a", base, 1.0),
            ("a", base + 5 * h, 2.0),     # same day
            ("a", base + 25 * h, 4.0),    # next day
            ("b", base, 8.0),
        ],
        "event_type string, ts timestamp, value double",
    )
    from confluent_data_ingestion_spark.operators.temporal import (
        tumbling_window_agg,
    )

    out = tumbling_window_agg(
        df, time_col="ts", window_seconds=86400, group_cols=["event_type"],
        aggs=[F.count("*").alias("n"), F.sum("value").alias("s")],
    )
    rows = {(r["event_type"], str(r["window_start"])): (r["n"], r["s"])
            for r in out.collect()}
    assert rows == {
        ("a", "2024-01-01 00:00:00"): (2, 3.0),
        ("a", "2024-01-02 00:00:00"): (1, 4.0),
        ("b", "2024-01-01 00:00:00"): (1, 8.0),
    }
    # total rows across windows == input rows (tumble partitions the axis)
    assert out.agg(F.sum("n")).collect()[0][0] == 4


def test_hopping_window_overlap_factor(spark):
    base = _ts("2024-01-01T06:00:00")
    df = spark.createDataFrame(
        [("a", base, 1.0)], "event_type string, ts timestamp, value double"
    )
    from confluent_data_ingestion_spark.operators.temporal import (
        hopping_window_agg,
    )

    out = hopping_window_agg(
        df, time_col="ts", window_seconds=86400, slide_seconds=43200,
        group_cols=["event_type"],
        aggs=[F.count("*").alias("n")],
    )
    starts = sorted(str(r["window_start"]) for r in out.collect())
    # one event lands in exactly window/slide = 2 hopping windows
    assert starts == ["2023-12-31 12:00:00", "2024-01-01 00:00:00"]


def test_quality_filter_reasons(spark):
    from confluent_data_ingestion_spark.operators.text import quality_filter

    df = spark.createDataFrame(
        [
            (1, " ".join(["ok"] * 30)),           # passes
            (2, "short doc"),                      # too_short
            (3, " ".join(["x"] * 100)),            # too_long
            (4, " ".join(["the"] * 30)),           # high_stopword
            (5, " ".join(["the"] * 5)),            # too_short + high_stopword
        ],
        "doc_id long, text string",
    )
    out = quality_filter(df, min_tokens=20, max_tokens=90,
                         max_stopword_ratio=0.30)
    got = {r["doc_id"]: (r["quality_pass"], r["fail_reasons"])
           for r in out.collect()}
    assert got[1] == (True, "")
    assert got[2] == (False, "too_short")
    assert got[3] == (False, "too_long")
    assert got[4] == (False, "high_stopword")
    assert got[5] == (False, "too_short,high_stopword")


def test_temperature_resample_flattens_mix(spark):
    from confluent_data_ingestion_spark.operators.sampling import (
        temperature_resample,
    )

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(
        df, strata_col="source", key_col="doc_id", alpha=0.5,
        target_fraction=0.5,
    )
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # alpha=0.5 weights: sqrt(900)=30, sqrt(100)=10 -> target 500 split
    # 375/125 -> small keeps ALL 100 docs (rate capped at 1), big ~375/900
    assert got["small"] == 100
    assert 300 < got["big"] < 450
    # deterministic: same inputs, same rows kept
    again = temperature_resample(
        df, strata_col="source", key_col="doc_id", alpha=0.5,
        target_fraction=0.5,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_quantize_embeddings_reconstruction(spark):
    from confluent_data_ingestion_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = quantize_embeddings(df)
    got = {(r["vec_id"], r["pos"]): (r["q"], r["scale"]) for r in out.collect()}
    # vec 1: scale = 1/127; q = x * 127
    assert got[(1, 1)] == (127, round(1.0 / 127, 6))
    assert got[(1, 2)][0] == -63   # floor(-63.5 + 0.5) = -63
    assert got[(1, 3)][0] == 32    # floor(31.75 + 0.5) = 32
    # zero vector: scale 0 -> NULL q
    assert got[(2, 1)] == (None, 0.0)


def test_shard_assignment_modes(spark):
    from confluent_data_ingestion_spark.operators.packing import (
        shard_assignment,
    )

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(32)],
        "doc_id long, text string",
    )
    balanced = shard_assignment(df, n_shards=4, mode="balanced")
    per_shard = {
        r["shard"]: r["s"]
        for r in balanced.groupBy("shard")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    assert set(per_shard) == {0, 1, 2, 3}
    # snake over a linear token ramp balances shard totals tightly
    assert max(per_shard.values()) - min(per_shard.values()) <= 8

    hashed = shard_assignment(df, n_shards=4, mode="hash")
    shards = {r["doc_id"]: r["shard"] for r in hashed.collect()}
    assert set(shards.values()) <= {0, 1, 2, 3}
    # deterministic under re-evaluation
    again = {r["doc_id"]: r["shard"]
             for r in shard_assignment(df, n_shards=4, mode="hash").collect()}
    assert shards == again


def test_session_window_agg_merges_and_splits(spark):
    from confluent_data_ingestion_spark.operators.temporal import (
        session_window_agg,
    )

    base = _ts("2024-01-01T00:00:00")
    m = dt.timedelta(minutes=1)
    df = spark.createDataFrame(
        [
            (7, base, 1.0),
            (7, base + 20 * m, 2.0),    # within 30m gap: same session
            (7, base + 80 * m, 4.0),    # 60m after previous: new session
            (8, base, 8.0),
        ],
        "uid long, ts timestamp, value double",
    )
    out = session_window_agg(
        df, time_col="ts", gap_seconds=1800, group_cols=["uid"],
        aggs=[F.count("*").alias("n"), F.sum("value").alias("s")],
    )
    rows = {(r["uid"], str(r["window_start"])): (str(r["window_end"]), r["n"], r["s"])
            for r in out.collect()}
    # session 1 of uid 7: [00:00, 00:20+30m) -> end 00:50
    assert rows[(7, "2024-01-01 00:00:00")] == ("2024-01-01 00:50:00", 2, 3.0)
    assert rows[(7, "2024-01-01 01:20:00")] == ("2024-01-01 01:50:00", 1, 4.0)
    assert rows[(8, "2024-01-01 00:00:00")] == ("2024-01-01 00:30:00", 1, 8.0)


def test_asof_join_matches_naive_range_join_random(spark):
    """Differential: the single-shuffle tagged-union formulation must equal
    the naive (quadratic) range-join + row_number formulation on random
    data with ties and gaps."""
    import random

    rng = random.Random(42)
    left = [(i, rng.randrange(5), rng.randrange(100)) for i in range(200)]
    right = [(j + 1000, rng.randrange(5), rng.randrange(100), float(j))
             for j in range(150)]
    ldf = spark.createDataFrame(left, "lid long, k long, t long").withColumn(
        "t", F.timestamp_seconds(F.col("t")))
    rdf = spark.createDataFrame(
        right, "rid long, k long, t long, v double"
    ).withColumn("t", F.timestamp_seconds(F.col("t")))

    fast = {
        r["lid"]: (r["asof_rid"], r["asof_v"])
        for r in asof_join(
            ldf, rdf, left_on="k", right_on="k", left_time="t",
            right_time="t", value_cols=["rid", "v"], tie_col="rid",
        ).collect()
    }
    naive = (
        ldf.alias("l")
        .join(
            rdf.alias("r"),
            F.expr("l.k = r.k AND r.t <= l.t"),
            "left",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("l.lid")
                .orderBy(F.col("r.t").desc_nulls_last(),
                         F.col("r.rid").desc_nulls_last())
            ),
        )
        .filter("rn = 1")
        .select("l.lid", "r.rid", "r.v")
    )
    slow = {r["lid"]: (r["rid"], r["v"]) for r in naive.collect()}
    assert fast == slow


def test_interval_join_matches_naive_theta_join_random(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(4), rng.randrange(0, 10_000)) for i in range(300)]
    df = spark.createDataFrame(rows, "eid long, k long, t long").withColumn(
        "t", F.timestamp_seconds(F.col("t")))

    fast = sorted(
        (r["eid"], r["eid_r"])
        for r in interval_join(
            df, df, left_on="k", right_on="k", left_time="t", right_time="t",
            lower_seconds=0, upper_seconds=777,
        ).collect()
    )
    naive = sorted(
        (r["a"], r["b"])
        for r in df.alias("x")
        .join(
            df.alias("y"),
            F.expr(
                "x.k = y.k AND y.t > x.t "
                "AND y.t <= x.t + INTERVAL 777 SECONDS"
            ),
        )
        .select(F.col("x.eid").alias("a"), F.col("y.eid").alias("b"))
        .collect()
    )
    assert fast == naive


def test_kmeans_refine_recovers_clusters(spark):
    from confluent_data_ingestion_spark.operators.similarity import (
        kmeans_refine,
    )

    # two tight angular clusters; both seed centroids start inside cluster A
    # (cosine-degenerate init) — after one Lloyd step the means separate and
    # every vector lands with its own cluster
    a = [[1.0, 0.02 * i, 0.0] for i in range(5)]
    b = [[0.0, 0.02 * i, 1.0] for i in range(5)]
    rows = [(i, v) for i, v in enumerate(a)] + [(10 + i, v) for i, v in enumerate(b)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.44])],
        "centroid_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["centroid_id"]
           for r in kmeans_refine(vecs, cents, iters=2).collect()}
    a_labels = {out[i] for i in range(5)}
    b_labels = {out[10 + i] for i in range(5)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_salted_join_matches_plain_join(spark):
    from confluent_data_ingestion_spark.operators.skew import salted_join

    # 90% of fact rows share one hot key
    fact = spark.createDataFrame(
        [(i, 1 if i % 10 else i % 7, float(i)) for i in range(500)],
        "fid long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], "k long, label string"
    )
    for how in ("inner", "left"):
        fast = sorted(
            (r["fid"], r["label"])
            for r in salted_join(fact, dim, on=["k"], how=how, n_salt=8).collect()
        )
        plain = sorted(
            (r["fid"], r["label"])
            for r in fact.join(dim, "k", how).collect()
        )
        assert fast == plain

    import pytest as _pytest
    with _pytest.raises(ValueError):
        salted_join(fact, dim, on=["k"], how="full")


def test_temperature_resample_null_stratum_is_a_stratum(spark):
    from confluent_data_ingestion_spark.operators.sampling import (
        temperature_resample,
    )

    rows = [(i, "a") for i in range(50)] + [(100 + i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(
        df, strata_col="source", key_col="doc_id", alpha=0.5,
        target_fraction=1.0,
    )
    # target_fraction=1 with equal strata -> every rate caps at 1: nothing
    # may be dropped, including the NULL stratum
    assert out.count() == 100


def test_repeated_spans_detects_shared_text_at_different_offsets(spark):
    from confluent_data_ingestion_spark.operators.dedup import (
        repeated_substring_spans,
    )

    shared = ("the quick brown fox jumps over the lazy dog while the band "
              "plays on through the night")
    df = spark.createDataFrame(
        [
            (1, "aaa bbb ccc " + shared),            # shared at offset 12
            (2, shared + " xxx yyy zzz"),            # shared at offset 0
            (3, "totally different content with no overlap whatsoever in "
                "any of its characters or phrasing at all ever"),
        ],
        "doc_id long, text string",
    )
    out = repeated_substring_spans(df, span_chars=60, anchor_chars=8,
                                   min_docs=2)
    rows = out.collect()
    flagged_docs = {r["doc_id"] for r in rows}
    assert flagged_docs == {1, 2}          # offsets differ, spans still match
    assert all(r["n_docs"] == 2 for r in rows)
    # the span hashes flagged in doc 1 and doc 2 are the same set
    h1 = {r["span_hash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["span_hash"] for r in rows if r["doc_id"] == 2}
    assert h1 == h2 and h1


def test_anchor_kernels_differential(spark):
    """The Catalyst anchor scan emits exactly the (id, pos, span_hash)
    rows of a pure-Python reference of the anchor rule: md5 over
    character slices (non-ASCII text included), short and NULL
    documents anchor nothing."""
    import hashlib
    from collections import defaultdict

    from confluent_data_ingestion_spark.operators.dedup import (
        _anchor_grams,
        repeated_substring_spans,
    )

    shared = ("the quick brown fox jumps over the lazy dog while the band "
              "plays on through the night")
    docs = [
        (1, "aaa bbb ccc " + shared + " café résumé naïve tail here"),
        (2, shared + " xxx yyy zzz"),
        (3, "short"),
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def md5(s):
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    want = sorted(
        (i, p + 1, md5(t[p:p + 60]))
        for i, t in docs
        if t is not None
        for p in range(len(t) - 60 + 1)
        if md5(t[p:p + 8])[0] == "0"
    )
    got = sorted(
        map(tuple, _anchor_grams(df, "doc_id", "text", 60, 8).collect())
    )
    assert got == want and want

    # and the full operator keeps the grams whose span recurs in >= 2 docs
    span_docs = defaultdict(set)
    for i, _, h in want:
        span_docs[h].add(i)
    want_spans = sorted(
        (i, pos, h, len(span_docs[h]))
        for i, pos, h in want
        if len(span_docs[h]) >= 2
    )
    out = repeated_substring_spans(df, span_chars=60, anchor_chars=8,
                                   min_docs=2)
    assert sorted(map(tuple, out.collect())) == want_spans and want_spans


def test_concat_chunk_plan_covers_docs_and_fills_chunks(spark):
    """Concat-and-chunk invariants: (a) every document's tokens are covered
    exactly once across its chunk slices; (b) every chunk except each
    shard's last is exactly chunk_tokens full; (c) slices never exceed doc
    bounds."""
    from confluent_data_ingestion_spark.operators.packing import (
        concat_chunk_plan,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(5 + (i * 7) % 40)))
         for i in range(60)],
        "doc_id long, text string",
    )
    out = concat_chunk_plan(docs, chunk_tokens=16, n_shards=4).collect()
    n_by_doc = {r["doc_id"]: len(r["text"].split())
                for r in docs.collect()}

    # (a) per-doc coverage: slices are contiguous from 1..n with no overlap
    from collections import defaultdict
    slices = defaultdict(list)
    for r in out:
        assert 1 <= r["tok_from"] <= r["tok_to"] <= n_by_doc[r["doc_id"]]
        slices[r["doc_id"]].append((r["tok_from"], r["tok_to"]))
    for d, sl in slices.items():
        sl.sort()
        assert sl[0][0] == 1 and sl[-1][1] == n_by_doc[d]
        for (a1, b1), (a2, _) in zip(sl, sl[1:]):
            assert a2 == b1 + 1
    assert set(slices) == set(n_by_doc)

    # (b) chunk fill: every non-final chunk of a shard holds exactly 16
    fill = defaultdict(int)
    for r in out:
        fill[(r["shard"], r["chunk_no"])] += r["tok_to"] - r["tok_from"] + 1
    last = {s: max(k for (sh, k) in fill if sh == s)
            for s in {sh for (sh, _) in fill}}
    for (sh, k), tot in fill.items():
        if k < last[sh]:
            assert tot == 16, (sh, k, tot)
        else:
            assert tot <= 16


def test_funnel_stages_strict_order(spark):
    from datetime import datetime

    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.temporal import funnel_stages

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1 completes the full funnel in order
        _Row(user_id=1, ts=t(1), event_type="view"),
        _Row(user_id=1, ts=t(2), event_type="click"),
        _Row(user_id=1, ts=t(3), event_type="purchase"),
        # u2 clicked BEFORE viewing: reaches step 1 only
        _Row(user_id=2, ts=t(5), event_type="click"),
        _Row(user_id=2, ts=t(6), event_type="view"),
        # u3 view->click, purchase earlier than the click: stops at 2
        _Row(user_id=3, ts=t(1), event_type="purchase"),
        _Row(user_id=3, ts=t(2), event_type="view"),
        _Row(user_id=3, ts=t(4), event_type="click"),
        # u4 never viewed
        _Row(user_id=4, ts=t(1), event_type="purchase"),
    ]
    out = {r["step_name"]: r for r in funnel_stages(
        spark.createDataFrame(rows), ["view", "click", "purchase"]
    ).collect()}
    assert out["view"]["n_users"] == 3        # u1, u2, u3
    assert out["click"]["n_users"] == 2       # u1, u3 (u2 clicked first)
    assert out["purchase"]["n_users"] == 1    # u1 only
    assert [out[s]["step"] for s in ("view", "click", "purchase")] == [1, 2, 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="steps"):
        funnel_stages(spark.createDataFrame(rows), [])


def test_rolling_stats_frame_and_determinism(spark):
    from datetime import datetime

    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.temporal import rolling_stats

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        _Row(event_id=i, user_id=7, ts=t(i), value=float(i)) for i in range(6)
    ]
    out = {r["event_id"]: r for r in rolling_stats(
        spark.createDataFrame(rows), window_rows=3
    ).collect()}
    assert out[0]["roll_sum"] == 0.0 and out[0]["roll_n"] == 1
    assert out[2]["roll_sum"] == 3.0          # 0+1+2
    assert out[5]["roll_sum"] == 12.0         # 3+4+5 (frame slides)
    assert out[5]["roll_avg"] == 4.0
    assert out[5]["roll_n"] == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="window_rows"):
        rolling_stats(spark.createDataFrame(rows), window_rows=0)


def test_asof_join_forward_inclusive_ties_and_nulls(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T00:00:00")),  # before both quotes
            (2, 10, _ts("2024-01-02T00:00:00")),  # exactly at quote 2 (inclusive)
            (3, 10, _ts("2024-01-02T00:00:01")),  # after every quote -> NULL
            (4, 20, _ts("2024-01-01T00:00:00")),  # key with no right rows
        ],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T12:00:00"), 1.0),
            (101, 10, _ts("2024-01-02T00:00:00"), 2.0),
            (102, 10, _ts("2024-01-02T00:00:00"), 3.0),  # tie: min qid wins
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = asof_join(
        left, right,
        left_on="uid", right_on="uid",
        left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid",
        direction="forward",
    )
    got = {r["event_id"]: (r["asof_qid"], r["asof_px"]) for r in out.collect()}
    assert got == {
        1: (100, 1.0),   # earliest at-or-after
        2: (101, 2.0),   # inclusive; min tie among the 2024-01-02 tie
        3: (None, None),
        4: (None, None),
    }


def test_asof_join_forward_matches_backward_on_reversed_time(spark):
    # duality: forward(t) == backward(-t) — pin the two traversals
    # against each other on a small randomized-ish frame
    left = spark.createDataFrame(
        [(i, 1, _ts(f"2024-01-{d:02d}T00:00:00")) for i, d in
         enumerate([3, 7, 11, 15, 19, 23], start=1)],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100 + i, 1, _ts(f"2024-01-{d:02d}T00:00:00"), float(d)) for i, d
         in enumerate([2, 5, 10, 14, 21])],
        "qid long, uid long, qts timestamp, px double",
    )
    fwd = {
        r["event_id"]: r["asof_qid"]
        for r in asof_join(
            left, right, left_on="uid", right_on="uid",
            left_time="ts", right_time="qts",
            value_cols=["qid"], direction="forward",
        ).collect()
    }
    neg = F.expr("timestamp '2024-02-01 00:00:00'")
    left_r = left.withColumn(
        "rts", (F.unix_micros(neg) - F.unix_micros("ts")).cast("long")
    )
    right_r = right.withColumn(
        "rqts", (F.unix_micros(neg) - F.unix_micros("qts")).cast("long")
    )
    bwd = {
        r["event_id"]: r["asof_qid"]
        for r in asof_join(
            left_r, right_r, left_on="uid", right_on="uid",
            left_time="rts", right_time="rqts",
            value_cols=["qid"], direction="backward",
        ).collect()
    }
    assert fwd == bwd


def test_asof_join_rejects_unknown_direction(spark):
    import pytest as _pytest

    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T00:00:00"))],
        "event_id long, uid long, ts timestamp",
    )
    with _pytest.raises(ValueError):
        asof_join(
            left, left, left_on="uid", right_on="uid",
            left_time="ts", right_time="ts",
            value_cols=["event_id"], direction="sideways",
        )


def test_asof_join_tolerance_backward_and_forward(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-05T00:00:00")),  # 3 days after the quote
            (2, 10, _ts("2024-01-02T01:00:00")),  # 1 hour after quote 2
        ],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-02T00:00:00"), 2.0),
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = {
        r["event_id"]: r["asof_qid"]
        for r in asof_join(
            left, right, left_on="uid", right_on="uid",
            left_time="ts", right_time="qts", value_cols=["qid", "px"],
            tolerance_seconds=7200.0,  # 2 hours
        ).collect()
    }
    # event 1 is 3 days stale -> nulled; event 2 within 2 h -> kept
    assert out == {1: None, 2: 100}
    fwd = {
        r["qid"]: r["asof_event_id"]
        for r in asof_join(
            right.withColumnRenamed("qts", "rts"),
            left.withColumnRenamed("ts", "lts"),
            left_on="uid", right_on="uid",
            left_time="rts", right_time="lts",
            value_cols=["event_id"], direction="forward",
            tolerance_seconds=7200.0,
        ).collect()
    }
    # forward from the quote: nearest later event is event 2 (1 h) — in
    # tolerance, kept
    assert fwd == {100: 2}


def test_asof_join_tolerance_numeric_time_units(spark):
    # numeric time columns: tolerance is in the column's own units
    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 1000)], "event_id long, uid long, t long"
    )
    right = spark.createDataFrame(
        [(7, 1, 90, 1.5)], "qid long, uid long, rt long, px double"
    )
    out = {
        r["event_id"]: (r["asof_qid"], r["asof_px"])
        for r in asof_join(
            left, right, left_on="uid", right_on="uid",
            left_time="t", right_time="rt", value_cols=["qid", "px"],
            tolerance_seconds=50,
        ).collect()
    }
    assert out == {1: (7, 1.5), 2: (None, None)}


def test_asof_join_tolerance_rejects_negative(spark):
    import pytest as _pytest

    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T00:00:00"))],
        "event_id long, uid long, ts timestamp",
    )
    with _pytest.raises(ValueError):
        asof_join(
            left, left, left_on="uid", right_on="uid",
            left_time="ts", right_time="ts", value_cols=["event_id"],
            tolerance_seconds=-1.0,
        )


def test_asof_join_nearest_picks_closer_side_and_tie_backward(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-03T00:00:00")),  # closer to forward quote
            (2, 10, _ts("2024-01-01T06:00:00")),  # closer to backward quote
            (3, 10, _ts("2024-01-02T12:00:00")),  # EQUAL gaps -> backward
            (4, 20, _ts("2024-01-05T00:00:00")),  # no right rows
        ],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T00:00:00"), 1.0),
            (101, 10, _ts("2024-01-04T00:00:00"), 2.0),
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = asof_join(
        left, right,
        left_on="uid", right_on="uid",
        left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid",
        direction="nearest",
    )
    got = {r["event_id"]: (r["asof_qid"], r["asof_px"]) for r in out.collect()}
    assert got == {
        1: (101, 2.0),   # gap fwd 1d < gap back 2d
        2: (100, 1.0),   # gap back 6h < gap fwd ~2.75d
        3: (100, 1.0),   # 1.5d both sides -> backward wins
        4: (None, None),
    }


def test_asof_join_nearest_tolerance_uses_abs_gap(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-03T00:00:00"))],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(101, 10, _ts("2024-01-04T00:00:00"), 2.0)],
        "qid long, uid long, qts timestamp, px double",
    )
    kw = dict(
        left_on="uid", right_on="uid", left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid", direction="nearest",
    )
    ok = asof_join(left, right, tolerance_seconds=86400.0, **kw).collect()[0]
    assert ok["asof_qid"] == 101
    too_far = asof_join(
        left, right, tolerance_seconds=86399.0, **kw
    ).collect()[0]
    assert too_far["asof_qid"] is None


def test_asof_join_nearest_same_instant_ties_resolve_backward(spark):
    # two right rows at EXACTLY the left timestamp: gap 0 both sides;
    # backward's within-instant winner is the max tie_col
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-02T00:00:00"))],
        "event_id long, uid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-02T00:00:00"), 1.0),
            (101, 10, _ts("2024-01-02T00:00:00"), 2.0),
        ],
        "qid long, uid long, qts timestamp, px double",
    )
    out = asof_join(
        left, right,
        left_on="uid", right_on="uid",
        left_time="ts", right_time="qts",
        value_cols=["qid", "px"], tie_col="qid",
        direction="nearest",
    ).collect()[0]
    assert (out["asof_qid"], out["asof_px"]) == (101, 2.0)
