"""Unit tests for the training-data extension operators."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from confluent_data_ingestion_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle,
    simhash,
)
from confluent_data_ingestion_spark.operators.similarity import (
    assign_centroids,
    cosine_topk,
    ivf_topk,
)
from confluent_data_ingestion_spark.operators.text import (
    fingerprint,
    language_id,
    text_quality,
    token_count_bpe,
)


def _docs(spark):
    return spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="completely different words entirely here now"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        Row(doc_id=5, text="ab"),  # shorter than shingle width
    ])


def test_text_quality(spark):
    out = {r["doc_id"]: r for r in text_quality(_docs(spark)).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[1]["n_chars_calc"] == len("the quick brown fox jumps over the lazy dog")
    assert abs(out[1]["stopword_ratio"] - 2 / 9) < 1e-6
    assert out[5]["n_tokens"] == 1 and out[5]["alpha_ratio"] == 1.0


def test_token_count_bpe(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="abc 123 x!y")])
    assert token_count_bpe(df).collect()[0]["n_bpe_tokens"] == 5  # abc,123,x,!,y


def test_language_id_deterministic(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="the fast key"),       # en markers
        Row(doc_id=2, text="data table row"),     # es markers
        Row(doc_id=3, text="join merge sort"),    # de markers
        Row(doc_id=4, text="zzz qqq"),            # no markers -> first lang (en)
    ])
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "en"}


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="b a c"),
        Row(doc_id=2, text="c b a"),
        Row(doc_id=3, text="a b d"),
    ])
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert got[1] == got[2] and got[1] != got[3]


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in out}
    assert by_canon[1] == 2  # docs 1 and 4
    assert by_canon[2] == 1 and by_canon[3] == 1


def test_shingle_guard_short_docs(spark):
    out = {r["doc_id"]: r["shingles"] for r in shingle(_docs(spark)).collect()}
    assert out[5] == []  # doc shorter than n -> empty, not a reversed sequence
    assert "the quick brown" in out[1]
    assert len(out[1]) == 7  # 9 tokens -> 7 shingles ("the" trigram repeats? no)


def test_ngram_jaccard_and_minhash_agree_on_planted_dup(spark):
    docs = _docs(spark)
    jacc = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    # exact dup pair has jaccard 1.0; near-dup pair (1,2) is high
    assert jacc[(1, 4)] == 1.0
    assert jacc[(1, 2)] > 0.5
    cand = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 4) in cand  # exact dup always collides in every band
    assert (2, 4) in cand or (1, 2) in cand  # near-dup caught by some band


def test_simhash_close_for_near_dups(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert out[1] == out[4]  # identical docs -> identical signature
    ham12 = bin(out[1] ^ out[2]).count("1")
    ham13 = bin(out[1] ^ out[3]).count("1")
    assert ham12 < ham13  # near-dup closer than unrelated doc


def test_simhash_pairs_matches_brute_force(spark):
    """Band recall guarantee: bands > max_hamming means the band join loses
    NO pair within max_hamming (pigeonhole), so the operator output equals
    the brute-force signature scan exactly."""
    from confluent_data_ingestion_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(docs, bits=16).collect()}
    ids = sorted(sigs)
    for mh in (0, 3, 8):
        brute = {
            (i, j): bin(sigs[i] ^ sigs[j]).count("1")
            for i in ids for j in ids
            if i < j and bin(sigs[i] ^ sigs[j]).count("1") <= mh
        }
        got = {(r["doc_a"], r["doc_b"]): r["hamming"]
               for r in simhash_pairs(docs, bits=16, max_hamming=mh,
                                      bands=mh + 1 if 16 % (mh + 1) == 0 else 16
                                      ).collect()}
        assert got == brute, f"max_hamming={mh}"


def test_simhash_pairs_exact_dup_and_validation(spark):
    import pytest as _pytest

    from confluent_data_ingestion_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs(docs, bits=32, max_hamming=3).collect()}
    assert out.get((1, 4)) == 0  # exact dup: identical signature, every band
    assert all(h <= 3 for h in out.values())
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, bits=32, max_hamming=4, bands=4)
    with _pytest.raises(ValueError, match="divide evenly"):
        simhash_pairs(docs, bits=32, max_hamming=2, bands=3)


def test_hot_shingle_cap_bounds_boilerplate_skew(spark):
    """A boilerplate shingle shared by 1000 docs would emit ~500k join rows
    into one reducer; the document-frequency cap drops it while genuine
    near-dup pairs (discriminative shingles) survive."""
    from confluent_data_ingestion_spark.operators.dedup import hot_shingle_stats

    rows = [Row(doc_id=i, text=f"common legal header u{i} v{i} w{i}")
            for i in range(1000)]
    # genuine near-dups: share unique trigrams, no boilerplate prefix
    rows.append(Row(doc_id=2001, text="alpha beta gamma delta epsilon"))
    rows.append(Row(doc_id=2002, text="alpha beta gamma delta zeta"))
    docs = spark.createDataFrame(rows)

    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.0,
                                max_group_size=500).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(2001, 2002)}

    hot = hot_shingle_stats(docs, n=3, cap=500).collect()
    assert len(hot) == 1 and hot[0]["n_docs"] == 1000


def test_hot_band_cap_bounds_identical_doc_skew(spark):
    """600 byte-identical docs collide in EVERY minhash/simhash band: the
    band-group cap drops those groups (exact dedup handles identical text)
    while a distinct near-dup pair in the same corpus is still found."""
    from confluent_data_ingestion_spark.operators.dedup import simhash_pairs

    rows = [Row(doc_id=i, text="the same exact boilerplate document body here")
            for i in range(600)]
    near = " ".join(f"tok{k}" for k in range(30))
    rows.append(Row(doc_id=9001, text=near + " words"))
    rows.append(Row(doc_id=9002, text=near + " tokens"))
    docs = spark.createDataFrame(rows)

    mh = {(r["doc_a"], r["doc_b"])
          for r in minhash_lsh_pairs(docs, max_group_size=500).collect()}
    assert (9001, 9002) in mh
    assert all(a >= 9001 for a, _ in mh)  # no pair from the hot clone group

    sh = {(r["doc_a"], r["doc_b"])
          for r in simhash_pairs(docs, bits=32, max_hamming=3, ngram=3,
                                 max_group_size=500).collect()}
    assert sh and all(a >= 9001 for a, _ in sh)


def test_persist_tracking_released(spark):
    from confluent_data_ingestion_spark.caching import release_caches
    from confluent_data_ingestion_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    release_caches()  # drop anything earlier tests left behind
    out = simhash_pairs(docs, persist_signatures=True)
    out.count()
    assert release_caches() == 1
    assert release_caches() == 0


def _vecs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.9, 0.1]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk(spark):
    v = _vecs(spark)
    q = v.filter(F.col("vec_id") == 0)
    out = cosine_topk(v, q, k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rn"])] == [1, 2]
    assert out[0]["cosine"] <= 1.0


def test_ivf_restricts_to_bucket(spark):
    v = _vecs(spark)
    centroids = spark.createDataFrame([
        Row(centroid_id=100, embedding=[1.0, 0.0, 0.0]),
        Row(centroid_id=200, embedding=[0.0, 1.0, 0.0]),
    ])
    assign = {r["vec_id"]: r["centroid_id"]
              for r in assign_centroids(v, centroids).collect()}
    assert assign[0] == 100 and assign[1] == 100
    assert assign[2] == 200 and assign[3] == 200
    assert assign[4] == 100  # orthogonal to both -> tie -> lowest centroid id
    q = v.filter(F.col("vec_id") == 0)
    out = ivf_topk(v, q, centroids, k=5).collect()
    # only same-bucket neighbors (vecs 1 and 4) — bucket-200 vecs never scanned
    assert {r["neighbor_id"] for r in out} == {1, 4}


def test_ivf_multi_probe_recall(spark):
    v = _vecs(spark)
    centroids = spark.createDataFrame([
        Row(centroid_id=100, embedding=[1.0, 0.0, 0.0]),
        Row(centroid_id=200, embedding=[0.0, 1.0, 0.0]),
    ])
    q = v.filter(F.col("vec_id") == 0)
    # single probe: only bucket-100 members visible
    p1 = {r["neighbor_id"] for r in ivf_topk(v, q, centroids, k=5).collect()}
    assert p1 == {1, 4}
    # probing both buckets covers the whole corpus = exact brute force
    p2 = {(r["neighbor_id"], r["rn"])
          for r in ivf_topk(v, q, centroids, k=5, n_probe=2).collect()}
    exact = {(r["neighbor_id"], r["rn"])
             for r in cosine_topk(v, q, k=5).collect()}
    assert p2 == exact
    assert len(p2) > len(p1)  # multi-probe strictly raised recall here


def test_assign_centroids_multi_probe_rows(spark):
    v = _vecs(spark)
    centroids = spark.createDataFrame([
        Row(centroid_id=100, embedding=[1.0, 0.0, 0.0]),
        Row(centroid_id=200, embedding=[0.0, 1.0, 0.0]),
    ])
    two = assign_centroids(v, centroids, n_probe=2).collect()
    by_vec = {}
    for r in two:
        by_vec.setdefault(r["vec_id"], []).append(r["centroid_id"])
    # every vector probes both centroids, nearest first
    assert all(sorted(c) == [100, 200] for c in by_vec.values())
    # n_probe beyond centroid count just caps at K
    three = assign_centroids(v, centroids, n_probe=5).collect()
    assert len(three) == len(two)


def test_recall_at_k_measurement(spark):
    from confluent_data_ingestion_spark.operators.similarity import recall_at_k

    v = _vecs(spark)
    centroids = spark.createDataFrame([
        Row(centroid_id=100, embedding=[1.0, 0.0, 0.0]),
        Row(centroid_id=200, embedding=[0.0, 1.0, 0.0]),
    ])
    q = v.filter(F.col("vec_id") == 0)
    exact = cosine_topk(v, q, k=4)
    r1 = recall_at_k(ivf_topk(v, q, centroids, k=4), exact).collect()[0]["recall"]
    r2 = recall_at_k(ivf_topk(v, q, centroids, k=4, n_probe=2), exact).collect()[0]["recall"]
    assert r1 == 0.5      # bucket 100 holds 2 of the 4 exact neighbors
    assert r2 == 1.0      # full probe = exact
    assert r2 >= r1


def test_assign_centroids_plan_has_no_window(spark):
    """The argmax must be a partial aggregation, not a Window sort."""
    v = _vecs(spark)
    centroids = spark.createDataFrame([
        Row(centroid_id=100, embedding=[1.0, 0.0, 0.0]),
        Row(centroid_id=200, embedding=[0.0, 1.0, 0.0]),
    ])
    plan = assign_centroids(v, centroids)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min_by" in plan or "HashAggregate" in plan


def test_embedding_near_dup_grid_exact(spark):
    from confluent_data_ingestion_spark.operators.dedup import embedding_near_dup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),        # same direction as 1 (cos=1)
        (3, [0.0, 1.0, 0.0, 0.0]),        # orthogonal
        (4, [0.9999, 0.0141, 0.0, 0.0]),  # cos(1,4) ~ 0.9999 >= 0.999
        (5, [0.0, 0.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_id, r.canonical_id, r.n_dups)
           for r in embedding_near_dup(df, threshold=0.999).collect()}
    assert got == {(1, 1, 2), (2, 1, 2), (4, 1, 2)}


def test_embedding_near_dup_bucketed_pairs_within_bucket_only(spark):
    from confluent_data_ingestion_spark.operators.dedup import embedding_near_dup

    rows = [
        (1, [1.0, 0.0], 10), (2, [1.0, 0.0], 10),  # same bucket -> pair
        (3, [1.0, 0.0], 20),                        # dup but other bucket
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, b int")
    got = {(r.vec_id, r.canonical_id)
           for r in embedding_near_dup(df, threshold=0.999,
                                       bucket_col="b").collect()}
    assert got == {(1, 1), (2, 1)}


def test_embedding_near_dup_loose_threshold_all_pairs(spark):
    import pytest as _pytest

    from confluent_data_ingestion_spark.operators.dedup import embedding_near_dup

    # cos(1,2)=cos(45deg)~0.7071 -- only the all-pairs path can see it
    rows = [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # loose threshold without a bucket is never a silent cross join
    with _pytest.raises(ValueError, match="all-pairs"):
        embedding_near_dup(df, threshold=0.7)
    got = {(r.vec_id, r.canonical_id)
           for r in embedding_near_dup(df, threshold=0.7,
                                       allow_all_pairs=True).collect()}
    assert got == {(1, 1), (2, 1)}


def test_embedding_near_dup_short_vectors_ansi(spark):
    """2-dim embeddings with grid_dims=3: try_element_at keeps the grid path
    working under ANSI mode (element_at would throw out-of-range)."""
    from confluent_data_ingestion_spark.operators.dedup import embedding_near_dup

    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0]),
                (4, [0.9999, 0.0141])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {(r.vec_id, r.canonical_id, r.n_dups)
               for r in embedding_near_dup(df, threshold=0.999).collect()}
        assert got == {(1, 1, 2), (2, 1, 2), (4, 1, 2)}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def test_repetition_stats(spark):
    from confluent_data_ingestion_spark.operators.text import repetition_stats

    df = spark.createDataFrame([
        Row(doc_id=1, text="a b a b a b"),   # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
        Row(doc_id=2, text="w x y z"),       # all distinct
        Row(doc_id=3, text="solo"),          # shorter than n
    ])
    out = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert out[1]["n_grams"] == 5 and out[1]["n_distinct_grams"] == 2
    assert out[1]["dup_gram_frac"] == 0.6
    assert out[1]["max_gram_count"] == 3   # 'a b' appears 3 times
    assert out[2]["dup_gram_frac"] == 0.0 and out[2]["max_gram_count"] == 1
    assert out[3]["n_grams"] == 0 and out[3]["dup_gram_frac"] is None


def test_pii_scrub(spark):
    from confluent_data_ingestion_spark.operators.text import pii_scrub

    df = spark.createDataFrame([
        Row(doc_id=1, text="mail bob@example.com and alice@test.org call 555-123-4567"),
        Row(doc_id=2, text="ssn 123-45-6789 stays separate from phone shapes"),
        Row(doc_id=3, text="nothing sensitive here"),
    ])
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 1 and out[1]["n_ssn"] == 0
    assert out[1]["text_clean"] == "mail <EMAIL> and <EMAIL> call <PHONE>"
    assert out[2]["n_ssn"] == 1 and "<SSN>" in out[2]["text_clean"]
    assert out[3]["text_clean"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_ssn"] == 0


def test_hash_split_deterministic(spark):
    import pytest as _pytest

    from confluent_data_ingestion_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(df, seed="x").collect()}
    s2 = {r["doc_id"]: r["split"]
          for r in hash_split(df.repartition(7), seed="x").collect()}
    assert s1 == s2  # partitioning-independent
    frac = sum(1 for v in s1.values() if v == "train") / len(s1)
    assert 0.85 < frac < 0.95  # ~0.9 by construction
    s3 = {r["doc_id"]: r["split"] for r in hash_split(df, seed="y").collect()}
    assert s1 != s3  # seed changes the assignment
    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, fractions={"a": 0.5, "b": 0.4})
    # three-way split covers every row with the declared labels
    s4 = {r["split"] for r in hash_split(
        df, fractions={"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert s4 == {"train", "val", "test"}

    n = deterministic_sample(df, 0.25, seed="x").count()
    assert 350 < n < 650
    assert deterministic_sample(df, 1.0).count() == 2000
    # sample is a strict subset relation: smaller fraction ⊂ larger fraction
    small = {r["doc_id"] for r in deterministic_sample(df, 0.1, seed="x").collect()}
    big = {r["doc_id"] for r in deterministic_sample(df, 0.3, seed="x").collect()}
    assert small <= big


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3 (transitive merge pairing never emitted directly),
    # clique 10-11-12, isolated pair (20, 21)
    from confluent_data_ingestion_spark.operators.cluster import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "doc_a int, doc_b int",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_long_path_converges(spark):
    # a 12-node path has diameter 11: exercises multi-round propagation
    from confluent_data_ingestion_spark.operators.cluster import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a int, doc_b int"
    )
    rows = connected_components(pairs).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert len(rows) == 13


def test_connected_components_max_iter_raises(spark):
    from confluent_data_ingestion_spark.operators.cluster import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a int, doc_b int"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_ngram_contamination_planted_copy(spark):
    from confluent_data_ingestion_spark.operators.decontam import (
        ngram_contamination,
    )

    ev = spark.createDataFrame(
        [(100, "a b c d e f g h")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # exact eval copy -> ratio 1.0
            (2, "a b c d e x y z w q"),    # shares one 5-gram (a..e)
            (3, "p q r s t u v w"),        # clean
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_contamination(train, ev, n=5).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].contam_ratio == 1.0 and rows[1].n_eval_docs == 1
    assert rows[2].n_shared == 1 and 0 < rows[2].contam_ratio < 1


def test_stratified_sample_rates_and_determinism(spark):
    from confluent_data_ingestion_spark.operators.sampling import (
        stratified_sample,
    )

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = stratified_sample(df, "grp", {"a": 0.3, "b": 1.0}, seed="t")
    counts = {r.grp: r.c for r in out.groupBy("grp").count()
              .withColumnRenamed("count", "c").collect()}
    assert counts["b"] == 1000            # rate 1.0 keeps everything
    assert 200 < counts["a"] < 400        # ~300 of 1000
    # rerun after repartition: identical keys survive
    a1 = {r.doc_id for r in out.collect()}
    a2 = {r.doc_id
          for r in stratified_sample(df.repartition(7), "grp",
                                     {"a": 0.3, "b": 1.0}, seed="t").collect()}
    assert a1 == a2
    # default_fraction=0 drops unlisted strata
    none = stratified_sample(df, "grp", {"a": 0.5}, seed="t")
    assert none.filter("grp = 'b'").count() == 0


def test_pack_sequences_invariants(spark):
    from confluent_data_ingestion_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + i % 90))) for i in range(300)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, budget=100, n_streams=4, seed="t").collect()
    assert len(out) == 300
    by_stream = {}
    for r in out:
        assert 0 <= r.stream < 4
        assert 0 <= r.pack_offset < 100
        # doc starts where the previous doc in its stream ended
        assert r.n_seqs >= 1
        by_stream.setdefault(r.stream, []).append(r)
    for rows in by_stream.values():
        rows.sort(key=lambda r: (r.pack_id, r.pack_offset))
        total = sum(r.n_tokens for r in rows)
        last = rows[-1]
        # offsets are a contiguous token stream: last start + tokens == total
        assert last.pack_id * 100 + last.pack_offset + last.n_tokens == total
    # deterministic under repartition
    again = pack_sequences(docs.repartition(7), budget=100, n_streams=4,
                           seed="t").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_lsh_topk_recall_and_validation(spark):
    from confluent_data_ingestion_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
        recall_at_k,
    )
    from confluent_data_ingestion_spark.queries import _lsh_planes

    import pytest as _pytest

    from confluent_data_ingestion_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])[
        "embeddings"
    ]
    qs = emb.filter("vec_id % 50 = 0")
    planes = _lsh_planes("t", 16, 64)
    approx = lsh_topk(emb, qs, planes, k=5, bands=4)
    exact = cosine_topk(emb, qs, k=5)
    recall = recall_at_k(approx, exact).collect()[0]["recall"]
    # 16-bit/4-band LSH on a small corpus: well above random, below exact
    assert recall > 0.3, recall
    # every reported neighbor is ranked correctly within its candidates
    assert approx.filter("rn > 5").count() == 0
    with _pytest.raises(ValueError, match="divide evenly"):
        lsh_topk(emb, qs, planes, bands=5)
    with _pytest.raises(ValueError, match="1..63"):
        lsh_topk(emb, qs, [], bands=1)


def test_corpus_mix_report_levels(spark):
    from confluent_data_ingestion_spark.operators.stats import (
        corpus_mix_report,
    )

    docs = spark.createDataFrame(
        [(1, "a b", "en", "s1"), (2, "c d e", "en", "s2"),
         (3, "f", "de", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    rows = corpus_mix_report(docs).collect()
    by = {(r.lang, r.source, r.grp): r for r in rows}
    grand = by[(None, None, 3)]
    assert grand.n_docs == 3 and grand.n_tokens == 6 and grand.doc_share == 1.0
    en = by[("en", None, 1)]
    assert en.n_docs == 2 and en.n_tokens == 5
    assert abs(en.doc_share - round(2 / 3, 6)) < 1e-9
    assert by[("de", "s1", 0)].n_docs == 1
    # levels: 6 finest+per-lang rows + grand = len check
    assert len(rows) == 3 + 2 + 1


def test_cap_per_group_exact_and_rate(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import cap_per_group

    rows = [_Row(doc_id=i, source="big" if i < 400 else None)
            for i in range(500)]
    df = spark.createDataFrame(rows)

    exact = cap_per_group(df, cap=50, mode="exact")
    per = {r["source"]: r["count"]
           for r in exact.groupBy("source").count().collect()}
    assert per["big"] == 50          # capped exactly
    assert per[None] == 50           # NULL group is a group, also capped
    # deterministic: same rows on rerun
    assert sorted(r["doc_id"] for r in exact.collect()) == \
        sorted(r["doc_id"] for r in cap_per_group(df, cap=50).collect())

    rate = cap_per_group(df, cap=50, mode="rate")
    per_r = {r["source"]: r["count"]
             for r in rate.groupBy("source").count().collect()}
    # expectation cap: within 3*sqrt(50) of the target for the big group
    assert abs(per_r.get("big", 0) - 50) < 22
    assert per_r.get(None, 0) > 0    # NULL group sampled, not dropped

    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        cap_per_group(df, mode="nope")
    with _pytest.raises(ValueError, match="cap"):
        cap_per_group(df, cap=0)


def test_epoch_shuffle_deterministic_and_reshuffled(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([_Row(doc_id=i) for i in range(200)])
    e0 = {r["doc_id"]: (r["shard"], r["sort_key"])
          for r in epoch_shuffle(df, epoch=0, n_shards=8).collect()}
    e0b = {r["doc_id"]: (r["shard"], r["sort_key"])
           for r in epoch_shuffle(df, epoch=0, n_shards=8).collect()}
    e1 = {r["doc_id"]: (r["shard"], r["sort_key"])
          for r in epoch_shuffle(df, epoch=1, n_shards=8).collect()}
    assert e0 == e0b                       # pure function of (epoch, key)
    assert e0 != e1                        # a new epoch reshuffles
    assert all(0 <= s < 8 for s, _ in e0.values())
    # shards roughly balanced: no shard empty, none > 3x fair share
    from collections import Counter
    c = Counter(s for s, _ in e0.values())
    assert len(c) == 8 and max(c.values()) < 3 * (200 / 8)


def test_dedup_against_corpus_labels(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.dedup import (
        dedup_against_corpus,
    )

    base = spark.createDataFrame([
        _Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        _Row(doc_id=2, text="pack my box with five dozen liquor jugs now"),
    ])
    new = spark.createDataFrame([
        # exact copy of base 1
        _Row(doc_id=10, text="the quick brown fox jumps over the lazy dog"),
        # near-dup of base 2 (one token appended)
        _Row(doc_id=11, text="pack my box with five dozen liquor jugs now ok"),
        # unrelated
        _Row(doc_id=12, text="completely different words entirely here folks"),
        # too short to shingle: only exact/novel possible
        _Row(doc_id=13, text="tiny"),
    ])
    got = {r["doc_id"]: r["verdict"]
           for r in dedup_against_corpus(new, base).collect()}
    assert got[10] == "dup_exact"
    assert got[11] == "dup_near"
    assert got[12] == "novel"
    assert got[13] == "novel"


def test_jaccard_verify_drops_false_candidates(spark):
    from confluent_data_ingestion_spark.operators.dedup import (
        jaccard_verify_pairs,
    )

    docs = _docs(spark)
    cand = spark.createDataFrame(
        [(1, 4), (1, 3), (1, 5)], "doc_a long, doc_b long"
    )  # true dup, unrelated, and a shingle-less doc
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_verify_pairs(docs, cand, threshold=0.9).collect()}
    assert got == {(1, 4): 1.0}
    # with threshold 0 the unrelated pair surfaces with score 0.0
    loose = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_verify_pairs(docs, cand, threshold=0.0).collect()}
    assert loose[(1, 3)] == 0.0


def test_dedup_index_parquet_roundtrip_matches_inline(spark, tmp_path):
    """Steady-state incremental dedup: labels computed against a parquet
    round-tripped build_dedup_index must equal the inline base_df path."""
    from confluent_data_ingestion_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_corpus,
    )

    docs = _docs(spark)
    base = docs.filter("doc_id <= 3")
    new = docs.filter("doc_id >= 4")  # 4 = exact dup of 1, 5 = shingle-less

    inline = {r["doc_id"]: r["verdict"]
              for r in dedup_against_corpus(new, base).collect()}

    idx = build_dedup_index(base)
    idx["digests"].write.parquet(str(tmp_path / "digests"))
    idx["bands"].write.parquet(str(tmp_path / "bands"))
    loaded = {
        "digests": spark.read.parquet(str(tmp_path / "digests")),
        "bands": spark.read.parquet(str(tmp_path / "bands")),
    }
    from_index = {r["doc_id"]: r["verdict"]
                  for r in dedup_against_corpus(new, index=loaded).collect()}
    assert from_index == inline
    assert from_index[4] == "dup_exact"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="exactly one"):
        dedup_against_corpus(new, base, index=loaded)
    with _pytest.raises(ValueError, match="exactly one"):
        dedup_against_corpus(new)


def test_select_cluster_representatives_max_score_tie_min_id(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.cluster import (
        select_cluster_representatives,
    )

    labels = spark.createDataFrame([
        _Row(doc_id=1, cluster_id=1), _Row(doc_id=2, cluster_id=1),
        _Row(doc_id=3, cluster_id=1),
        _Row(doc_id=7, cluster_id=7), _Row(doc_id=8, cluster_id=7),
    ])
    scores = spark.createDataFrame([
        _Row(doc_id=1, q=10), _Row(doc_id=2, q=99), _Row(doc_id=3, q=50),
        _Row(doc_id=7, q=5), _Row(doc_id=8, q=5),  # tie -> lowest id wins
    ])
    got = {r["cluster_id"]: r["rep_id"]
           for r in select_cluster_representatives(labels, scores).collect()}
    assert got == {1: 2, 7: 7}


def test_leakage_safe_split_keeps_clusters_together(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame([_Row(doc_id=i) for i in range(400)])
    # pair consecutive docs into 100 clusters of 2 + 200 singletons
    labels = spark.createDataFrame(
        [_Row(doc_id=i, cluster_id=(i // 2) * 2) for i in range(200)]
    )
    out = leakage_safe_split(docs, labels,
                             fractions={"train": 0.9, "test": 0.1})
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 400
    # every 2-doc cluster lands in ONE split
    for c in range(0, 200, 2):
        assert got[c] == got[c + 1], c
    # sanity: plain hash_split DOES straddle at least one of those pairs
    plain = {r["doc_id"]: r["split"]
             for r in hash_split(docs, fractions={"train": 0.9, "test": 0.1})
             .collect()}
    assert any(plain[c] != plain[c + 1] for c in range(0, 200, 2))
    # both splits populated
    assert {"train", "test"} == set(got.values())


def test_weighted_sample_priority(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import (
        weighted_sample_priority,
    )

    # half light (w=1), half heavy (w=50): heavy rows should dominate the
    # kept set, and the sample is exact-size + rerun-deterministic
    rows = [_Row(doc_id=i, w=(50 if i % 2 == 0 else 1)) for i in range(1000)]
    df = spark.createDataFrame(rows)
    kept = weighted_sample_priority(df, 100, weight_col="w").collect()
    assert len(kept) == 100
    heavy = sum(1 for r in kept if r["w"] == 50)
    assert heavy > 80          # weight-proportional inclusion, not uniform
    again = weighted_sample_priority(df, 100, weight_col="w").collect()
    assert sorted(r["doc_id"] for r in kept) == \
        sorted(r["doc_id"] for r in again)

    # NULL / non-positive weights carry no mass and are never selected
    rows2 = [_Row(doc_id=i, w=(None if i < 5 else (0 if i < 10 else 1)))
             for i in range(60)]
    k2 = weighted_sample_priority(
        spark.createDataFrame(rows2), 50, weight_col="w"
    ).collect()
    assert len(k2) == 50 and all(r["doc_id"] >= 10 for r in k2)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n must"):
        weighted_sample_priority(df, 0, weight_col="w")


def test_mixture_plan(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import mixture_plan

    rows = (
        [_Row(source="a", text="x " * 9 + "x")] * 10     # 100 tokens
        + [_Row(source="b", text="y")] * 10              # 10 tokens
        + [_Row(source="c", text="z z")] * 5             # unlisted
    )
    df = spark.createDataFrame(rows)
    plan = {r["source"]: r for r in mixture_plan(
        df, {"a": 0.5, "b": 0.5}, budget_tokens=100
    ).collect()}
    assert set(plan) == {"a", "b"}          # unlisted domain excluded
    a, b = plan["a"], plan["b"]
    assert a["n_tokens"] == 100 and b["n_tokens"] == 10
    assert a["target_tokens"] == 50.0 and b["target_tokens"] == 50.0
    assert a["rate"] == 0.5                 # over-supplied: downsample
    assert b["rate"] == 1.0 and b["epochs"] == 5   # under-supplied: repeat
    assert a["epochs"] == 1

    # weights normalize: {1, 1} == {0.5, 0.5}
    plan2 = {r["source"]: r["rate"] for r in mixture_plan(
        df, {"a": 1.0, "b": 1.0}, budget_tokens=100
    ).collect()}
    assert plan2 == {"a": 0.5, "b": 1.0}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="weights"):
        mixture_plan(df, {}, budget_tokens=100)
    with _pytest.raises(ValueError, match="budget"):
        mixture_plan(df, {"a": 1.0}, budget_tokens=0)


def test_semantic_dedup_within_cluster_only(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.dedup import semantic_dedup

    # two well-separated clusters around orthogonal axes; 1/2 are
    # near-dups in cluster x, 10/11 in cluster y; 3 sits in cluster x but
    # far from everything (no dup).
    vecs = [
        _Row(vec_id=1, embedding=[1.0, 0.0, 0.01]),
        _Row(vec_id=2, embedding=[1.0, 0.0, 0.012]),   # ~dup of 1
        _Row(vec_id=3, embedding=[0.8, 0.55, 0.0]),    # cluster x, not a dup
        _Row(vec_id=10, embedding=[0.0, 1.0, 0.01]),
        _Row(vec_id=11, embedding=[0.0, 1.0, 0.011]),  # ~dup of 10
    ]
    cents = [
        _Row(centroid_id=100, embedding=[1.0, 0.0, 0.0]),
        _Row(centroid_id=200, embedding=[0.0, 1.0, 0.0]),
    ]
    out = semantic_dedup(
        spark.createDataFrame(vecs), spark.createDataFrame(cents),
        threshold=0.99,
    ).collect()
    by = {r["vec_id"]: r for r in out}
    assert set(by) == {1, 2, 10, 11}           # 3 has no near-dup
    assert by[1]["canonical_id"] == 1 and by[2]["canonical_id"] == 1
    assert by[10]["canonical_id"] == 10 and by[11]["canonical_id"] == 10
    assert by[2]["n_dups"] == 1

    # cross-cluster near-dups at the boundary are NOT paired — the
    # documented SemDeDup approximation: 20/21 are ~identical but land on
    # opposite sides of the x/y bisector, so each assigns to a different
    # centroid and the bucket join never sees the pair.
    straddle = [
        _Row(vec_id=20, embedding=[0.72, 0.69, 0.0]),
        _Row(vec_id=21, embedding=[0.69, 0.72, 0.0]),
    ]
    out2 = semantic_dedup(
        spark.createDataFrame(vecs + straddle), spark.createDataFrame(cents),
        threshold=0.99,
    ).collect()
    assert not {20, 21} & {r["vec_id"] for r in out2}


def test_quality_cutoff_filter(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.text import (
        quality_cutoff_filter,
    )

    rows = (
        [_Row(doc_id=i, lang="en", n_chars=i * 10) for i in range(1, 11)]
        + [_Row(doc_id=100 + i, lang="de", n_chars=1000 + i) for i in range(5)]
        + [_Row(doc_id=200, lang=None, n_chars=None)]
        + [_Row(doc_id=201, lang=None, n_chars=50)]
    )
    out = quality_cutoff_filter(
        spark.createDataFrame(rows), pct=0.25
    ).collect()
    en = sorted(r["n_chars"] for r in out if r["lang"] == "en")
    # en scores 10..100, p25 = 32.5: keep 40..100
    assert en == [40, 50, 60, 70, 80, 90, 100]
    assert all(r["cutoff"] == 32.5 for r in out if r["lang"] == "en")
    # de has its OWN cutoff: p25 of 1000..1004 is 1001, so 1000 drops
    assert sorted(r["doc_id"] for r in out if r["lang"] == "de") == \
        [101, 102, 103, 104]
    # NULL lang is a group; its only non-NULL score is its percentile
    assert [r["doc_id"] for r in out if r["lang"] is None] == [201]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="pct"):
        quality_cutoff_filter(spark.createDataFrame(rows), pct=1.0)


def test_knn_classify_majority_and_ties(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.similarity import (
        knn_classify,
    )

    nbrs = spark.createDataFrame(
        [_Row(query_id=1, neighbor_id=n) for n in (10, 11, 12, 13, 14)]
        + [_Row(query_id=2, neighbor_id=n) for n in (10, 11, 20, 21)]
        + [_Row(query_id=3, neighbor_id=99)]   # unlabeled neighbor only
    )
    labels = spark.createDataFrame(
        [_Row(vec_id=n, label=0) for n in (10, 11, 12)]
        + [_Row(vec_id=n, label=1) for n in (13, 14, 20, 21)]
    )
    out = {r["query_id"]: r for r in knn_classify(nbrs, labels).collect()}
    assert out[1]["pred_label"] == 0 and out[1]["votes"] == 3
    assert out[1]["confidence"] == 0.6
    # 2-2 tie between labels 0 and 1 -> smallest label wins
    assert out[2]["pred_label"] == 0 and out[2]["votes"] == 2
    assert out[2]["confidence"] == 0.5
    # a query with no labeled neighbors yields no row
    assert 3 not in out


def test_bigram_logprob_score(spark):
    import math

    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.text import (
        bigram_logprob_score,
    )

    # corpus dominated by the "a b" transition; doc 3 uses the same
    # unigrams in an order the corpus never follows -> lower bigram score
    rows = [
        _Row(doc_id=1, text="a b a b a b"),
        _Row(doc_id=2, text="a b a b"),
        _Row(doc_id=3, text="b b a a"),
        _Row(doc_id=4, text="x"),            # 1 token: no bigrams
    ]
    out = {r["doc_id"]: r for r in bigram_logprob_score(
        spark.createDataFrame(rows)).collect()}
    assert 4 not in out
    assert out[1]["n_bigrams"] == 5
    assert out[3]["avg_bigram_logprob"] < out[1]["avg_bigram_logprob"]

    # hand-check doc 1 (ab x3, ba x2): corpus types ab=5, ba=4, bb=1,
    # aa=1, N=11; c(a,*)=6, c(b,*)=5, c(*,b)=6, c(*,a)=5
    pab = 0.7 * (5 / 6) + 0.3 * (6 / 11)
    pba = 0.7 * (4 / 5) + 0.3 * (5 / 11)
    exp1 = round(
        (3 * round(math.log(pab), 6) + 2 * round(math.log(pba), 6)) / 5, 6
    )
    assert abs(out[1]["avg_bigram_logprob"] - exp1) < 1e-6

    import pytest as _pytest
    with _pytest.raises(ValueError, match="lam"):
        bigram_logprob_score(spark.createDataFrame(rows), lam=1.0)


def test_collocation_pmi(spark):
    import math

    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.text import collocation_pmi

    # "new york" always adjacent; "the cat/dog" split evenly -> low PMI
    rows = (
        [_Row(doc_id=i, text="new york") for i in range(10)]
        + [_Row(doc_id=100 + i, text="the cat") for i in range(5)]
        + [_Row(doc_id=200 + i, text="the dog") for i in range(5)]
        + [_Row(doc_id=300, text="solo")]       # 1 token: no pairs
    )
    out = {(r["w1"], r["w2"]): r for r in collocation_pmi(
        spark.createDataFrame(rows), min_count=5).collect()}
    assert set(out) == {("new", "york"), ("the", "cat"), ("the", "dog")}
    # N=20; c(new,*)=10, c(*,york)=10, pair=10 -> pmi = ln(20*10/100)
    assert abs(out[("new", "york")]["pmi"] - round(math.log(2.0), 6)) < 1e-6
    # the-cat: ln(20*5/(10*5)) = ln(2) as well; both below a perfect
    # always-adjacent pair with unique words would be ln(N/c) — check
    # n_pair instead
    assert out[("the", "cat")]["n_pair"] == 5

    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_count"):
        collocation_pmi(spark.createDataFrame(rows), min_count=0)


def test_cluster_size_stats(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.cluster import (
        cluster_size_stats,
    )

    labels = spark.createDataFrame(
        [_Row(doc_id=i, cluster_id=1) for i in (1, 2, 3)]      # size 3
        + [_Row(doc_id=i, cluster_id=10) for i in (10, 11)]    # size 2
        + [_Row(doc_id=i, cluster_id=20) for i in (20, 21)]    # size 2
    )
    out = {r["cluster_size"]: r["n_clusters"]
           for r in cluster_size_stats(labels).collect()}
    assert out == {3: 1, 2: 2}


def test_contamination_report_verdicts(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.decontam import (
        contamination_report,
    )

    # 63 chars, 4 tokens (>=60-char span, but fewer than 5 tokens so no
    # 5-gram can match), with a content-defined anchor at pos 2
    span_only = (
        "qq00008aaaaaaaa bbbbbbbbbbbbbbb ccccccccccccccc ddddddddddddddd"
    )
    # 6 short tokens, total < 60 chars: 5-grams match, no span can
    ngram_only = "alpha beta gamma delta epsilon zeta"
    both = "shared prefix words here " * 5   # 125 chars, many tokens
    ev = spark.createDataFrame([
        _Row(doc_id=900, text=span_only),
        _Row(doc_id=901, text=ngram_only),
        _Row(doc_id=902, text=both),
    ])
    train = spark.createDataFrame([
        _Row(doc_id=1, text=span_only),
        _Row(doc_id=2, text=ngram_only),
        _Row(doc_id=3, text=both),
        _Row(doc_id=4, text="totally unrelated clean content row"),
    ])
    out = {r["doc_id"]: r for r in contamination_report(
        train, ev, n=5, span_chars=60, anchor_chars=8).collect()}
    assert out[1]["verdict"] == "span_only" and out[1]["n_shared_ngrams"] == 0
    assert out[2]["verdict"] == "ngram_only" and out[2]["n_shared_spans"] == 0
    assert out[2]["n_shared_ngrams"] == 2          # 6 tokens -> 2 5-grams
    assert out[3]["verdict"] == "both"
    assert 4 not in out                            # clean doc absent


def test_int8_reconstruction_recall(spark, sf_dir):
    """The int8 round-trip must cost almost no recall on the fixture
    embeddings: top-5 over reconstructed vectors vs the float baseline."""
    from confluent_data_ingestion_spark.operators.similarity import (
        recall_at_k,
        reconstruct_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    exact = cosine_topk(emb, q, k=5)
    rec = reconstruct_embeddings(emb)
    approx = cosine_topk(rec, reconstruct_embeddings(q), k=5)
    r = recall_at_k(approx, exact).collect()[0]["recall"]
    assert r >= 0.9

    # reconstruction error bounded by scale/2 per coordinate
    orig = {r["vec_id"]: r["embedding"] for r in emb.limit(5).collect()}
    got = {r["vec_id"]: r["embedding"]
           for r in rec.filter(F.col("vec_id").isin(*orig)).collect()}
    for vid, e in orig.items():
        scale = max(abs(x) for x in e) / 127.0
        assert all(abs(a - b) <= scale / 2 + 1e-9
                   for a, b in zip(e, got[vid]))


def test_winsorize_clamps_per_group(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.text import winsorize

    rows = (
        [_Row(doc_id=i, lang="en", n_chars=i) for i in range(1, 101)]
        + [_Row(doc_id=200, lang="en", n_chars=10_000)]   # wild outlier
        + [_Row(doc_id=300, lang="de", n_chars=5)]        # own tiny group
        + [_Row(doc_id=400, lang="en", n_chars=None)]
    )
    out = {r["doc_id"]: r for r in winsorize(
        spark.createDataFrame(rows), lower_pct=0.1, upper_pct=0.9
    ).collect()}
    en_hi = out[1]["hi"]
    # the outlier clamps to the p90 band edge, in-band rows are unchanged
    assert out[200]["n_chars_w"] == en_hi and en_hi < 10_000
    assert out[50]["n_chars_w"] == 50.0
    assert out[1]["n_chars_w"] == out[1]["lo"]            # below p10: raised
    # de's single value is its own band: unchanged
    assert out[300]["n_chars_w"] == 5.0
    # NULL value stays NULL (and the row survives)
    assert out[400]["n_chars_w"] is None

    import pytest as _pytest
    with _pytest.raises(ValueError, match="lower_pct"):
        winsorize(spark.createDataFrame(rows), lower_pct=0.9, upper_pct=0.1)


def test_chunk_boilerplate_ratio(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.dedup import (
        chunk_boilerplate_ratio,
    )

    header = " ".join(f"h{k}" for k in range(20))       # one shared chunk
    rows = [
        _Row(doc_id=i, text=header + " " + " ".join(
            f"b{i}x{k}" for k in range(20)))             # unique body chunk
        for i in range(1, 4)
    ] + [_Row(doc_id=9, text=" ".join(f"z{k}" for k in range(40)))]  # clean
    out = {r["doc_id"]: r for r in chunk_boilerplate_ratio(
        spark.createDataFrame(rows), chunk_tokens=20).collect()}
    for i in (1, 2, 3):
        assert out[i]["n_chunks"] == 2
        assert out[i]["n_boiler"] == 1                  # the shared header
        assert out[i]["boiler_ratio"] == 0.5
    assert out[9]["n_boiler"] == 0 and out[9]["boiler_ratio"] == 0.0


def test_scrub_boilerplate_removes_and_reassembles(spark):
    """The apply side: shared chunks vanish from EVERY doc (no canonical
    owner), survivors reassemble in original order, fully-boilerplate
    docs come back empty rather than disappearing."""
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.dedup import (
        scrub_boilerplate,
    )

    header = " ".join(f"h{k}" for k in range(20))
    body = {i: " ".join(f"b{i}x{k}" for k in range(20)) for i in (1, 2, 3)}
    rows = [
        # header chunk shared by docs 1-3; unique body; doc 1 has the
        # header in the MIDDLE to prove order-preserving reassembly
        _Row(doc_id=1, text=body[1] + " " + header + " " + "tail1 " * 19 + "tailx"),
        _Row(doc_id=2, text=header + " " + body[2]),
        _Row(doc_id=3, text=header + " " + body[3]),
        _Row(doc_id=9, text=header),                     # ONLY boilerplate
        _Row(doc_id=5, text=" ".join(f"z{k}" for k in range(40))),  # clean
    ]
    out = {r["doc_id"]: r for r in scrub_boilerplate(
        spark.createDataFrame(rows), chunk_tokens=20).collect()}

    assert out[1]["n_chunks"] == 3 and out[1]["n_dropped"] == 1
    assert out[1]["text_clean"] == body[1] + " " + "tail1 " * 19 + "tailx"
    assert out[2]["text_clean"] == body[2]
    assert out[3]["text_clean"] == body[3]
    assert out[9]["text_clean"] == "" and out[9]["n_dropped"] == 1
    assert out[5]["text_clean"] == rows[4]["text"]  # untouched
    assert out[5]["n_dropped"] == 0


def test_hash_embed_set_semantics(spark):
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.text import hash_embed

    rows = [
        _Row(doc_id=1, text="alpha beta gamma"),
        _Row(doc_id=2, text="gamma beta alpha beta"),   # same token SET
        _Row(doc_id=3, text="delta epsilon zeta"),
    ]
    out = {r["doc_id"]: r["embedding"] for r in hash_embed(
        spark.createDataFrame(rows), dim=16).collect()}
    assert len(out[1]) == 16
    assert out[1] == out[2]              # order/multiplicity-invariant
    assert out[1] != out[3]
    # vector entries are the signed bucket sums of 3 tokens
    assert sum(abs(x) for x in out[1]) <= 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="dim"):
        hash_embed(spark.createDataFrame(rows), dim=0)


def test_epoch_shuffle_writer_layout(spark, tmp_path):
    """The documented writer move — repartition(n, shard) +
    sortWithinPartitions(shard, sort_key) + parquet — must materialize
    every shard's rows contiguously and in sort_key order, even when
    hash partitioning lands several shards in one output partition
    (murmur3 collisions are the norm at small n)."""
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import epoch_shuffle

    docs = spark.createDataFrame([_Row(doc_id=i) for i in range(400)])
    out = str(tmp_path / "shards")
    (
        epoch_shuffle(docs, epoch=2, n_shards=4)
        .repartition(4, "shard")
        .sortWithinPartitions("shard", "sort_key")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    # every input row present exactly once
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) \
        == list(range(400))
    # per file, in row order: shards form contiguous runs, and sort_key
    # is nondecreasing within each run — the auditable batch order
    import pyspark.sql.functions as _F

    rows = back.select(
        _F.input_file_name().alias("f"), "shard", "sort_key",
        _F.monotonically_increasing_id().alias("rid"),
    ).collect()
    from collections import defaultdict
    by_file = defaultdict(list)
    for r in sorted(rows, key=lambda r: r["rid"]):
        by_file[r["f"]].append((r["shard"], r["sort_key"]))
    saw_multi_shard_file = False
    for seq in by_file.values():
        shards_in_order = [s for s, _ in seq]
        # contiguous runs: once a shard ends it never reappears
        seen, prev = set(), None
        for sh in shards_in_order:
            if sh != prev:
                assert sh not in seen, "shard split into non-contiguous runs"
                seen.add(sh)
                prev = sh
        if len(seen) > 1:
            saw_multi_shard_file = True
        # within each shard run, sort_key nondecreasing
        for sh in seen:
            keys = [k for s, k in seq if s == sh]
            assert keys == sorted(keys)
    # the scenario that motivates the shard-prefix sort actually occurs
    assert saw_multi_shard_file


def test_weighted_sample_heavy_weight_ties_not_key_biased(spark):
    """Regression: with heavy weights (w >= ~1e4) u^(1/w) rounds to few
    distinct values at 6 decimals; the tie-break must stay pseudo-random
    (unrounded u), not collapse to lowest-key selection."""
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import (
        weighted_sample_priority,
    )

    # equal heavy weights: every row rounds to priority ~1.000000, so
    # the ENTIRE cut is decided by the tie-break
    rows = [_Row(doc_id=i, w=100_000) for i in range(1, 2001)]
    df = spark.createDataFrame(rows)
    kept = sorted(r["doc_id"] for r in
                  weighted_sample_priority(df, 100, weight_col="w").collect())
    assert len(kept) == 100
    # a key-ordered tie-break would return exactly 1..100; the hash
    # tie-break must not
    assert kept != list(range(1, 101))
    # and the selection is spread across the key range, not clustered low
    assert max(kept) > 1000
    # still deterministic across re-runs
    again = sorted(r["doc_id"] for r in
                   weighted_sample_priority(df, 100, weight_col="w").collect())
    assert kept == again


def test_mixture_plan_escapes_config_into_sql(spark):
    """Weight keys with quotes/backslashes and a group_col needing
    backtick-quoting must not produce malformed SQL."""
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.sampling import mixture_plan

    rows = [
        _Row(**{"the source": "it's\\here", "text": "a b c d"}),
        _Row(**{"the source": "plain", "text": "x y"}),
    ]
    df = spark.createDataFrame(rows)
    plan = {r["the source"]: r for r in mixture_plan(
        df, {"it's\\here": 0.75, "plain": 0.25}, budget_tokens=8,
        group_col="the source",
    ).collect()}
    assert plan["it's\\here"]["n_tokens"] == 4
    assert plan["it's\\here"]["target_tokens"] == 6.0
    assert plan["plain"]["n_tokens"] == 2
    assert plan["plain"]["target_tokens"] == 2.0


def test_winsorize_and_cutoff_reject_column_clash(spark):
    """Audit columns must never silently duplicate an input column."""
    import pytest as _pytest
    from pyspark.sql import Row as _Row

    from confluent_data_ingestion_spark.operators.text import (
        quality_cutoff_filter,
        winsorize,
    )

    rows = [_Row(doc_id=i, lang="en", n_chars=i, lo=0.0) for i in range(20)]
    df = spark.createDataFrame(rows)
    with _pytest.raises(ValueError, match="lo"):
        winsorize(df)
    # renaming the audit column resolves the clash
    out = winsorize(df, lo_col="band_lo", hi_col="band_hi")
    assert {"band_lo", "band_hi", "n_chars_w", "lo"} <= set(out.columns)

    rows2 = [_Row(doc_id=i, lang="en", n_chars=i, cutoff=1.0) for i in range(20)]
    df2 = spark.createDataFrame(rows2)
    with _pytest.raises(ValueError, match="cutoff"):
        quality_cutoff_filter(df2)
    assert "q_cut" in quality_cutoff_filter(df2, cutoff_col="q_cut").columns


def test_connected_components_star_matches_label_propagation(spark):
    """Differential: the two-phase star contraction must produce exactly
    the label-propagation result on mixed-shape graphs."""
    import random as _random

    from confluent_data_ingestion_spark.operators.cluster import (
        connected_components,
    )

    fixtures = [
        # chain + clique + isolated pair (the canonical fixture above)
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        # self-pair and duplicate edges
        [(5, 5), (1, 2), (2, 1), (1, 2), (7, 9)],
        # two stars sharing a leaf (merges through it)
        [(100, i) for i in range(101, 106)]
        + [(200, i) for i in range(201, 206)] + [(105, 205)],
    ]
    rng = _random.Random(42)
    random_edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(80)]
    fixtures.append([(a, b) for a, b in random_edges])

    for edges in fixtures:
        pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
        lab = {(r.doc_id, r.cluster_id)
               for r in connected_components(pairs, algorithm="label").collect()}
        star = {(r.doc_id, r.cluster_id)
                for r in connected_components(pairs, algorithm="star").collect()}
        assert star == lab, f"divergence on fixture {edges[:6]}..."


def test_connected_components_star_chain_rounds_logarithmic(spark):
    """On a path graph, label propagation needs O(diameter) rounds; the
    star contraction must finish in O(log n)."""
    from confluent_data_ingestion_spark.operators.cluster import (
        connected_components,
    )

    n = 64  # 65-node path, diameter 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a int, doc_b int"
    )
    lab_stats: dict = {}
    star_stats: dict = {}
    lab = connected_components(
        pairs, algorithm="label", max_iter=100, stats=lab_stats
    )
    star = connected_components(
        pairs, algorithm="star", max_iter=100, stats=star_stats
    )
    assert {r.cluster_id for r in star.collect()} == {0}
    assert star.count() == n + 1
    # label propagation walks the diameter; star contraction halves it
    # per round (2 * log2(65) ~ 12.1 plus the convergence-confirm round)
    assert lab_stats["rounds"] >= n // 2
    assert star_stats["rounds"] <= 14
    assert {r.cluster_id for r in lab.collect()} == {0}


def test_semantic_contamination_planted_near_dup(spark):
    """A training vector colinear with an eval vector is flagged with the
    CLOSEST eval id (ties -> smaller id); orthogonal vectors are absent;
    cosines are the 6-decimal deterministic round."""
    from confluent_data_ingestion_spark.operators.decontam import (
        semantic_contamination,
    )

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [
            (1, [2.0, 0.02, 0.0]),   # ~colinear with eval 100
            (2, [0.0, 0.0, 5.0]),    # orthogonal to both -> clean
            (3, [1.0, 1.0, 0.0]),    # cos ~0.7071 to BOTH -> tie, id 100
            (4, [0.0, 0.0, 0.0]),    # zero norm: cosine undefined -> clean
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["eval_id"], r["cosine"])
        for r in semantic_contamination(train, ev, threshold=0.7).collect()
    }
    assert set(got) == {1, 3}  # 4 absent: NaN cosine must NOT flag
    assert got[1][0] == 100 and got[1][1] > 0.99
    assert got[3] == (100, 0.707107)  # tie broken to the smaller eval id

    # a zero-norm EVAL vector likewise scores nothing (would otherwise
    # NaN-flag every training vector, NaN sorting above all numbers)
    zero_ev = spark.createDataFrame(
        [(200, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert semantic_contamination(train, zero_ev, threshold=0.7).count() == 0


def test_exact_quantiles_twopass_matches_order_statistics(spark):
    """Two-pass histogram+subset-sort quantiles equal numpy's 'lower'
    order statistic per group for awkward shapes: duplicates, a
    constant-valued group, NULLs excluded, n=1 groups."""
    import numpy as np

    from confluent_data_ingestion_spark.operators.stats import (
        exact_quantiles_twopass,
    )

    rng = np.random.RandomState(7)
    rows = (
        [("a", float(v)) for v in rng.randint(0, 50, 137)]   # duplicates
        + [("b", 3.25)] * 9                                  # hi == lo
        + [("c", 42.0)]                                      # n == 1
        + [("a", None), ("c", None)]                         # excluded
        + [(None, float(v)) for v in rng.randint(0, 30, 17)]  # NULL KEY
    )
    df = spark.createDataFrame(rows, "g string, v double")
    qs = [0.25, 0.5, 0.9, 1.0]
    got = {
        (r["g"], r["q"]): (r["rank"], r["value"])
        for r in exact_quantiles_twopass(df, "v", ["g"], qs, nbins=8)
        .collect()
    }
    # a NULL group KEY is a real group (GROUP BY semantics): the internal
    # re-joins must be null-safe or this group silently vanishes
    by_g = {"a": sorted(v for g, v in rows if g == "a" and v is not None),
            "b": [3.25] * 9, "c": [42.0],
            None: sorted(v for g, v in rows if g is None)}
    for g, vals in by_g.items():
        n = len(vals)
        for q in qs:
            k = max(1, int(np.ceil(q * n)))
            assert got[(g, q)] == (k, vals[k - 1]), (g, q)
    assert len(got) == len(by_g) * len(qs)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        exact_quantiles_twopass(df, "v", ["g"], [])
    with _pytest.raises(ValueError, match="in \\(0, 1\\]"):
        exact_quantiles_twopass(df, "v", ["g"], [0.0])


def test_connected_components_collect_bound_matches_distributed(spark):
    """The bounded driver union-find must emit the identical
    (node, min-reachable-id) labels as the distributed rounds — chains,
    merged components, self-contained cliques, and isolated pairs."""
    from confluent_data_ingestion_spark.operators.cluster import (
        connected_components,
    )

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 10),              # not distinct on purpose
        (20, 21), (22, 21), (20, 22),    # triangle, min in the middle
        (30, 31),
        (40, 5), (5, 1),                 # merges into the chain component
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(df).collect()
    }
    got_stats: dict = {}
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(
            df, collect_bound=100, stats=got_stats
        ).collect()
    }
    assert got == want
    assert got_stats["rounds"] == 0
    # over the bound: falls through to the distributed rounds
    over = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(df, collect_bound=3).collect()
    }
    assert over == want
    # exactly at the bound (E edges) the driver path runs; one below,
    # the distributed rounds
    n_edges = len(edges)
    for bound, driver in ((n_edges, True), (n_edges - 1, False)):
        stats: dict = {}
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(
                df, collect_bound=bound, stats=stats
            ).collect()
        }
        assert got == want, bound
        assert (stats["rounds"] == 0) == driver, bound
