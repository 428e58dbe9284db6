"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these):
 - Signatures (minhash / simhash / fingerprints) are computed as PER-ROW
   Catalyst array expressions — array_min over transform(), aggregate() folds
   — so signature generation is a zero-shuffle scan that parallelizes
   embarrassingly at 100 TB.  No explode, no groupBy for signatures.
 - Only candidate *pairing* shuffles, and it shuffles short hash keys
   (LSH band keys), never document text.  Band-key partition sizes are
   bounded by collision-group size, not corpus size.
 - Exact dedup is a hash-groupBy on a digest, the minimum possible shuffle
   (32-byte keys instead of full documents).
 - Pairwise n-gram Jaccard is the quadratic fallback — at scale you run
   minhash_lsh_pairs first and feed ONLY candidate pairs into the exact
   Jaccard verifier (:func:`jaccard_verify_pairs`).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import track
from ..session import ensure_min_parallelism


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per distinct document text: canonical (min) id + duplicate count.

    GroupBy on md5(text): map-side partial aggregation + a 32-byte shuffle
    key; the text itself never shuffles.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
) -> DataFrame:
    """Distinct word n-gram shingles as an array column (no explode).

    Guarded so documents shorter than n tokens get an empty array (Spark's
    sequence() would otherwise count DOWN when stop < start).
    """
    t = text_col
    joins = " , ' ', ".join(f"element_at(__ts__, i + {k})" for k in range(n))
    return (
        df.withColumn("__ts__", F.split(F.col(t), " "))
        .withColumn(
            out_col,
            F.expr(
                f"CASE WHEN size(__ts__) >= {n} THEN "
                f"array_distinct(transform(sequence(1, size(__ts__) - {n - 1}), "
                f"i -> concat({joins}))) "
                f"ELSE array() END"
            ),
        )
        .drop("__ts__")
    )


def minhash_signature(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_hashes: int = 8,
    prefix: str = "mh",
) -> DataFrame:
    """MinHash signature: ``num_hashes`` lexicographic minima over per-shingle
    hash slices.

    Cost trick: an md5 digest is 32 hex chars = four independent 8-char
    (32-bit) hash values, so k minhashes need only ceil(k/4) md5 passes over
    the shingle array instead of k.  mh_{4d+s} = min over shingles of
    substr(md5('<d>|' || shingle), 1+8s, 8).  Lexicographic min over a
    fixed-width hex slice is a uniform permutation min — the standard MinHash
    estimator — and reproduces identically in any SQL engine.  Per-row
    expressions only: zero shuffle.
    """
    out = df
    n_digests = (num_hashes + 3) // 4
    for d in range(n_digests):
        out = out.withColumn(
            f"__h{d}__",
            F.expr(f"transform({shingle_col}, s -> md5(concat('{d}|', s)))"),
        )
    for j in range(num_hashes):
        d, s = divmod(j, 4)
        out = out.withColumn(
            f"{prefix}{j}",
            F.expr(f"array_min(transform(__h{d}__, h -> substr(h, {1 + 8 * s}, 8)))"),
        )
    return out.drop(*[f"__h{d}__" for d in range(n_digests)])


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """Distinct (doc_id, shingle) rows via position-explode.

    The Generate's child is an INT sequence, not the shingle-string array —
    Catalyst's InferFiltersFromGenerate otherwise clones the full
    string-building expression into a pre-explode filter where split() gets
    re-evaluated per element (observed 10x slowdown).  Shingle strings are
    assembled AFTER the explode from the materialized token array.

    ``hashed=True`` emits ``s = md5(shingle)`` instead of the raw shingle:
    the digest is computed BEFORE the distinct, so everything downstream —
    the dedupe shuffle and any self-join — moves fixed 32-byte keys
    instead of arbitrary-length n-gram text.  At 128 bits a colliding pair
    of distinct shingles is beyond negligible at any corpus size, and any
    SQL engine reproduces the digests for oracle parity.
    """
    tok = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__ts__"))
    pos = tok.select(
        F.col(id_col),
        "__ts__",
        F.explode(
            F.expr(
                f"CASE WHEN size(__ts__) >= {n} THEN sequence(1, size(__ts__) - {n - 1}) "
                f"ELSE CAST(array() AS array<int>) END"
            )
        ).alias("__i__"),
    )
    shingle_expr = f"array_join(slice(__ts__, __i__, {n}), ' ')"
    if hashed:
        shingle_expr = f"md5({shingle_expr})"
    return pos.select(
        F.col(id_col), F.expr(shingle_expr).alias("s")
    ).distinct()


def _shuffle_partitions(df: DataFrame) -> int:
    """Session shuffle-partition count, for EXPLICIT repartition widths.

    A bare ``repartition(cols)`` compiles to REPARTITION_BY_COL, whose
    partition count AQE may coalesce — so a cache built on top of it has
    no deterministic output partitioning and every downstream consumer
    re-shuffles.  Passing the number pins REPARTITION_BY_NUM, which AQE
    leaves alone, and the cached partitioning then satisfies downstream
    join/agg distribution requirements with zero further exchanges.
    """
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def _cap_hot_groups(
    keyed: DataFrame, key_cols: list[str], cap: int | None
) -> DataFrame:
    """Drop rows whose pairing key collides in more than ``cap`` rows.

    Every banded-LSH / inverted-index self-join below is quadratic in the
    COLLISION-GROUP size: one boilerplate shingle (or one degenerate band
    key) shared by k documents emits k^2/2 join rows into a single reducer.
    Frequency capping is the standard MinHash-dedup fix: a key that matches
    >cap documents carries no dedup signal (it is a stopword feature), so
    the group is dropped before the self-join.

    Scale shape: the count aggregation shuffles (key, partial-count) pairs
    only — map-side combine keeps the hot key's reducer input at
    O(num_partitions).  The hot-key SET is tiny by construction (few keys
    exceed the cap), so it broadcasts and the corpus-side filter is a
    broadcast anti-join: the keyed rows take NO extra shuffle.

    ``cap=None`` disables capping (plan unchanged).
    """
    if cap is None:
        return keyed
    hot = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__gc__"))
        .filter(F.col("__gc__") > cap)
        .drop("__gc__")
    )
    return keyed.join(F.broadcast(hot), key_cols, "left_anti")


def hot_shingle_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    cap: int = 500,
) -> DataFrame:
    """Document frequency of over-shared shingles: the (digest, n_docs) keys
    that ``ngram_jaccard_pairs(max_group_size=cap)`` drops.  Run this to
    audit what the cap removed (boilerplate headers, license blocks, ...)
    before tuning ``cap``.
    """
    sh = exploded_shingles(df, id_col, text_col, n, hashed=True)
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > cap)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    persist_signatures: bool = False,
    max_group_size: int | None = 500,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Pipeline: shingle -> per-row signature -> explode band INDEX (cheap
    generate, see ``exploded_shingles`` for why) -> band key per row (md5 of
    the band's signature slice) -> self-join on (band, key) -> distinct pairs
    (doc_a < doc_b).  The only shuffle is on 32-byte band keys.  Docs with no
    shingles yield NULL keys and are dropped.

    Both sides of the self-join share the signature subtree; when the join
    broadcasts, Spark cannot reuse the exchange and shingling runs TWICE
    over the corpus.  At corpus scale set ``persist_signatures=True`` (or
    persist upstream via the statement-set runtime): the band rows are then
    cached (``caching.track``, released by the runtime's next
    ``release_caches()``) pre-partitioned on (band, key), so documents are
    shingled+hashed once AND the frequency-cap count plus both join sides
    consume the cache without any further exchange.

    ``max_group_size`` frequency-caps band collision groups before the
    self-join (see ``_cap_hot_groups``): a band key shared by more than
    that many docs — e.g. a signature degenerated by boilerplate — would
    otherwise emit a quadratic pair blowup into one reducer.  Dropped keys
    match >cap docs and carry no pairing signal.  ``None`` disables.
    """
    allb = minhash_band_rows(
        df, id_col, text_col, n, num_hashes, rows_per_band
    )
    # persist the BAND ROWS, not the raw signatures, and persist them
    # already partitioned on the join key: the (band, key)-clustered cache
    # satisfies the distribution required by the hot-key count agg and both
    # self-join sides, so the signature subtree (shingle + minhash over the
    # corpus) is computed exactly once and nothing downstream re-shuffles it
    if persist_signatures:
        allb = track(
            allb.repartition(
                _shuffle_partitions(allb), F.col("band"), F.col("key")
            )
        )
    return pairs_from_band_rows(allb, id_col, max_group_size)


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """The per-document LSH band rows ``(id_col, band, key)`` of
    ``minhash_lsh_pairs`` — split out because a document's band rows
    depend on its OWN shingles only, so band rows over a corpus union
    are the union of per-corpus band rows.  A session can therefore
    keep one corpus's band rows as a shared artifact and extend it with
    a derived slice (e.g. planted excerpts) without re-signing the base
    corpus, as long as the hot-group cap is applied over the UNION
    (``pairs_from_band_rows``), where the original single-corpus
    pipeline applied it."""
    assert num_hashes % rows_per_band == 0
    n_bands = num_hashes // rows_per_band
    sig = minhash_signature(
        shingle(
            ensure_min_parallelism(df.select(id_col, text_col)), text_col, n
        ),
        num_hashes=num_hashes,
    )
    key_case = "CASE __band__ " + " ".join(
        f"WHEN {b} THEN md5("
        + "||".join(f"mh{b * rows_per_band + k}" for k in range(rows_per_band))
        + ")"
        for b in range(n_bands)
    ) + " END"
    return (
        sig.select(F.col(id_col), *[F.col(f"mh{j}") for j in range(num_hashes)])
        .withColumn("__band__", F.explode(F.expr(f"sequence(0, {n_bands - 1})")))
        .select(
            F.col(id_col),
            F.col("__band__").alias("band"),
            F.expr(key_case).alias("key"),
        )
        .filter(F.col("key").isNotNull())
    )


def pairs_from_band_rows(
    allb: DataFrame,
    id_col: str = "doc_id",
    max_group_size: int | None = 500,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from LSH band rows:
    frequency-cap the collision groups, self-join on (band, key).  The
    pair-derivation half of ``minhash_lsh_pairs``."""
    allb = _cap_hot_groups(allb, ["band", "key"], max_group_size)
    a = allb.alias("a")
    b_ = allb.alias("b")
    return (
        a.join(
            b_,
            F.expr(f"a.band = b.band AND a.key = b.key AND a.{id_col} < b.{id_col}"),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.03,
    persist_shingles: bool = False,
    max_group_size: int | None = 500,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard similarity over shingle-sharing pairs.

    Posting-list formulation: explode distinct shingles, ONE skew-safe
    shuffle collapses them to per-shingle posting lists, then candidate
    pairs explode WITHIN each list (a narrow double-explode — no
    self-join), intersections count per (doc_a, doc_b), and Jaccard is
    |A ∩ B| / (|A| + |B| - |A ∩ B|).  Quadratic in collision-group size —
    at 100 TB, run AFTER an LSH prefilter.

    ``max_group_size`` document-frequency-caps shingles before pairing: a
    boilerplate shingle shared by k docs emits k^2/2 candidate pairs, so
    shingles matching more than ``max_group_size`` docs are dropped from
    BOTH the posting lists and the per-doc size counts — Jaccard is then
    computed over the capped (discriminative) feature space, the standard
    stopword-feature treatment.  Inspect dropped keys with
    ``hot_shingle_stats``.  ``None`` disables capping.

    Scale shape of the cap (this is where the round-4/5 extra corpus-wide
    count aggregation went): doc frequency and the posting list come out
    of ONE aggregation pass — ``groupBy(s).agg(count, collect_list)`` —
    and the cap is a post-filter on that row, so there is no second
    corpus-scale count pass and no anti-join.  The pair blowup the cap
    exists to prevent (k²/2 candidates from one boilerplate shingle)
    cannot happen: pairs explode only from lists that survived the
    filter.  The residual skew exposure is the aggregation buffer of a
    hot key before its row is filtered: ``collect_list`` state is held
    per-group in executor memory (string ids cost their full length,
    not 8 bytes, and the buffer is not spillable per-element — the
    sort-based fallback spills whole groups between keys, never inside
    one).  With the cap ON this buffer is bounded at ``max_group_size``
    ids; passing ``max_group_size=None`` REINSTATES the memory hazard —
    a boilerplate shingle shared by millions of docs accumulates its
    entire id list on one executor before the (now absent) filter could
    prune it.  If the cap must be disabled on a skewed corpus, pre-drop
    hot digests with a cheap count pass (``hot_shingle_stats``) first.

    ``persist_shingles=True`` caches twice (``caching.track``, released
    by the runtime's next ``release_caches()``): the exploded shingles
    pre-partitioned on the digest, so the posting aggregation needs NO
    further exchange, and the posting frame itself, shared by the pair
    explode and the per-doc size counts.

    Shingles travel as md5 digests (``exploded_shingles(hashed=True)``):
    every shuffle and persisted block carries 32-byte keys, never n-gram
    text.

    ``shingles``: an already-built hashed shingle frame
    (``(id_col, s)``, clustered on the digest) — e.g. a session-shared
    artifact several pairing rows consume — skips the corpus
    scan/explode here; ``persist_shingles`` then only governs the
    posting frame.
    """
    if shingles is not None:
        sh = shingles
    else:
        sh = exploded_shingles(
            ensure_min_parallelism(df), id_col, text_col, n, hashed=True
        )
        # persist ALREADY PARTITIONED on the digest: the posting
        # aggregation's required distribution is then satisfied by the
        # cache, so the corpus crosses exactly one exchange
        if persist_shingles:
            sh = track(sh.repartition(_shuffle_partitions(sh), F.col("s")))
    post = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("__df__"),
        F.collect_list(id_col).alias("__ids__"),
    )
    if max_group_size is not None:
        post = post.filter(F.col("__df__") <= max_group_size)
    if persist_shingles:
        post = track(post)
    pairs = (
        post.select(F.explode("__ids__").alias("doc_a"), "__ids__")
        .select("doc_a", F.explode("__ids__").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("c"))
    sizes = (
        post.select(F.explode("__ids__").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.expr(f"doc_a = sa.{id_col}"))
        .join(sb, F.expr(f"doc_b = sb.{id_col}"))
        .withColumn(
            "__j__",
            F.expr("CAST(c AS DOUBLE) / (sa.n_sh + sb.n_sh - c)"),
        )
        .filter(F.col("__j__") >= threshold)
        .select("doc_a", "doc_b", F.round("__j__", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    persist_shingles: bool = False,
    max_group_size: int | None = 500,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise n-gram CONTAINMENT — the asymmetric companion to
    :func:`ngram_jaccard_pairs` for excerpt/quote detection (Broder's
    resemblance-vs-containment distinction, "On the resemblance and
    containment of documents", 1997).  A 500-word excerpt embedded in a
    5,000-word parent scores Jaccard ~0.1 (invisible to the symmetric
    near-dup radar) but containment ~1.0: containment of A in B is
    |A ∩ B| / |A|, so a doc whose shingles are a subset of another's
    scores 1 regardless of the size ratio — the duplicate class that
    matters when a training corpus quotes, syndicates, or re-chunks its
    own sources.

    Output: one row per unordered candidate pair clearing ``threshold``
    on the LARGER directed containment —
    ``(doc_a, doc_b, containment, contained_doc)`` where
    ``contained_doc`` is the id of the more-contained side (the doc the
    dedup policy would drop or link as an excerpt; ties, i.e. equal
    shingle counts, resolve to ``doc_a`` which is the smaller id).

    Same posting-list shape as :func:`ngram_jaccard_pairs` (one
    skew-safe shuffle to per-shingle posting lists, candidates explode
    within lists, never a self-join), same ``max_group_size``
    document-frequency cap with the same single-aggregation-pass cap
    semantics, shingles travel as md5 digests.  Quadratic in
    collision-group size — at 100 TB run AFTER an LSH prefilter, or
    feed it the pair list of a banded candidate generator.

    ``shingles``: an already-built hashed shingle frame
    (``(id_col, s)``, clustered on the digest) — e.g. a session-shared
    artifact several containment rows consume — skips the corpus
    scan/explode here; ``persist_shingles`` then only governs the
    posting frame.
    """
    if shingles is not None:
        sh = shingles
    else:
        sh = exploded_shingles(
            ensure_min_parallelism(df), id_col, text_col, n, hashed=True
        )
        if persist_shingles:
            sh = track(sh.repartition(_shuffle_partitions(sh), F.col("s")))
    post = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("__df__"),
        F.collect_list(id_col).alias("__ids__"),
    )
    if max_group_size is not None:
        post = post.filter(F.col("__df__") <= max_group_size)
    if persist_shingles:
        post = track(post)
    pairs = (
        post.select(F.explode("__ids__").alias("doc_a"), "__ids__")
        .select("doc_a", F.explode("__ids__").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("c"))
    sizes = (
        post.select(F.explode("__ids__").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.expr(f"doc_a = sa.{id_col}"))
        .join(sb, F.expr(f"doc_b = sb.{id_col}"))
        .withColumn(
            "__cont__",
            F.expr(
                "greatest(CAST(c AS DOUBLE) / sa.n_sh,"
                " CAST(c AS DOUBLE) / sb.n_sh)"
            ),
        )
        .filter(F.col("__cont__") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("__cont__", 6).alias("containment"),
            # the more-contained side has the SMALLER surviving shingle
            # set; ties go to doc_a (< doc_b) for determinism
            F.expr("CASE WHEN sa.n_sh <= sb.n_sh THEN doc_a ELSE doc_b END")
            .alias("contained_doc"),
        )
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 16,
    out_col: str = "simhash",
    ngram: int = 1,
) -> DataFrame:
    """SimHash signature over distinct features (bit b = sign of the +1/-1
    sum of bit b of each feature's md5).

    Features are distinct tokens (``ngram=1``) or distinct word n-gram
    shingles (``ngram>1``).  Shingle features are the standard document
    formulation: on low-vocabulary corpora token SETS converge (every doc
    carries most of the vocabulary) and token-SimHash collapses toward one
    signature; the n-gram feature space is |vocab|^n so signatures stay
    discriminative and downstream band joins stay selective.

    Per-row expression: feature hashes computed once into an array, then one
    aggregate() fold per bit — zero shuffle, linear scan.  Bit b is the
    parity of hex digit b of the md5; each digest is pre-packed into
    8-hex-digit integer chunks (one conv per chunk, not one substr+instr per
    bit x feature) so the per-bit folds are pure integer shift/mask ops —
    ~10x less string work for 32-bit signatures.  Near-duplicate pairs =
    signatures within small Hamming distance (``simhash_pairs``).
    """
    df = ensure_min_parallelism(df)
    chunks = (bits + 7) // 8
    packed = (
        f"transform(sequence(0, {chunks - 1}), "
        f"c -> cast(conv(substr(md5(t), c * 8 + 1, 8), 16, 10) AS BIGINT))"
    )
    if ngram > 1:
        joins = " , ' ', ".join(
            f"element_at(__ts0__, i + {k})" for k in range(ngram)
        )
        feats = (
            f"CASE WHEN size(__ts0__) >= {ngram} THEN "
            f"array_distinct(transform(sequence(1, size(__ts0__) - {ngram - 1}), "
            f"i -> concat({joins}))) ELSE array() END"
        )
        df = (
            df.withColumn("__ts0__", F.split(F.col(text_col), " "))
            .withColumn("__th__", F.expr(f"transform({feats}, t -> {packed})"))
            .drop("__ts0__")
        )
    else:
        hashes = (
            f"transform(array_distinct(split({text_col}, ' ')), t -> {packed})"
        )
        df = df.withColumn("__th__", F.expr(hashes))
    terms = []
    for b in range(bits):
        # hex digit b lives in chunk b//8 at nibble 7 - b%8 (big-endian hex);
        # its parity is that nibble's low bit.
        chunk, shift = b // 8, 4 * (7 - b % 8)
        bit = (
            f"aggregate(__th__, 0, (acc, v) -> acc + "
            f"CASE WHEN (shiftright(element_at(v, {chunk + 1}), {shift}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        )
        terms.append(f"CASE WHEN ({bit}) > 0 THEN {1 << b}L ELSE 0L END")
    return df.withColumn(out_col, F.expr(" + ".join(terms))).drop("__th__")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
    ngram: int = 1,
    persist_signatures: bool = False,
    max_group_size: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs via SimHash banding: documents whose ``bits``-bit
    signatures are within ``max_hamming`` bit flips.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b.

    Same LSH shape as ``minhash_lsh_pairs``: the signature is cut into
    ``bands`` contiguous bit slices; a pair differing in <= max_hamming bits
    must agree EXACTLY on at least one slice whenever ``bands >
    max_hamming`` (pigeonhole — max_hamming flips can dirty at most
    max_hamming slices), so the band equi-join has zero recall loss, not
    just probabilistic recall.  Candidates are then verified with
    ``bit_count(sig_a ^ sig_b)``.

    Scale: signatures are per-row folds (zero shuffle); the only shuffle is
    the self-join on (band, slice) keys — 8-byte ints, never text.  Slice
    collision groups are bounded by corpus skew on a (bits/bands)-bit key;
    widen ``bits`` to shrink them.  ``max_group_size`` frequency-caps slice
    collision groups before the self-join (see ``_cap_hot_groups``) — note
    capping trades the pigeonhole recall guarantee on pairs involving a
    dropped (degenerate) slice for bounded reducers; widen ``bits`` first,
    cap as the backstop.  ``None`` disables.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming}: "
            "fewer slices than flips loses the pigeonhole recall guarantee"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} must divide evenly into bands={bands}")
    width = bits // bands
    sig = simhash(df.select(id_col, text_col), text_col=text_col, bits=bits,
                  out_col="__sig__", ngram=ngram).select(id_col, "__sig__")
    banded = (
        sig.withColumn("__band__", F.explode(F.expr(f"sequence(0, {bands - 1})")))
        .withColumn(
            "__key__",
            F.expr(f"shiftright(__sig__, __band__ * {width}) & {(1 << width) - 1}L"),
        )
    )
    # cache the band rows pre-partitioned on the join key (see
    # minhash_lsh_pairs): one exchange in the cache build, none in the cap
    # count or either self-join side
    if persist_signatures:
        banded = track(
            banded.repartition(
                _shuffle_partitions(banded), F.col("__band__"), F.col("__key__")
            )
        )
    banded = _cap_hot_groups(banded, ["__band__", "__key__"], max_group_size)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            F.expr(
                f"a.__band__ = b.__band__ AND a.__key__ = b.__key__ "
                f"AND a.{id_col} < b.{id_col}"
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("CAST(bit_count(a.__sig__ ^ b.__sig__) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    bucket_col: str | None = None,
    grid_dims: int = 3,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: docs whose vectors are
    within ``threshold`` cosine similarity, assigned a canonical id (the
    minimum id over each doc's duplicate neighborhood + itself).

    Output: (id_col, canonical_id, n_dups) for every doc that has at least
    one near-duplicate.

    Scale: candidate pairs come from an EXACT grid-bucket join, not an
    all-pairs cross join.  cosine(a,b) >= t implies the unit-normalized
    vectors are within L2 distance sqrt(2*(1-t)), hence within that bound
    per-coordinate.  We grid the first ``grid_dims`` unit coordinates with
    cell width = that bound and emit each vector into its cell plus the
    next cell per dimension (2^grid_dims composite keys), so any qualifying
    pair is guaranteed to share at least one key — an equi-join shuffle on
    the cell key replaces the O(n^2) scan, with zero recall loss.  The
    exact cosine is then re-checked on the raw vectors (JVM-side codegen'd
    fold — no Python).  Vectors shorter than ``grid_dims`` degrade
    gracefully: ``try_element_at`` yields NULL for the missing coordinates
    (never an ANSI out-of-range error) and ``concat_ws`` drops them from
    the key, so the grid simply loses those dimensions' selectivity, not
    any qualifying pair.

    For loose thresholds (< 0.9) the grid cell width exceeds the unit ball
    and every vector lands in one cell — an O(n^2) cross join in the
    operator whose whole point is avoiding O(n^2).  That is never a silent
    fallback: pass ``bucket_col`` (e.g. an IVF centroid id from
    ``similarity.assign_centroids`` or an LSH band key) to bound the
    pairing, or opt in explicitly with ``allow_all_pairs=True`` for small
    corpora.
    """
    dot = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
           "CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    keep = [F.col(id_col).alias("__id__"),
            F.col(vec_col).cast("array<double>").alias("__e__")]
    if bucket_col:
        keep.append(F.col(bucket_col).alias("__bkt__"))
    # the norm is computed ONCE per vector here and carried through the
    # cell explode + join: a candidate pair re-checked in several shared
    # cells would otherwise re-run two O(dim) norm folds per check
    v = ensure_min_parallelism(df.select(*keep)).withColumn(
        "__n__", F.expr("sqrt(" + dot.format(a="__e__", b="__e__") + ")")
    )
    cell = math.sqrt(2.0 * max(1.0 - threshold, 1e-12))
    if bucket_col:
        keyed = v.withColumn("__cell__", F.col("__bkt__")).drop("__bkt__")
    elif threshold >= 0.9:
        # unit-normalize the leading coordinates; each vector lands in
        # 2^grid_dims composite cells (its own + the next per dimension).
        # try_element_at: out-of-range coordinates (vector shorter than
        # grid_dims) give NULL, which concat_ws drops from the key —
        # selectivity shrinks, the shared-cell guarantee holds.
        base = [
            f"CAST(floor(try_element_at(__e__, {i + 1}) / nullif(__n__, 0.0d)"
            f" / {cell!r}d) AS BIGINT)"
            for i in range(grid_dims)
        ]
        combos = [
            "concat_ws(',', " + ", ".join(
                f"({b} + {(mask >> i) & 1})" for i, b in enumerate(base)
            ) + ")"
            for mask in range(1 << grid_dims)
        ]
        keyed = v.select(
            "__id__", "__e__", "__n__",
            F.explode(F.expr(
                "array_distinct(array(" + ", ".join(combos) + "))"
            )).alias("__cell__"),
        )
    elif allow_all_pairs:
        keyed = v.withColumn("__cell__", F.lit(0))
    else:
        raise ValueError(
            f"threshold={threshold} < 0.9 degenerates the grid to a single "
            "cell (an all-pairs cross join). Supply bucket_col to bound the "
            "pairing, or pass allow_all_pairs=True for a small corpus."
        )
    a, b = keyed.alias("a"), keyed.alias("b")
    cos = F.expr(
        "round(" + dot.format(a="a.__e__", b="b.__e__")
        + " / (a.__n__ * b.__n__), 6)"
    )
    # cosine BEFORE candidate dedup: a colliding pair is re-checked once per
    # shared cell (cheap codegen'd fold) so the distinct runs on two longs —
    # a HashAggregate — instead of dragging both vectors into the agg buffer
    pairs = (
        a.join(b, (F.col("a.__cell__") == F.col("b.__cell__"))
               & (F.col("a.__id__") < F.col("b.__id__")))
        .select(F.col("a.__id__").alias("ia"), F.col("b.__id__").alias("ib"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select("ia", "ib")
        .distinct()
    )
    # both edge directions via one explode — a union here would recompute
    # the whole candidate-join subtree twice (Spark plans are trees)
    edges = pairs.select(
        F.explode(F.array(
            F.struct(F.col("ia").alias("id"), F.col("ib").alias("nb")),
            F.struct(F.col("ib").alias("id"), F.col("ia").alias("nb")),
        )).alias("e")
    ).select("e.id", "e.nb")
    return (
        edges.groupBy("id")
        .agg(F.least(F.col("id"), F.min("nb")).alias("canonical_id"),
             F.count(F.lit(1)).alias("n_dups"))
        .select(F.col("id").alias(id_col), "canonical_id", "n_dups")
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_chars: int = 60,
    anchor_chars: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection — the substring-level
    dedup family (suffix-array dedup à la "Deduplicating Training Data
    Makes Language Models Better"), re-expressed for Spark.

    The alignment problem: fixed-stride character grams of the SAME
    substring at different offsets in two documents never line up, so
    stride sampling cannot see shared spans.  Content-defined anchors fix
    it: a position is an anchor when the md5 of its ``anchor_chars``-char
    prefix starts with hex '0' (1/16 of positions, chosen by CONTENT), so
    a shared substring anchors at the same internal offsets in every
    document that contains it.  Spans of ``span_chars`` extracted at
    anchors hash equal wherever the text is equal.

    Output: one row per (doc, anchor position) whose span recurs in >=
    ``min_docs`` distinct documents: (id, pos 1-based, span_hash, n_docs).

    Cost shape: the anchor scan evaluates an md5 per character position —
    a per-row projection (zero shuffle); the only shuffles are
    (span_hash, id) pairs into the distinct-doc count and the hash join
    back.  The anchor scan is pure Catalyst expressions, so any SQL engine
    (the oracle included) reproduces it.
    """
    grams = _anchor_grams(df, id_col, text_col, span_chars, anchor_chars)
    hits = (
        grams.groupBy("span_hash")
        .agg(F.countDistinct(id_col).cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return grams.join(hits, "span_hash").select(
        id_col, "pos", "span_hash", "n_docs"
    )


def _anchor_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_chars: int,
    anchor_chars: int,
) -> DataFrame:
    """(id, pos, span_hash) rows at content-defined anchor positions.

    A position p (1-based) is an anchor when md5 of the ``anchor_chars``-
    char prefix at p starts with hex '0'; its span hash is md5 of the
    ``span_chars``-char substring at p.
    """
    t, g, a = text_col, span_chars, anchor_chars
    spans = (
        f"CASE WHEN char_length({t}) >= {g} THEN "
        f"filter(transform(sequence(1, char_length({t}) - {g} + 1), "
        f"p -> IF(substr(md5(substr({t}, p, {a})), 1, 1) = '0', "
        f"named_struct('pos', p, 'h', md5(substr({t}, p, {g}))), NULL)), "
        f"x -> x IS NOT NULL) "
        f"ELSE array() END"
    )
    return (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.explode(F.expr(spans)).alias("__s__"))
        .select(
            id_col,
            F.col("__s__.pos").alias("pos"),
            F.col("__s__.h").alias("span_hash"),
        )
    )


def cross_set_span_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_chars: int = 60,
    anchor_chars: int = 8,
) -> DataFrame:
    """Character-level benchmark decontamination: training documents that
    share a >= ``span_chars``-char verbatim span with ANY eval document —
    catches contamination that token-n-gram overlap misses after
    formatting/punctuation changes shift token boundaries.

    Same content-defined anchors as ``repeated_substring_spans`` (shared
    spans align regardless of offset).  The eval span set is benchmark-
    sized and broadcast: the training corpus's grams stream past it with
    no shuffle of the corpus side.

    Output: (train ``id_col``, n_shared_spans, first_pos).
    """
    tg = _anchor_grams(train, id_col, text_col, span_chars, anchor_chars)
    eg = (
        _anchor_grams(eval_df, id_col, text_col, span_chars, anchor_chars)
        .select("span_hash")
        .distinct()
    )
    return (
        tg.join(F.broadcast(eg), "span_hash")
        .groupBy(id_col)
        .agg(
            F.countDistinct("span_hash").cast("bigint").alias("n_shared_spans"),
            F.min("pos").cast("int").alias("first_pos"),
        )
    )


def _minhash_band_keys(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band, key) MinHash LSH band keys — the shared banding of
    ``minhash_lsh_pairs`` / ``dedup_against_corpus`` / ``build_dedup_index``."""
    return minhash_band_rows(
        docs, id_col, text_col, n, num_hashes, rows_per_band
    )


def build_dedup_index(
    base_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_group_size: int | None = 500,
) -> dict[str, DataFrame]:
    """Precompute the corpus-side dedup index ``dedup_against_corpus``
    probes: ``{"digests": (d), "bands": (band, key)}`` — both distinct,
    both tiny relative to the corpus (32-byte digests / band keys only).

    This is the steady-state shape: write both frames to parquet once,
    then every daily ingest reads them back and labels its batch without
    touching base text at all.  Growing the index after accepting a batch
    is a union + distinct (or a parquet append + dedup-on-read).
    """
    base_docs = base_df.select(id_col, text_col)
    digests = base_docs.select(F.md5(F.col(text_col)).alias("d")).distinct()
    bands = (
        _cap_hot_groups(
            _minhash_band_keys(base_docs, id_col, text_col, n, num_hashes,
                               rows_per_band),
            ["band", "key"],
            max_group_size,
        )
        .select("band", "key")
        .distinct()
    )
    return {"digests": digests, "bands": bands}


def dedup_against_corpus(
    new_df: DataFrame,
    base_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_group_size: int | None = 500,
    index: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Incremental dedup: label each NEW document against an existing
    corpus — the shape a production ingest actually runs (a daily batch
    against the accumulated index), where re-pairing the whole corpus
    per batch would be quadratic over time.

    Labels (one row per new doc):
     - ``dup_exact``: byte-identical text exists in the base (md5 digest
       equi-join — 32-byte keys, text never shuffles).
     - ``dup_near``: shares at least one MinHash LSH band key with a base
       doc (same banding as ``minhash_lsh_pairs``; signature scan of the
       NEW batch only).
     - ``novel``: neither.

    Pass either ``base_df`` (index computed inline) or ``index`` (the
    :func:`build_dedup_index` frames, typically read back from parquet —
    the steady state where base text is never re-scanned).

    Scale: the base side shuffles digests/band keys only; both joins are
    LEFT SEMI (existence), so output is bounded by the new batch and a
    popular base key cannot fan out.  ``max_group_size`` caps degenerate
    band groups on both sides before the membership join (a band key
    matching half the base corpus carries no dedup signal).  Docs with no
    shingles (shorter than n tokens) can only be exact dups or novel.
    """
    if (base_df is None) == (index is None):
        raise ValueError("exactly one of base_df / index is required")
    if index is None:
        index = build_dedup_index(base_df, id_col, text_col, n, num_hashes,
                                  rows_per_band, max_group_size)
    new_docs = new_df.select(id_col, text_col)

    new_d = new_docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("d"))
    exact_ids = (
        new_d.join(index["digests"], "d", "left_semi").select(id_col)
    )

    new_b = _cap_hot_groups(
        _minhash_band_keys(new_docs, id_col, text_col, n, num_hashes,
                           rows_per_band),
        ["band", "key"],
        max_group_size,
    )
    base_b = index["bands"]
    near_ids = (
        new_b.join(base_b, ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
    )

    return (
        new_docs.select(id_col)
        .join(exact_ids.withColumn("__e__", F.lit(1)), id_col, "left")
        .join(near_ids.withColumn("__n__", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.expr(
                "CASE WHEN __e__ = 1 THEN 'dup_exact' "
                "WHEN __n__ = 1 THEN 'dup_near' ELSE 'novel' END"
            ).alias("verdict"),
        )
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY on candidate pairs — the verify
    stage of the two-phase corpus dedup (``minhash_lsh_pairs`` to
    generate candidates, this to remove LSH false positives).  At 100 TB
    the all-pairs ``ngram_jaccard_pairs`` inverted index is quadratic in
    collision groups; verification is linear in |candidates| * shingles.

    ``pairs``: (doc_a, doc_b) candidates.  Output: the pairs with
    ``jaccard >= threshold`` and the exact score.

    Scale shape: only docs APPEARING in pairs are shingled (semi-join
    prune); the intersection join shuffles on (doc, shingle-digest) keys;
    sizes are a per-doc count agg.  Pairs sharing no shingle get 0 and
    drop at any positive threshold.

    The candidate list feeds FOUR plan subtrees (both id-union sides, the
    intersection join, the final pair join); when ``pairs`` is itself an
    expensive subtree (an LSH self-join), Spark would recompute it per
    reference — so it is persisted here (candidates are pair-id rows,
    small by construction; registered with ``caching.track`` and released
    by the runtime's next ``release_caches()``).

    ``shingles``: optionally, the distinct hashed (id, s) shingle frame
    of ``df`` at the SAME ``n`` — a generator that already shingled the
    corpus (``allpairs_jaccard``'s posting build) passes it here so the
    corpus text is never read or exploded twice; the caller owns the
    consistency of ``shingles`` with (df, n).  The candidate semi-join
    prune still applies to it, so verification stays linear in
    |candidate docs| either way.
    """
    pairs = track(pairs.select("doc_a", "doc_b"))
    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    if shingles is not None:
        sh = shingles.join(ids, id_col, "left_semi")
    else:
        docs = df.select(id_col, text_col).join(ids, id_col, "left_semi")
        sh = exploded_shingles(
            ensure_min_parallelism(docs), id_col, text_col, n, hashed=True
        )
    # the pruned shingle set feeds THREE subtrees (both intersection join
    # sides + the size agg); persist it partitioned on the doc id — an
    # id-clustered cache satisfies the size agg (groupBy id) and both join
    # sides (equi-keys (id) and (id, s) ⊇ id), so the semi-join + explode
    # runs once and no consumer re-shuffles it
    sh = track(sh.repartition(_shuffle_partitions(sh), F.col(id_col)))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        pairs.join(a, F.expr(f"doc_a = a.{id_col}"))
        .join(b, F.expr(f"doc_b = b.{id_col} AND a.s = b.s"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("__c__", F.coalesce(F.col("__c__"), F.lit(0)))
        .join(sa, F.expr(f"doc_a = sa.{id_col}"))
        .join(sb, F.expr(f"doc_b = sb.{id_col}"))
        .withColumn(
            "jaccard",
            F.expr("round(CAST(__c__ AS DOUBLE) / (sa.n_sh + sb.n_sh - __c__), 6)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT computed ONLY on candidate pairs — the
    scale path of :func:`ngram_containment_pairs`, exactly as
    :func:`jaccard_verify_pairs` is the scale path of the symmetric
    all-pairs row: candidates from a banded generator
    (``minhash_lsh_pairs``, ``simhash_pairs``, an incremental index),
    directed verification linear in |candidates| x shingles.  The
    excerpt caveat is by design and documented here: MinHash-LSH
    recall targets JACCARD, so a small excerpt inside a much larger
    parent (containment ~1, Jaccard << 1) may never collide in any
    band — when excerpt detection at extreme size ratios is the goal,
    generate candidates from the SMALLER side's shingle postings
    (the ``ngram_containment_pairs`` inverted index, DF-capped) or
    band the two size strata separately; this verifier scores whatever
    candidate frame it is given, exactly.

    Output: ``(doc_a, doc_b, containment, contained_doc)`` for pairs
    clearing ``threshold`` on the larger directed containment
    |A ∩ B| / min(|A|, |B|)-side, with ``contained_doc`` the
    more-contained (smaller-shingle-set) side, ties to ``doc_a``.

    Same plan shape, pruning and ``shingles`` reuse contract as
    :func:`jaccard_verify_pairs` (semi-join prune to candidate docs,
    id-clustered persisted shingle frame feeding three subtrees,
    pair-sized everything downstream).
    """
    pairs = track(pairs.select("doc_a", "doc_b"))
    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    if shingles is not None:
        sh = shingles.join(ids, id_col, "left_semi")
    else:
        docs = df.select(id_col, text_col).join(ids, id_col, "left_semi")
        sh = exploded_shingles(
            ensure_min_parallelism(docs), id_col, text_col, n, hashed=True
        )
    sh = track(sh.repartition(_shuffle_partitions(sh), F.col(id_col)))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        pairs.join(a, F.expr(f"doc_a = a.{id_col}"))
        .join(b, F.expr(f"doc_b = b.{id_col} AND a.s = b.s"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("__c__", F.coalesce(F.col("__c__"), F.lit(0)))
        .join(sa, F.expr(f"doc_a = sa.{id_col}"))
        .join(sb, F.expr(f"doc_b = sb.{id_col}"))
        .withColumn(
            "__cont__",
            F.expr(
                "greatest(CAST(__c__ AS DOUBLE) / sa.n_sh,"
                " CAST(__c__ AS DOUBLE) / sb.n_sh)"
            ),
        )
        # threshold the UNROUNDED value, then round for output — the
        # same order as ngram_containment_pairs, so a boundary pair in
        # [threshold - 5e-7, threshold) is excluded by BOTH paths and
        # the exactness-on-candidates contract holds bit-for-bit
        .filter(F.col("__cont__") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("__cont__", 6).alias("containment"),
            F.expr("CASE WHEN sa.n_sh <= sb.n_sh THEN doc_a ELSE doc_b END")
            .alias("contained_doc"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings by nearest
    centroid, then find cosine near-duplicates WITHIN each cluster only —
    the embedding-space analogue of banded LSH ("SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication", Abbas et al.,
    public arXiv method).  Catches paraphrase/translation duplicates that
    text-hash dedup cannot see, at thresholds far looser than
    ``embedding_near_dup``'s grid supports.

    Output matches ``embedding_near_dup``: (``id_col``, canonical_id,
    n_dups) for every vector with at least one near-duplicate in its
    cluster; drop everything whose ``canonical_id != id`` to apply.

    Scale shape: centroid assignment is a broadcast scan + ``min_by``
    partial aggregation (see ``similarity.assign_centroids`` — no window,
    no shuffle of the vectors beyond the cluster-key join); pairing is an
    equi-join on the cluster id, so work is quadratic only in CLUSTER
    size, bounded by K — size K to the corpus (K ~ sqrt(N) keeps clusters
    ~sqrt(N)).  Cross-cluster near-dups at the boundary are the
    documented approximation, exactly as in the published method.
    """
    from .similarity import assign_centroids

    assigned = assign_centroids(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        cent_id_col=cent_id_col,
    )
    return embedding_near_dup(
        assigned, id_col=id_col, vec_col="ve", threshold=threshold,
        bucket_col=cent_id_col,
    )


def chunk_boilerplate_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Chunk-level boilerplate detection (the C4-style paragraph-hash
    move, re-cut on fixed token windows since the fixture corpus has no
    paragraph marks): hash each non-overlapping ``chunk_tokens``-token
    window, count how many DISTINCT documents each chunk hash appears
    in, and report per document what fraction of its chunks are shared
    boilerplate — the signal behind both "drop repeated lines" cleanup
    and navigation/footer removal.

    Output: (``id_col``, n_chunks, n_boiler, boiler_ratio) for every doc
    (ratio 0 when nothing is shared).  ``min_docs`` is the cross-doc
    multiplicity that makes a chunk boilerplate.

    Scale shape: chunking is a per-row explode (zero shuffle, chunk rows
    inherit the parent partition); chunk hashes aggregate twice on the
    32-byte digest key (distinct-doc counts map-side combine) and join
    back to the per-doc chunk list on that digest — the same
    inverted-index shape as ``repeated_substring_spans`` but with
    O(len/chunk) rows per doc instead of O(len) positions, which is why
    this is the cheap first pass and span detection the precise second.
    """
    from .text import chunk_documents as _chunks  # local import: no cycle

    ch = _chunks(
        ensure_min_parallelism(df.select(id_col, text_col)),
        text_col=text_col, id_cols=(id_col,),
        chunk_tokens=chunk_tokens, stride_tokens=chunk_tokens,
    ).select(F.col(id_col), F.md5(F.col("chunk_text")).alias("h"))
    ch = track(ch)  # feeds the multiplicity agg AND the per-doc join
    multi = (
        ch.groupBy("h")
        .agg(F.countDistinct(id_col).alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
        .select("h")
        .withColumn("__b__", F.lit(1))
    )
    return (
        ch.join(multi, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("__b__").alias("n_boiler"),
            F.expr(
                "round(CAST(count(__b__) AS DOUBLE) / count(1), 6)"
            ).alias("boiler_ratio"),
        )
    )


def scrub_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    min_docs: int = 2,
    out_col: str = "text_clean",
) -> DataFrame:
    """The APPLY side of :func:`chunk_boilerplate_ratio`: REMOVE every
    cross-document boilerplate chunk and reassemble each document's
    remaining chunks in original order — the C4/CCNet "drop repeated
    lines" cleanup step, on fixed token windows.

    A chunk is boilerplate when its hash appears in >= ``min_docs``
    DISTINCT documents; every occurrence is dropped (including the
    first — boilerplate is navigation/footer/license noise, not content
    with a canonical owner).  A fully-boilerplate document comes back
    with an empty ``out_col`` (and can then be length-filtered), so the
    output has exactly one row per input document.

    Output: (``id_col``, ``out_col``, n_chunks, n_dropped).

    Scale shape: chunking is a per-row explode; the multiplicity
    aggregation and the membership join both key on the 32-byte chunk
    digest (map-side combined / shuffle-pruned); reassembly is ONE
    doc-key shuffle collecting the surviving (idx, text) structs —
    ``collect_list`` skips the NULLed boilerplate entries, and the
    per-group buffer is bounded by the document's own chunk count, the
    same O(doc length) any reassembly must hold.
    """
    from .text import chunk_documents as _chunks  # local import: no cycle

    ch = _chunks(
        ensure_min_parallelism(df.select(id_col, text_col)),
        text_col=text_col, id_cols=(id_col,),
        chunk_tokens=chunk_tokens, stride_tokens=chunk_tokens,
    ).select(
        F.col(id_col), "chunk_idx", "chunk_text",
        F.md5(F.col("chunk_text")).alias("h"),
    )
    ch = track(ch)  # feeds the multiplicity agg AND the membership join
    boiler = (
        ch.groupBy("h")
        .agg(F.countDistinct(id_col).alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
        .select("h")
        .withColumn("__b__", F.lit(1))
    )
    return (
        ch.join(boiler, "h", "left")
        # NULL for boilerplate rows -> collect_list drops them; struct
        # ordering sorts on chunk_idx (its first field)
        .withColumn(
            "__ks__",
            F.when(F.col("__b__").isNull(),
                   F.struct("chunk_idx", "chunk_text")),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("__b__").cast("long").alias("n_dropped"),
            F.expr(
                "array_join(transform(array_sort(collect_list(__ks__)), "
                "x -> x.chunk_text), ' ')"
            ).alias(out_col),
        )
        .select(id_col, out_col, "n_chunks", "n_dropped")
    )


def duplicate_provenance(
    pairs: DataFrame,
    meta: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Cross-group duplicate-flow matrix: aggregate a near-duplicate PAIR
    list up to the (group_a, group_b) level — "which sources copy from
    which".  The per-pair output of any pairing operator in this module
    answers per-document questions; provenance triage (licensing risk,
    crawler overlap, mirror detection, dedup-order policy between feeds)
    needs the source-level rollup.

    ``pairs``: (a_col, b_col) document-id pairs (each pair once, any
    orientation).  ``meta``: (id_col, group_col) document metadata.
    Output: one row per unordered group pair —
    ``(group_a, group_b, n_pairs)`` with ``group_a <= group_b``
    lexically, so within-group duplication shows up as the diagonal.

    Scale shape: two equi-joins keyed on the document id attach each
    side's group (the pair list is the small side after near-dup
    pruning — at 100 TB, still orders of magnitude below the corpus —
    so both joins broadcast it when it fits, else hash-shuffle on the
    id), then ONE aggregation whose state is the groups-squared matrix
    — metadata-sized.  The symmetric key is least/greatest, computed
    map-side; no self-join, no explode.
    """
    ga = meta.select(
        F.col(id_col).alias(a_col), F.col(group_col).alias("__ga__")
    )
    gb = meta.select(
        F.col(id_col).alias(b_col), F.col(group_col).alias("__gb__")
    )
    return (
        pairs.select(a_col, b_col)
        .join(ga, a_col)
        .join(gb, b_col)
        .groupBy(
            F.least("__ga__", "__gb__").alias("group_a"),
            F.greatest("__ga__", "__gb__").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumnsRenamed(
            {"group_a": f"{group_col}_a", "group_b": f"{group_col}_b"}
        )
    )


def allpairs_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    persist_shingles: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= ``threshold`` via prefix
    filtering (AllPairs / PPJoin family — Bayardo, Ma & Srikant 2007;
    Xiao et al. 2008; public methods): the third pairing strategy next
    to the full inverted index (``ngram_jaccard_pairs`` — quadratic in
    collision groups) and MinHash-LSH (``minhash_lsh_pairs`` — scale-
    safe but probabilistic, false NEGATIVES possible).  Prefix
    filtering is the no-compromise point: candidates shrink by orders
    of magnitude AND the no-miss guarantee is a theorem, not a
    probability.

    The principle: order every document's shingle set by a GLOBAL total
    order (document frequency ascending — rarest first — digest
    tie-break).  For Jaccard >= t a pair must overlap in at least
    ``ceil(t * |x|)`` shingles (|y| >= t|x| holds for any qualifying
    pair), so two documents sharing NOTHING in their first
    ``p_x = |x| - ceil(t * |x|) + 1`` ordered shingles cannot qualify —
    only PREFIX tokens generate candidates, and prefix tokens are by
    construction each document's rarest.  The ceil is computed with a
    1e-9 downward guard so IEEE rounding of ``t * |x|`` can only ever
    ENLARGE a prefix (more candidates, never a miss).

    Stages (each one shuffle, family-standard shapes):

    1. distinct (id, shingle-digest) + per-digest document frequency —
       ONE aggregation on the digest-partitioned shingles;
    2. per-document ordering window -> keep the prefix rows;
    3. candidate pairs explode WITHIN per-digest prefix posting lists
       (the ``ngram_jaccard_pairs`` narrow double-explode — no
       self-join), with the |y| >= t|x| length filter applied inside
       the pair expression;
    4. exact verification on the deduplicated candidates
       (:func:`jaccard_verify_pairs` — linear in candidates).

    Output: (doc_a, doc_b, jaccard) for every pair at or above the
    threshold — bit-identical to the capless inverted index, reached
    without ever pairing on a common shingle.

    100 TB posture: the index carries PREFIXES only (~(1-t) of each
    document's shingles, and the rare end of the frequency spectrum at
    that); a boilerplate shingle shared by a million documents lands in
    almost no prefix because its df ranks it LAST in every ordering.
    The residual hazard is a corpus where many documents consist
    ENTIRELY of globally-common shingles — their prefixes must include
    common digests and those posting lists re-grow; that corpus is the
    one to pre-clean with ``scrub_boilerplate`` (or fall back to
    LSH + verify) before an exact all-pairs run.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if shingles is not None:
        # pre-built digest-clustered frame (session-shared artifact) —
        # the corpus is not scanned here
        sh = shingles
    else:
        sh = exploded_shingles(
            ensure_min_parallelism(df), id_col, text_col, n, hashed=True
        )
        if persist_shingles:
            # digest-partitioned: the df-count aggregation and the df join
            # both consume this distribution — one exchange for the corpus
            sh = track(sh.repartition(_shuffle_partitions(sh), F.col("s")))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df__"))
    from pyspark.sql import Window

    w_ord = Window.partitionBy(id_col).orderBy(
        F.col("__df__").asc(), F.col("s").asc()
    )
    w_sz = Window.partitionBy(id_col)
    pref = (
        sh.join(dfreq, "s")
        .select(
            F.col(id_col),
            "s",
            F.row_number().over(w_ord).alias("__r__"),
            F.count(F.lit(1)).over(w_sz).alias("__n__"),
        )
        .filter(
            F.col("__r__")
            <= F.col("__n__")
            - F.ceil(F.lit(threshold) * F.col("__n__") - F.lit(1e-9))
            + F.lit(1)
        )
    )
    # narrow double-explode within per-digest prefix posting lists; the
    # length filter t|a| <= |b| <= |a|/t prunes inside the expression
    posts = pref.groupBy("s").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("__n__").alias("n")))
        ).alias("__lst__")
    )
    cand = (
        posts.select(
            F.explode(
                F.expr(
                    "flatten(transform(__lst__, (a, ai) -> "
                    " filter(transform(slice(__lst__, ai + 2, size(__lst__)),"
                    "  b -> struct(a.i AS doc_a, b.i AS doc_b,"
                    "              a.n AS na, b.n AS nb)),"
                    f" p -> p.na * {float(threshold)!r}d - 1e-9d <= p.nb"
                    f"  AND p.nb * {float(threshold)!r}d - 1e-9d <= p.na)))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return jaccard_verify_pairs(
        df, cand, id_col=id_col, text_col=text_col, n=n,
        threshold=threshold,
        # the posting build's persisted shingle frame IS the verify
        # stage's input — never scan/explode the corpus text twice
        shingles=sh,
    )


def containment_excerpt_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram CONTAINMENT >= ``threshold`` via prefix
    filtering — the no-miss scale path for EXCERPT detection that
    :func:`containment_verify_pairs` documents as out of reach for
    Jaccard-targeted LSH candidates: a 500-word excerpt inside a
    5,000-word parent has Jaccard ~0.1 and may never collide in any
    MinHash band (measured 11/28 planted excerpts at sf0.001), but its
    containment is ~1.0 and this operator CANNOT miss it.

    The prefix theorem, adapted from the Jaccard case
    (:func:`allpairs_jaccard` — Bayardo et al. 2007 / Xiao et al. 2008
    overlap form): the larger directed containment is
    ``c / min(|A|, |B|)``, so a qualifying pair overlaps in at least
    ``ceil(t * n_s)`` shingles where ``n_s`` is the SMALLER side's
    shingle count.  If none of the smaller side's first
    ``p = n_s - ceil(t * n_s) + 1`` shingles — ordered by global
    document frequency ascending, digest tie-break, i.e. its RAREST —
    appear anywhere in the other document, the overlap is at most
    ``n_s - p = ceil(t * n_s) - 1``: too small.  Candidates therefore
    come from joining every document's prefix against the FULL shingle
    frame (the contained side needs no length relation to its
    container, so unlike Jaccard there is no length filter and no
    prefix-vs-prefix restriction — prefix-vs-ALL is what makes the
    asymmetric guarantee hold).  The same ``1e-9`` downward ceil guard
    means IEEE rounding can only ENLARGE a prefix, never shrink it.
    Exact verification then runs on the deduplicated candidates
    (:func:`containment_verify_pairs`, unrounded-threshold contract),
    reusing the persisted shingle frame — output bit-identical to
    capless :func:`ngram_containment_pairs`, reached without pairing
    inside full posting lists.

    Output: ``(doc_a, doc_b, containment, contained_doc)`` exactly as
    the all-pairs row.

    100 TB posture: the candidate join is prefix-rows x posting-list
    length, and prefix rows are each document's rarest ~(1-t) fraction
    — a boilerplate shingle in a million documents ranks LAST in every
    ordering and lands in almost no prefix.  The residual hazard is
    the same corpus as ``allpairs_jaccard``'s (documents consisting
    ENTIRELY of globally-common shingles): pre-clean with
    ``scrub_boilerplate`` or pass ``max_df`` to drop shingles above a
    document-frequency cap from BOTH the prefixes and the join side —
    with a cap the no-miss guarantee narrows to the capped shingle
    universe (a doc whose every sub-cap shingle ranks outside its
    prefix can escape), the documented trade of every capped pairing
    path in this module; verification still scores FULL shingle sets.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    from pyspark.sql import Window

    if shingles is not None:
        # pre-built digest-clustered frame (e.g. the session-shared
        # excerpt-corpus artifact) — the corpus is not scanned here
        sh = shingles
    else:
        sh = exploded_shingles(
            ensure_min_parallelism(df), id_col, text_col, n, hashed=True
        )
        # digest-partitioned: the df-count aggregation, the df join and
        # the candidate join all consume this distribution — one exchange
        sh = track(sh.repartition(_shuffle_partitions(sh), F.col("s")))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df__"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("__df__") <= max_df)
    w_ord = Window.partitionBy(id_col).orderBy(
        F.col("__df__").asc(), F.col("s").asc()
    )
    w_sz = Window.partitionBy(id_col)
    pref = (
        sh.join(dfreq, "s")
        .select(
            F.col(id_col),
            "s",
            F.row_number().over(w_ord).alias("__r__"),
            F.count(F.lit(1)).over(w_sz).alias("__n__"),
        )
        .filter(
            F.col("__r__")
            <= F.col("__n__")
            - F.ceil(F.lit(threshold) * F.col("__n__") - F.lit(1e-9))
            + F.lit(1)
        )
    )
    other = (
        sh.join(dfreq.select("s"), "s", "left_semi")
        if max_df is not None
        else sh
    )
    cand = (
        pref.select(F.col(id_col).alias("__a__"), "s")
        .join(other.select(F.col(id_col).alias("__b__"), "s"), "s")
        .filter(F.col("__a__") != F.col("__b__"))
        .select(
            F.least("__a__", "__b__").alias("doc_a"),
            F.greatest("__a__", "__b__").alias("doc_b"),
        )
        .distinct()
    )
    return containment_verify_pairs(
        df, cand, id_col=id_col, text_col=text_col, n=n,
        threshold=threshold,
        # the posting build's persisted shingle frame IS the verify
        # stage's input — never scan/explode the corpus text twice
        shingles=sh,
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints — the MOSS local fingerprinting
    algorithm ("Winnowing: Local Algorithms for Document
    Fingerprinting", Schleimer, Wilkerson & Aiken, SIGMOD 2003; public
    method): hash every k-token gram WITH its position, slide a window
    of ``window`` consecutive hashes, and keep each window's minimum
    (rightmost on ties).  The selected set is a ~``2/(window+1)``
    density sample of the gram stream with the GUARANTEE that any
    shared token run of length >= ``window + k - 1`` between two
    documents selects at least one common fingerprint — position-aware
    overlap detection at a fraction of full-shingle cost, the property
    set n-gram containment (global, position-blind) cannot offer.

    Output: one row per selected fingerprint —
    ``(id_col, f, pos)`` where ``f`` is the md5 of the k-gram and
    ``pos`` its 1-based token position: the localization handle (which
    SPAN two documents share, not just that they overlap).

    Engine-portable selection in ONE window pass: the minimized sort
    key is the string ``md5 || '|' || lpad(10**7 - pos)`` — hex then
    zero-padded digits, so lexicographic MIN is (min hash, then
    rightmost position), identical in any SQL engine; no struct
    ordering, no nested window functions.  Trailing windows truncate at
    the document end (``ROWS BETWEEN CURRENT ROW AND window-1
    FOLLOWING``), a deterministic variant that only ever ADDS
    selections in the last ``window-1`` positions; documents shorter
    than ``k`` tokens yield no grams and no fingerprints.

    Scale shape: position-explode (map-side, the exploded_shingles
    Generate discipline), ONE per-document window shuffle, then a
    distinct on the selected ~2/(window+1) fraction.  State per task is
    one document's gram run; nothing is corpus-quadratic.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    tok = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__ts__")
    )
    pos = tok.select(
        F.col(id_col),
        "__ts__",
        F.explode(
            F.expr(
                f"CASE WHEN size(__ts__) >= {k} THEN"
                f" sequence(1, size(__ts__) - {k - 1})"
                " ELSE CAST(array() AS array<int>) END"
            )
        ).alias("pos"),
    )
    grams = pos.select(
        F.col(id_col),
        "pos",
        F.expr(
            f"concat(md5(array_join(slice(__ts__, pos, {k}), ' ')), '|',"
            " lpad(CAST(10000000 - pos AS STRING), 8, '0'))"
        ).alias("__key__"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.select(
            F.col(id_col), F.min("__key__").over(w).alias("__sel__")
        )
        .distinct()
        .select(
            F.col(id_col),
            F.expr("substr(__sel__, 1, 32)").alias("f"),
            F.expr(
                "10000000 - CAST(substr(__sel__, 34, 8) AS INT)"
            ).alias("pos"),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_group_size: int | None = 500,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints — overlap detection
    over the :func:`winnow_fingerprints` sample instead of the full
    shingle set: any shared run of ``window + k - 1`` tokens guarantees
    a shared fingerprint, so thresholding SHARED FINGERPRINT COUNT
    (``min_shared``) detects substantial verbatim overlap (plagiarism,
    quoting, mirrored passages) at ~``2/(window+1)`` of the posting
    volume the exact n-gram rows pay.

    Output: ``(doc_a, doc_b, n_shared)`` per unordered pair with at
    least ``min_shared`` DISTINCT shared fingerprint hashes,
    ``doc_a < doc_b``.

    Same posting-list pairing discipline as every exact pairing row in
    this module (per-hash posting lists, ``max_group_size``
    document-frequency cap, candidates explode WITHIN lists, never a
    self-join) — but over the winnowed sample, which is what makes the
    inverted index affordable where full shingle postings are not; at
    100 TB this is the first-pass overlap radar, with
    :func:`containment_excerpt_pairs` as the exact no-miss follow-up on
    the survivors.
    """
    fp = winnow_fingerprints(
        ensure_min_parallelism(df), id_col, text_col, k, window
    ).select(id_col, "f").distinct()
    post = fp.groupBy("f").agg(
        F.count(F.lit(1)).alias("__df__"),
        F.collect_list(id_col).alias("__ids__"),
    )
    if max_group_size is not None:
        post = post.filter(F.col("__df__") <= max_group_size)
    pairs = (
        post.select(F.explode("__ids__").alias("doc_a"), "__ids__")
        .select("doc_a", F.explode("__ids__").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
