"""Text-analysis operators for large-scale training-data pipelines.

All of these are pure per-row Catalyst expressions (higher-order array
functions, regexp, hashing) — zero shuffles, zero Python, so they stream
through a 100 TB corpus at scan speed and pushdown/pruning stay intact.

Operators:
  tokenize            whitespace split -> array column
  text_quality        length / token / punctuation / stopword features
  token_count_bpe     BPE-ish regex token count
  language_id         n-gram/stopword-profile language guess (heuristic)
  fingerprint         order-insensitive document fingerprint (md5 of sorted
                      token multiset) + shingle fingerprint (min-hash, 1 seed)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on", "with",
)

# Small per-language marker profiles for the heuristic classifier.  The
# classifier is deterministic: score = marker-token hits; argmax with a fixed
# language order tiebreak.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow", "key", "value"),
    "es": ("data", "table", "row", "column"),
    "de": ("join", "merge", "sort", "group"),
    "fr": ("query", "filter", "window", "stream"),
}


def _tok(col: Column) -> Column:
    return F.split(col, " ")


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    return df.withColumn(out_col, _tok(F.col(text_col)))


def sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def text_quality(
    df: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Quality-scoring features per document (single-space-tokenized corpora).

    n_tokens, n_chars, avg token length, stopword ratio, alpha-char ratio —
    each a deterministic double rounded to 6 so any SQL engine reproduces the
    exact values.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    t = text_col
    sw = sql_in_list(stopwords)
    return df.select(
        "*",
        F.expr(f"size(split({t}, ' '))").alias("n_tokens"),
        F.expr(f"char_length({t})").alias("n_chars_calc"),
        F.expr(
            f"round(CAST(char_length({t}) - (size(split({t}, ' ')) - 1) AS DOUBLE)"
            f" / size(split({t}, ' ')), 6)"
        ).alias("avg_token_len"),
        F.expr(
            f"round(CAST(size(filter(split({t}, ' '), x -> x IN ({sw}))) AS DOUBLE)"
            f" / size(split({t}, ' ')), 6)"
        ).alias("stopword_ratio"),
        F.expr(
            f"round(CAST(char_length(regexp_replace({t}, '[^a-z]', '')) AS DOUBLE)"
            f" / char_length({t}), 6)"
        ).alias("alpha_ratio"),
    )


def token_count_bpe(
    df: DataFrame,
    text_col: str = "text",
    pattern: str = "[a-z]+|[0-9]+|[^a-z0-9 ]",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """BPE-ish token count: alternating letter-runs / digit-runs / symbols.

    The pattern uses only character classes so Java (Spark) and RE2-style
    engines agree.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.withColumn(
        out_col, F.expr(f"size(regexp_extract_all({text_col}, '{pattern}', 0))")
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
    out_col: str = "lang_pred",
) -> DataFrame:
    """Heuristic language ID: count marker-profile hits per language, argmax.

    Deterministic tiebreak: languages compared in insertion order, first max
    wins (>= on earlier languages).
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    profiles = profiles or LANG_PROFILES
    langs = list(profiles)
    score_cols = {}
    out = df
    for lang, words in profiles.items():
        sc = f"__score_{lang}__"
        score_cols[lang] = sc
        out = out.withColumn(
            sc,
            F.expr(
                f"size(filter(split({text_col}, ' '), x -> x IN ({sql_in_list(words)})))"
            ),
        )
    # first language whose score >= all others wins
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(score_cols[lang]) >= F.col(score_cols[other])
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    out = out.withColumn(out_col, pred.otherwise(F.lit(langs[0])))
    return out.drop(*score_cols.values())


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fingerprint",
) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token list — robust to token reordering, the classic "bag fingerprint"."""
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.withColumn(
        out_col,
        F.expr(
            f"md5(array_join(array_sort(array_distinct(split({text_col}, ' '))), ' '))"
        ),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document: total and
    distinct word n-gram counts, the duplicate-n-gram fraction
    (``1 - distinct/total``), and the count of the single most frequent
    n-gram.  Boilerplate-heavy / looping documents score high on both.

    Pure per-row expressions (the max-count is an O(distinct * total) fold
    over the gram arrays — bounded by document length, zero shuffle).
    Documents shorter than ``n`` tokens get total = 0 and NULL fractions.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    t = text_col
    joins = " , ' ', ".join(f"element_at(__ts__, i + {k})" for k in range(n))
    grams = (
        f"CASE WHEN size(__ts__) >= {n} THEN "
        f"transform(sequence(1, size(__ts__) - {n - 1}), i -> concat({joins})) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        df.withColumn("__ts__", F.split(F.col(t), " "))
        .withColumn("__g__", F.expr(grams))
        .select(
            "*",
            F.expr("CAST(size(__g__) AS BIGINT)").alias("n_grams"),
            F.expr("CAST(size(array_distinct(__g__)) AS BIGINT)").alias(
                "n_distinct_grams"),
            F.expr(
                "round(1.0d - CAST(size(array_distinct(__g__)) AS DOUBLE)"
                " / nullif(size(__g__), 0), 6)"
            ).alias("dup_gram_frac"),
            F.expr(
                "CAST(aggregate(array_distinct(__g__), 0, (acc, d) -> "
                "greatest(acc, size(filter(__g__, x -> x = d)))) AS BIGINT)"
            ).alias("max_gram_count"),
        )
        .drop("__ts__", "__g__")
    )


# PII patterns restricted to syntax Java (Spark) and RE2-style engines parse
# identically: character classes, bounded repeats, \d — no lookaround.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"\d{3}[-.]\d{3}[-.]\d{4}", "<PHONE>"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "<SSN>"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_clean",
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Scrub PII-shaped substrings (emails, phone numbers, SSNs) with
    placeholder tokens, counting redactions per category — the masking
    stage of a training-data pipeline (same spirit as the reference's
    MaskField SMT, applied inside free text instead of to whole columns).

    Pure per-row ``regexp_replace`` / ``regexp_extract_all`` chain: scan
    speed, no Python.  Patterns apply in order, each to the previous
    replacement's output, so overlapping matches resolve deterministically.
    Built with the column API (not ``F.expr``) so regex backslashes never
    pass through SQL string-literal escaping.
    """
    cleaned = F.col(text_col).cast("string")
    counts = []
    for name, pat, repl in patterns:
        counts.append(
            F.size(F.regexp_extract_all(cleaned, F.lit(pat), F.lit(0)))
            .cast("bigint").alias(f"n_{name}")
        )
        cleaned = F.regexp_replace(cleaned, pat, repl)
    return df.select("*", *counts, cleaned.alias(out_col))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_tokens: int = 40,
    stride_tokens: int = 30,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window preparation step of a training pipeline (pack long
    documents into model-sized pieces with ``chunk - stride`` tokens of
    overlap so no span is ever cut without context).

    Chunk i covers tokens [i*stride, i*stride + chunk); the final chunk may
    be short.  A document of <= ``chunk_tokens`` tokens yields exactly one
    chunk.  Pure per-row ``transform`` + ``explode`` over the token array —
    no shuffle, scan-speed at any corpus size, and chunk rows inherit the
    parent's partition (downstream groupBys shuffle chunk text, which is
    why chunking belongs BEFORE wide stages in a pipeline).
    """
    if stride_tokens <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride_tokens must be positive")
    t = text_col
    n_chunks = (
        f"1 + CAST(ceil(greatest(0, size(split({t}, ' ')) - {chunk_tokens})"
        f" / CAST({stride_tokens} AS DOUBLE)) AS INT)"
    )
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1), i -> struct("
        f"i AS idx, "
        f"array_join(slice(split({t}, ' '), i * {stride_tokens} + 1, {chunk_tokens}), ' ') AS txt, "
        f"size(slice(split({t}, ' '), i * {stride_tokens} + 1, {chunk_tokens})) AS n))"
    )
    return df.select(
        *id_cols, F.explode(F.expr(chunks)).alias("__c__")
    ).select(
        *id_cols,
        F.col("__c__.idx").alias("chunk_idx"),
        F.col("__c__.n").alias("chunk_tokens"),
        F.col("__c__.txt").alias("chunk_text"),
    )


def top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 1,
    persist_tf: bool = True,
) -> DataFrame:
    """Top-k characteristic terms per document: rank by term frequency
    descending, then document frequency ascending (rarer wins the tie),
    then term ascending — the tf-idf ranking with an exact integer
    tie-break instead of a float idf product, so every engine reproduces
    the ordering bit-for-bit.

    Two shuffles, both on compact keys: (doc, term) tf aggregation and a
    term -> doc-frequency aggregation whose output is term-vocabulary
    sized (tiny vs the corpus — broadcast back onto the tf side), then
    one window top-k on the doc id.  The corpus text itself never
    shuffles: only (id, term, count) triples move.

    ``persist_tf`` caches the tf aggregate (released by the runtime via
    ``caching.release_caches``): without it, Catalyst plans the doc-freq
    branch as a SECOND scan + explode of the whole corpus — at 100 TB
    that doubles the dominant cost for no reason.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    from ..caching import track

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.length("term") >= min_len)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    if persist_tf:
        tf = track(tf)
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("doc_freq")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term_rank", "term", "tf", "doc_freq")
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 90,
    max_stopword_ratio: float = 0.30,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Composite C4/Gopher-style document quality gate: apply the length
    and stopword-density heuristics and keep the verdict AND the reasons —
    a training-data pipeline filters on ``quality_pass`` but audits the
    drop-rate per reason, so both must come out of one scan.

    ``fail_reasons`` is a comma-joined, fixed-order list ("too_short",
    "too_long", "high_stopword"); empty string when the document passes.
    Pure per-row expressions over one tokenization — scan speed, no
    Python, no shuffle.
    """
    t = text_col
    sw = sql_in_list(stopwords)
    n_tok = f"size(split({t}, ' '))"
    sw_ratio = (
        f"round(CAST(size(filter(split({t}, ' '), x -> x IN ({sw}))) AS DOUBLE)"
        f" / size(split({t}, ' ')), 6)"
    )
    reasons = (
        f"filter(array("
        f"  IF({n_tok} < {min_tokens}, 'too_short', ''),"
        f"  IF({n_tok} > {max_tokens}, 'too_long', ''),"
        f"  IF({sw_ratio} > {max_stopword_ratio}, 'high_stopword', '')"
        f"), x -> x <> '')"
    )
    return df.select(
        "*",
        F.expr(n_tok).alias("n_tokens"),
        F.expr(sw_ratio).alias("stopword_ratio"),
        F.expr(f"array_join({reasons}, ',')").alias("fail_reasons"),
        F.expr(f"size({reasons}) = 0").alias("quality_pass"),
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 5,
    max_words: int = 200,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.10,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Gopher-style repetition-free quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", section A1.1) as one per-row rule vector:
    word-count bounds, mean-word-length window, symbol-to-word ratio
    (``#``/``...`` per word), alphabetic-word fraction, and a minimum count
    of DISTINCT stopword types (the "contains at least 2 of a stopword
    list" rule).  Output keeps each rule's boolean (``rule_*``) plus the
    conjunction ``gopher_pass`` — production filters on the verdict, audits
    per-rule drop rates, and both come from the same single scan.

    Differs from :func:`quality_filter` (the C4-ish length/stopword-density
    gate) by covering the Gopher-specific rules; compose both for a full
    pre-training gate.  Pure Catalyst expressions — no shuffle, no Python;
    ratios round to 6 decimals so any engine reproduces the bits.
    """
    t = text_col
    sw = sql_in_list(stopwords)
    n_words = f"size(split({t}, ' '))"
    # mean word length over the words themselves (separators excluded)
    mean_wl = (
        f"round(CAST(char_length({t}) - ({n_words} - 1) AS DOUBLE)"
        f" / {n_words}, 6)"
    )
    sym_ratio = (
        f"round(CAST(char_length({t}) - char_length(replace({t}, '#', ''))"
        f" + (char_length({t}) - char_length(replace({t}, '...', ''))) / 3"
        f" AS DOUBLE) / {n_words}, 6)"
    )
    alpha_frac = (
        f"round(CAST(size(filter(split({t}, ' '), x -> x rlike '[a-zA-Z]'))"
        f" AS DOUBLE) / {n_words}, 6)"
    )
    sw_hits = f"size(array_distinct(filter(split({t}, ' '), x -> x IN ({sw}))))"
    rules = {
        "rule_word_count": f"{n_words} BETWEEN {min_words} AND {max_words}",
        "rule_mean_word_len":
            f"{mean_wl} BETWEEN {min_mean_word_len!r}d AND {max_mean_word_len!r}d",
        "rule_symbol_ratio": f"{sym_ratio} <= {max_symbol_ratio!r}d",
        "rule_alpha_words": f"{alpha_frac} >= {min_alpha_word_frac!r}d",
        "rule_stopword_hits": f"{sw_hits} >= {min_stopword_hits}",
    }
    out = df.select(
        "*", *[F.expr(expr).alias(name) for name, expr in rules.items()]
    )
    verdict = None
    for name in rules:
        verdict = F.col(name) if verdict is None else (verdict & F.col(name))
    return out.withColumn("gopher_pass", verdict)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punct: bool = False,
) -> DataFrame:
    """Canonical text normalization (the first stage of every text
    pipeline): lowercase, whitespace collapse+trim, optional punctuation
    stripping.  Pure per-row regexp/string expressions — scan speed.

    Patterns use only character classes so Java and RE2-style engines
    agree; applied in a fixed order (case -> punct -> whitespace) so the
    composition is deterministic.
    """
    c = F.col(text_col).cast("string")
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, r"[^a-z0-9 ]", " ")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r" +", " "))
    return df.withColumn(out_col, c)


def length_quantiles(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum token-length distribution: count + exact p25/p50/p75/p95
    (linear interpolation — Spark ``percentile`` and SQL ``quantile_cont``
    agree bit-for-bit after round-6).

    Exact percentile shuffles per-group values once; for a 100 TB corpus
    swap in ``percentile_approx`` at the cost of oracle equality —
    exactness here is what makes the result auditable.
    """
    n_tok = f"size(split({text_col}, ' '))"
    return df.groupBy(strata_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(f"round(percentile({n_tok}, 0.25), 6)").alias("p25"),
        F.expr(f"round(percentile({n_tok}, 0.5), 6)").alias("p50"),
        F.expr(f"round(percentile({n_tok}, 0.75), 6)").alias("p75"),
        F.expr(f"round(percentile({n_tok}, 0.95), 6)").alias("p95"),
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-unigram log-probability score per document — the cheap
    stand-in for perplexity filtering (docs whose tokens are improbable
    under the corpus's own unigram LM are outliers: boilerplate, noise,
    wrong-language).

    Determinism recipe: per-TERM log-prob is rounded to 6 decimals (one
    ln per vocabulary entry — a 1-ulp ln difference would have to land
    exactly on a rounding boundary to diverge), then summed as exact
    DECIMAL so accumulation order cannot matter, then averaged.

    Scale shape: one (term) vocab aggregation (tiny output, broadcast
    back), one (doc, term-count) shuffle of compact triples; corpus text
    never shuffles.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.length("term") >= 1)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    from ..caching import track

    tf = track(tf)
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    vocab = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.expr(
            "CAST(round(ln(CAST(cnt AS DOUBLE) / total), 6) AS DECIMAL(18,6))"
        ).alias("logp"),
    )
    return (
        tf.join(F.broadcast(vocab), "term")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.expr(
                "round(CAST(sum(tf * logp) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)"
            ).alias("avg_logprob"),
        )
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "char_entropy",
) -> DataFrame:
    """Shannon entropy of the document's character distribution (bits) —
    a cheap noise/boilerplate signal: natural text sits in a narrow
    entropy band; base64 blobs score high, repeated filler scores low.

    Pure per-row higher-order fold.  Each character's entropy term is
    rounded to 6 decimals and accumulated as exact DECIMAL, so the total
    is independent of iteration/accumulation order — any engine summing
    the same per-character terms reproduces it bit-for-bit.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    t = text_col
    # O(len log len) per row: sort the chars and fold run lengths with a
    # struct accumulator (prev char, run count, running DECIMAL total).
    # The naive per-distinct-char filter fold is O(distinct * len) — a
    # 10k-char doc with 100 distinct chars pays 1M compares per row.
    # DECIMAL accumulation keeps the total independent of order; each
    # run's term is rounded to 6 before the exact add.  The decimal cast
    # after '+' restores DECIMAL(18,6) (addition widens to 19,6), which
    # aggregate()'s accumulator contract requires.
    def term(k: str) -> str:
        return (
            f"CAST(round(-(CAST({k} AS DOUBLE) / size(__cs__))"
            f" * ln(CAST({k} AS DOUBLE) / size(__cs__)) / ln(2.0d), 6)"
            f" AS DECIMAL(18,6))"
        )

    expr = (
        f"aggregate(array_sort(__cs__), "
        f"named_struct('p', CAST(NULL AS STRING), 'k', 0, "
        f"'tot', CAST(0 AS DECIMAL(18,6))), "
        f"(a, c) -> IF(a.p IS NULL OR c = a.p, "
        f"named_struct('p', c, 'k', a.k + 1, 'tot', a.tot), "
        f"named_struct('p', c, 'k', 1, "
        f"'tot', CAST(a.tot + {term('a.k')} AS DECIMAL(18,6)))), "
        f"a -> CAST(IF(a.k = 0, a.tot, "
        f"CAST(a.tot + {term('a.k')} AS DECIMAL(18,6))) AS DOUBLE))"
    )
    return (
        df.withColumn("__cs__", F.expr(f"split({t}, '')"))
        .withColumn(out_col, F.expr(expr))
        .drop("__cs__")
    )


def quality_cutoff_filter(
    df: DataFrame,
    group_col: str = "lang",
    score_col: str = "n_chars",
    pct: float = 0.25,
    cutoff_col: str = "cutoff",
) -> DataFrame:
    """Drop each group's bottom ``pct`` quality tail: keep rows whose
    ``score_col`` is at or above the group's ``pct`` percentile — the
    per-language quality floor ("drop the shortest quartile of every
    language") that a single global threshold gets wrong for languages
    with different length distributions.

    The cutoff is the EXACT linearly-interpolated percentile
    (rank = pct * (n-1)), rounded to 4 decimals before the compare so
    every engine draws the same boundary.  Output: input columns +
    ``cutoff_col`` (the group's threshold, for auditability).

    Scale shape: one per-group exact-percentile aggregation — its
    shuffle carries (group, score) pairs and the output is
    group-count-sized — broadcast back onto the corpus, then a pure
    per-row predicate: the corpus itself never shuffles.  Exact
    percentile buffers each GROUP's scores in its reducer; groups here
    are languages/domains (bounded cardinality, millions of rows at
    most) — for billion-row groups switch to ``approx_percentile`` and
    accept the epsilon.  NULL scores are excluded by the percentile and
    never kept (a NULL score is not above any cutoff).
    """
    if not 0.0 <= pct < 1.0:
        raise ValueError(f"pct must be in [0, 1), got {pct}")
    if cutoff_col in df.columns:
        raise ValueError(
            f"input already has column {cutoff_col!r}; pass cutoff_col "
            f"to avoid a silent duplicate column"
        )
    cuts = df.groupBy(F.col(group_col).alias("__g__")).agg(
        F.expr(f"round(percentile({score_col}, {pct!r}d), 4)").alias(cutoff_col)
    )
    return (
        df.join(F.broadcast(cuts), F.col(group_col).eqNullSafe(F.col("__g__")))
        .filter(F.col(score_col) >= F.col(cutoff_col))
        .drop("__g__")
    )


def bigram_pair_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-POSITION adjacent token pairs — ``(id_col, w1, w2)``, one row
    per bigram occurrence.  The scan-shaped base of the bigram family:
    every consumer aggregation (corpus pair counts, per-doc score sums)
    is distributive over positions, so no per-doc TF aggregation — a
    full corpus-scale shuffle — is needed anywhere (an integer-weighted
    decimal sum equals the unweighted sum over repeated rows
    bit-for-bit)."""
    from ..session import ensure_min_parallelism

    toks = ensure_min_parallelism(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__ts__")
    )
    return toks.select(
        F.col(id_col),
        "__ts__",
        F.explode(
            F.expr(
                "CASE WHEN size(__ts__) >= 2 THEN sequence(1, size(__ts__) - 1) "
                "ELSE CAST(array() AS array<int>) END"
            )
        ).alias("__i__"),
    ).select(
        F.col(id_col),
        F.expr("element_at(__ts__, __i__)").alias("w1"),
        F.expr("element_at(__ts__, __i__ + 1)").alias("w2"),
    )


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    vocab_size: int | None = None,
    oov_token: str = "<unk>",
    pair_tf: DataFrame | None = None,
) -> DataFrame:
    """Interpolated-bigram log-probability per document — one step up from
    ``unigram_logprob_score`` toward real perplexity filtering: word-order
    scrambles and unnatural token sequences score low even when their
    unigram mix is typical.

    Model: P(w2|w1) = lam * c(w1,w2)/c(w1,*) + (1-lam) * c(*,w2)/N over
    the corpus's own bigram counts (Jelinek-Mercer interpolation with the
    bigram-position unigram as backoff — every observed bigram has
    positive probability mass).  Per-TYPE log-probs round to 6 decimals
    then accumulate as exact DECIMAL (the ``unigram_logprob_score``
    determinism recipe), so any engine reproduces the scores.

    Output: (``id_col``, n_bigrams, avg_bigram_logprob); docs with fewer
    than 2 tokens have no bigrams and yield no row.

    Scale shape: the corpus NEVER shuffles — the per-position pair
    stream is persisted scan-shaped (it feeds the model-count
    aggregation and the scoring join), the model aggregation moves
    map-side-combined (w1, w2) partials only, and the bigram-probability
    table is |observed bigrams|-sized and joins back on the (w1, w2)
    key — an equi-join that AQE broadcasts when the vocab is small and
    shuffle-joins when it is web-scale (never forced driver-side).  The
    per-doc score aggregation likewise moves per-doc partials.

    ``vocab_size`` bounds the model: tokens outside the top-V by corpus
    frequency (ties: count desc, then token asc — a total order any
    engine reproduces) map to ``oov_token`` BEFORE counting, standard LM
    vocabulary flooring.  Without it the (w1, w2) type table grows with
    the corpus (near-linearly on natural text — new names/typos keep
    appearing); with it the table is bounded by (V+1)^2 at ANY corpus
    size, which is what makes this operator safe in a 100 TB pipeline.
    The top-V table itself is V rows via a per-partition top-V heap
    (TakeOrderedAndProject) and broadcasts onto the pair stream — no
    corpus shuffle is added.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam must be in (0, 1), got {lam}")
    if vocab_size is not None and vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    from ..caching import track

    # positions with tf=1 and the aggregated per-doc table are
    # interchangeable here: every downstream sum is distributive over
    # the merge (sum(tf) == count; (tf1+tf2)*logp == tf1*logp+tf2*logp
    # exactly for decimal x integer), and the position form skips the
    # per-doc TF aggregation — the one corpus-scale shuffle
    raw_tf = (
        pair_tf if pair_tf is not None
        else bigram_pair_positions(df, text_col, id_col)
        .withColumn("tf", F.lit(1).cast("bigint"))
        # no-op filter (split() never yields NULL tokens), stated
        # explicitly so every consumer of `big` below infers the same
        # canonical subtree and AQE stage reuse fires (see
        # collocation_pmi for the measured 4x-explode failure mode)
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    if vocab_size is not None:
        # vocabulary from TOKEN frequencies (includes each doc's last
        # token, which the pair table's w1 column misses — so this leg
        # still reads the corpus once)
        vocab = (
            df.select(
                F.explode(F.split(F.col(text_col), " ")).alias("w")
            )
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("__c__"))
            .orderBy(F.col("__c__").desc(), F.col("w").asc())
            .limit(vocab_size)
            .select("w")
        )
        # OOV-map the per-doc pair table in place (two broadcast left
        # joins, no shuffle) and DON'T re-aggregate: merging a doc's
        # pairs that collapse onto one OOV-mapped type would only sum
        # their tf, and every downstream consumer is distributive over
        # that merge — sum(tf) per (w1,w2) for the model counts, and
        # sum(tf * logp) / sum(tf) per doc (logp is DECIMAL(18,6); a
        # decimal times an integer is exact, so (tf1+tf2)*logp ==
        # tf1*logp + tf2*logp bit-for-bit).  The re-aggregation was the
        # one corpus-scale shuffle left in this operator.
        mapped = raw_tf
        for side in ("w1", "w2"):
            mapped = (
                mapped.join(
                    F.broadcast(vocab.select(F.col("w").alias(side))
                                .withColumn("__in__", F.lit(1))),
                    side,
                    "left",
                )
                .withColumn(
                    side,
                    F.when(F.col("__in__").isNotNull(), F.col(side))
                    .otherwise(F.lit(oov_token)),
                )
                .drop("__in__")
            )
        # persisted: the OOV-mapped stream feeds the (tiny, vocab-bounded)
        # model aggregation AND the scoring join — rebuilding it would
        # re-run the corpus explode plus both broadcast maps per consumer
        tf = track(mapped)
    else:
        # NOT persisted: with the explicit non-null filter the model
        # aggregation's exchange canonicalizes identically across its
        # consumers (AQE reuses it), and the scoring join re-derives the
        # position stream from the scan — cheaper than materializing a
        # corpus-scale cache, and nothing here shuffles per document
        tf = raw_tf
    big = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c2"))
    ctx = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    uni = big.groupBy("w2").agg(F.sum("c2").alias("cu"))
    tot = uni.agg(F.sum("cu").alias("n"))
    logp = (
        big.join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            # the backoff weight literal is rounded so the EXACT same
            # double appears here and in any oracle SQL (1.0 - 0.7 is
            # 0.30000000000000004 — a different bit pattern than 0.3)
            F.expr(
                f"CAST(round(ln({lam!r}d * (CAST(c2 AS DOUBLE) / c1) "
                f"+ {round(1.0 - lam, 12)!r}d * (CAST(cu AS DOUBLE) / n)), 6) "
                "AS DECIMAL(18,6))"
            ).alias("logp"),
        )
    )
    return (
        tf.join(logp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.expr(
                "round(CAST(sum(tf * logp) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)"
            ).alias("avg_bigram_logprob"),
        )
    )


def collocation_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    pair_tf: DataFrame | None = None,
) -> DataFrame:
    """Collocation extraction via pointwise mutual information over
    ADJACENT token pairs: PMI(w1,w2) = ln(N * c(w1,w2) / (c(w1,*) *
    c(*,w2))) — the corpus-analysis primitive behind multi-word-unit
    discovery and tokenizer-merge candidates ("new york", "machine
    learning" score high; chance adjacencies score ~0).

    Adjacent pairs, not within-window pairs, deliberately: windowed
    co-occurrence is quadratic in window size per token, adjacency is
    LINEAR in corpus length with the same top-collocation signal.
    ``min_count`` drops unstable low-frequency pairs (PMI's known bias
    toward hapax pairs).  PMI rounds to 6 decimals; output
    (w1, w2, n_pair, pmi).

    Scale shape: one (w1, w2) pair-count aggregation (map-side combined
    — the only corpus-sized shuffle, carrying token pairs not text),
    then position-marginal aggregations of the pair TABLE (vocab²-
    bounded, far smaller) joined back on single-token keys.  The N total
    is a 1-row broadcast.
    """
    from ..session import ensure_min_parallelism

    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if pair_tf is not None:
        # fold the shared per-doc pair table to corpus counts: sum of
        # per-doc tf == direct pair count, same integers
        big = pair_tf.groupBy("w1", "w2").agg(F.sum("tf").alias("n_pair"))
    else:
        df = ensure_min_parallelism(df)
        toks = df.select(F.split(F.col(text_col), " ").alias("__ts__"))
        pairs = toks.select(
            "__ts__",
            F.explode(
                F.expr(
                    "CASE WHEN size(__ts__) >= 2 THEN sequence(1, size(__ts__) - 1) "
                    "ELSE CAST(array() AS array<int>) END"
                )
            ).alias("__i__"),
        ).select(
            F.expr("element_at(__ts__, __i__)").alias("w1"),
            F.expr("element_at(__ts__, __i__ + 1)").alias("w2"),
        ).filter(
            # semantically a no-op (split() never yields NULL elements);
            # placed EXPLICITLY so the four consumers of `big` (the
            # min_count arm, ctx, uni, tot) infer identical subtrees —
            # otherwise each join infers a DIFFERENT isnotnull subset,
            # the canonical plans diverge, AQE stage reuse misses, and
            # the corpus explode runs once per consumer (measured 4x)
            F.col("w1").isNotNull() & F.col("w2").isNotNull()
        )
        big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    ctx = big.groupBy("w1").agg(F.sum("n_pair").alias("c1"))
    uni = big.groupBy("w2").agg(F.sum("n_pair").alias("cu"))
    tot = uni.agg(F.sum("cu").alias("n"))
    return (
        big.filter(F.col("n_pair") >= min_count)
        .join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.expr(
                "round(ln(CAST(n AS DOUBLE) * n_pair "
                "/ (CAST(c1 AS DOUBLE) * cu)), 6)"
            ).alias("pmi"),
        )
    )


def winsorize(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    lower_pct: float = 0.05,
    upper_pct: float = 0.95,
    out_col: str | None = None,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Per-group winsorization: clamp ``value_col`` into the group's
    [``lower_pct``, ``upper_pct``] percentile band — the outlier-robust
    normalization for quality scores whose tails are garbage (a 10 MB
    "document" shouldn't drag a mean; a 3-char one shouldn't either)
    while keeping every row, unlike a cutoff filter.

    Same determinism and scale recipe as ``quality_cutoff_filter``: exact
    interpolated percentiles rounded to 4 decimals, computed in one
    group-count-sized aggregation, broadcast back onto the corpus, then a
    pure per-row least/greatest — the corpus never shuffles.  Output:
    input columns + clamped ``out_col`` (default ``value_col + '_w'``)
    plus the band edges (``lo_col``/``hi_col``, default ``lo``/``hi``)
    for audit.  NULL values stay NULL.  Raises if the input already
    carries any output column name — a silent duplicate column would
    break downstream selects.
    """
    if not 0.0 <= lower_pct < upper_pct <= 1.0:
        raise ValueError(
            f"need 0 <= lower_pct < upper_pct <= 1, got "
            f"({lower_pct}, {upper_pct})"
        )
    out_col = out_col or f"{value_col}_w"
    clash = {out_col, lo_col, hi_col} & set(df.columns)
    if clash:
        raise ValueError(
            f"input already has column(s) {sorted(clash)}; pass out_col/"
            f"lo_col/hi_col to avoid a silent duplicate column"
        )
    cuts = df.groupBy(F.col(group_col).alias("__g__")).agg(
        F.expr(f"round(percentile({value_col}, {lower_pct!r}d), 4)")
        .alias(lo_col),
        F.expr(f"round(percentile({value_col}, {upper_pct!r}d), 4)")
        .alias(hi_col),
    )
    return (
        df.join(F.broadcast(cuts), F.col(group_col).eqNullSafe(F.col("__g__")))
        .withColumn(
            out_col,
            # explicit NULL guard: greatest/least SKIP nulls (Postgres
            # semantics), which would silently clamp a NULL to the band edge
            F.expr(
                f"CASE WHEN {value_col} IS NULL THEN NULL "
                f"ELSE least(greatest(CAST({value_col} AS DOUBLE), "
                f"`{lo_col}`), `{hi_col}`) END"
            ),
        )
        .drop("__g__")
    )


def hash_embed(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 16,
    out_col: str = "embedding",
) -> DataFrame:
    """Feature-hashing ("hashing trick") text embedding: each distinct
    token hashes to one of ``dim`` buckets with a ±1 sign, and the
    document vector is the per-bucket signed sum — a model-free
    embedding that plugs the raw text corpus straight into the
    embedding operators (``lsh_topk``, ``semantic_dedup``,
    ``embedding_near_dup``) when no trained encoder is available.
    Token-set cosine under this map approximates set overlap, which is
    exactly the near-dup signal.

    Bucket = first 4 md5 hex digits mod ``dim``; sign = parity of hex
    digit 5 — reproducible in any engine from the same md5 math.

    Scale shape: per-row expressions only (token hashes computed ONCE
    into a struct array, then one fold per dimension) — zero shuffle,
    scan speed, like ``simhash``.  Keep ``dim`` modest (<= 64): work is
    O(tokens + dim·tokens) per row.  Small inputs round-robin to the
    cluster's task slots first (``ensure_min_parallelism``): a single
    small parquet file otherwise compiles to ONE scan partition and the
    CPU-heavy folds run on one core.
    """
    from ..session import ensure_min_parallelism

    if not 1 <= dim <= 256:
        raise ValueError(f"dim must be in [1, 256], got {dim}")
    df = ensure_min_parallelism(df)
    # md5 once per token (nested transform — lambda bodies get no common-
    # subexpression elimination); NULL text coalesces to '' so the output
    # is always a well-formed vector, mirrored in any oracle SQL
    th = (
        f"transform("
        f"transform(array_distinct(split(coalesce({text_col}, ''), ' ')), "
        f"t -> md5(t)), h -> named_struct("
        f"'d', CAST(conv(substr(h, 1, 4), 16, 10) AS INT) % {dim}, "
        f"'s', 1 - 2 * (CAST(conv(substr(h, 5, 1), 16, 10) AS INT) % 2)))"
    )
    emb = (
        f"transform(sequence(0, {dim - 1}), d -> "
        f"CAST(aggregate(__th__, 0, (acc, x) -> acc + IF(x.d = d, x.s, 0)) "
        f"AS DOUBLE))"
    )
    return (
        df.withColumn("__th__", F.expr(th))
        .withColumn(out_col, F.expr(emb))
        .drop("__th__")
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Per-group vocabulary coverage / OOV-rate report against the
    corpus-global top-``vocab_size`` token types — the tokenizer-budget
    question ("how big a vocab until the long tail is noise?") and a
    cheap per-language drift probe (a group whose OOV rate jumps is
    writing tokens the vocab has never seen).

    Vocabulary = the ``vocab_size`` most frequent whitespace token types
    corpus-wide (count desc, token asc tie-break — deterministic).
    Output per group: ``(group, n_tokens, n_oov, oov_rate)`` with
    ``oov_rate = round(n_oov / n_tokens, 6)`` (ratio of exact counts).
    Empty texts contribute nothing; groups with no tokens are absent.

    Scale shape: ONE corpus tokenization feeding two aggregations — the
    (token, count) type table (vocab-bounded state, map-side combined)
    and the per-(group, token) count.  The vocab is ``vocab_size`` rows
    and BROADCASTS to a left join that marks OOV types; the final
    per-group rollup is groups-sized.  The corpus text itself shuffles
    nowhere — only (group, token, count) rows do.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    toks = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " "))
            .alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-vocab_size selection via orderBy().limit(): Catalyst plans a
    # TakeOrderedAndProject (per-partition top-k, k-sized merge on the
    # driver) — a partition-less row_number window here would funnel the
    # ENTIRE corpus type table through one task (Spark 3.5's
    # WindowGroupLimit bounds its memory, not its single-partition
    # exchange), the one corpus-sized serial point in an otherwise
    # map-side plan
    vocab = (
        toks.groupBy("tok")
        .agg(F.sum("n").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("__in_vocab__"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab__").isNull(), F.col("n"))
                .otherwise(F.lit(0))
            ).alias("n_oov"),
        )
        .select(
            group_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_oov").cast("bigint").alias("n_oov"),
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    exact: bool = True,
    rsd: float = 0.01,
) -> DataFrame:
    """Per-group lexical-diversity report: corpus-level type-token ratio
    and distinct-bigram ratio — the standard distinct-n diversity
    metrics a training-data pipeline tracks per source/domain (a
    crawler stuck in templated pages or a synthetic-data generator
    collapsing to few patterns shows up as a falling distinct-2 long
    before perplexity moves; Li et al. 2016's distinct-n, public
    metric, applied corpus-side).

    Output: one row per group —
    ``(group, n_docs, n_tokens, distinct_tokens, ttr, n_bigrams,
    distinct_bigrams, distinct2)``; ratios are NULL for a group with
    zero tokens/bigrams.  Tokens are the whitespace tokens of
    ``text_col`` with empties dropped; bigrams are adjacent token
    pairs within a document (never across documents).

    Scale shape: ONE scan explodes each document's unigrams and bigrams
    under a kind tag (rows ~ 2x token count, map-side), then a single
    per-group aggregation computes both totals and both distinct
    counts (Spark plans the multi-distinct as one Expand + hash
    aggregate — partial aggregation on every shuffle input, state
    bounded by the live vocabulary per group); the doc-count agg joins
    back broadcast, group-alphabet-sized.  No driver materialization,
    no join wider than the report.

    ``exact`` governs the DISTINCT-BIGRAM leg only.  Unigram types are
    bounded by the live vocabulary (sub-linear in corpus size), but
    bigram types grow near-linearly — at 100 TB the exact distinct-2
    leg carries ~corpus-scale aggregate state through the shuffle.
    For the monitoring use case (drift tracking, where a 1% band around
    distinct-2 is far below any alarm threshold) pass ``exact=False``:
    the bigram leg switches to ``approx_count_distinct`` (HyperLogLog++,
    relative standard deviation ``rsd``, default 1%), whose fixed
    ~1.5 KB-per-group sketch replaces the corpus-scale hash state and
    map-side-combines like any algebraic aggregate.  ``exact=True``
    (default) keeps bit-exact counts for oracle parity and small
    corpora.
    """
    grams = df.select(
        F.col(group_col).alias("__g__"),
        F.expr(
            f"filter(split(coalesce({text_col}, '') , ' '),"
            " x -> x != '')"
        ).alias("__ts__"),
    ).select(
        "__g__",
        # the bigram sequence needs the >= 2 guard: Spark's
        # sequence(0, -2) DESCENDS (default step -1) and would emit
        # bogus NULL grams for empty/1-token documents
        F.explode(
            F.expr(
                "concat("
                " transform(__ts__, x -> named_struct('k', 1, 't', x)),"
                " CASE WHEN size(__ts__) >= 2 THEN"
                "   transform(sequence(0, size(__ts__) - 2),"
                "             i -> named_struct('k', 2,"
                "                  't', concat(__ts__[i], ' ',"
                "                              __ts__[i + 1])))"
                " ELSE CAST(array() AS"
                "      array<struct<k: int, t: string>>) END)"
            )
        ).alias("__gr__"),
    )
    bigram_types = F.when(F.col("__gr__.k") == 2, F.col("__gr__.t"))
    distinct2_agg = (
        F.count_distinct(bigram_types)
        if exact
        else F.approx_count_distinct(bigram_types, rsd)
    )
    agg = grams.groupBy("__g__").agg(
        F.count(F.when(F.col("__gr__.k") == 1, 1)).alias("n_tokens"),
        F.count_distinct(
            F.when(F.col("__gr__.k") == 1, F.col("__gr__.t"))
        ).alias("distinct_tokens"),
        F.count(F.when(F.col("__gr__.k") == 2, 1)).alias("n_bigrams"),
        distinct2_agg.alias("distinct_bigrams"),
    )
    docs = df.groupBy(F.col(group_col).alias("__g__")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        docs.join(F.broadcast(agg), "__g__", "left")
        .select(
            F.col("__g__").alias(group_col),
            "n_docs",
            "n_tokens",
            "distinct_tokens",
            F.round(
                F.col("distinct_tokens").cast("double")
                / F.nullif(F.col("n_tokens"), F.lit(0)),
                6,
            ).alias("ttr"),
            "n_bigrams",
            "distinct_bigrams",
            F.round(
                F.col("distinct_bigrams").cast("double")
                / F.nullif(F.col("n_bigrams"), F.lit(0)),
                6,
            ).alias("distinct2"),
        )
    )
