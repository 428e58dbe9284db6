"""Query registry: every implemented operator exposed as a (spark, sf_dir) ->
DataFrame callable plus a DuckDB-equivalent oracle SQL string.

This is the driver-facing correctness surface (see ``__spark_entry__.py``).
Each entry exercises one operator family from SURVEY.md section 2 (or an
extension operator) against the driver-provided parquet tables.  Column names
are aliased identically on both sides; floating-point aggregates are summed
as exact DECIMALs then cast to DOUBLE so both engines produce bit-identical
values regardless of accumulation order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import (  # noqa: F401 — the artifact API is re-exported
    ARTIFACT_FAMILIES,
    artifact,
    artifact_family_keys,
    release_artifact_families,
    release_caches,
    track,
)
from .streaming.audit import (
    record_runner_plans as _record_runner_plans,
    record_stream_plan as _record_stream_plan,
)
from .operators import (
    csv_view,
    json_view,
    latest_by_key,
    lookup_join,
    mask_columns,
    ordered_join,
    quarantine_antijoin,
    union_arms,
)
from .session import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the previous query's action has completed by the time the next
            # query is constructed, so its tracked caches can be dropped here
            # — bounds persisted blocks to one query's worth no matter which
            # harness (driver, bench, tests) runs the registry
            release_caches()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Unevaluated reader-plan memo ("tables" family): `spark.read.parquet`
# costs ~75 ms of driver work per call (py4j round-trips, DataSource
# resolution, footer schema read) even when the file listing is cached —
# and the registry calls it 300+ times per bench run.  The stored object
# is the IMMUTABLE logical plan (no persisted blocks, no materialized
# data — every query still computes from the parquet inputs).
def _t(spark: SparkSession, sf_dir: str, *names: str):
    frames = [
        artifact(
            spark, sf_dir, "tables",
            lambda n=n: load_tables(spark, sf_dir, [n])[n], n,
        )
        for n in names
    ]
    return frames[0] if len(names) == 1 else frames


# ---------------------------------------------------------------------------
# S1/P1/P3/P6 — JSON envelope -> discriminator filter -> typed view.
# The events table plays the raw stream: event_type is the discriminator
# column, props is the JSON payload (reference: typed Flink view over a
# multi-table Kafka topic, resources/output/final-output.sql:3-11).
# ---------------------------------------------------------------------------
@query(
    "view_json_envelope",
    """
    SELECT event_id, user_id,
           TRY_CAST(NULLIF(TRIM(json_extract_string(props, '$.k')), '') AS INT) AS k,
           value
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def view_json_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    filtered = ev.filter(F.col("event_type") == "purchase")
    return json_view(
        filtered,
        [("k", "k", "INT")],
        payload_col="props",
        keep_cols=["event_id", "user_id", "value"],
    ).select("event_id", "user_id", "k", "value")


# ---------------------------------------------------------------------------
# P2/P3 — positional CSV view with out-of-range -> NULL (SPLIT_INDEX parity).
# documents.text is the delimited payload (space-separated).
# ---------------------------------------------------------------------------
@query(
    "view_csv_positional",
    """
    SELECT doc_id,
           CAST(TRIM(string_split(text, ' ')[1]) AS VARCHAR)  AS tok0,
           CAST(TRIM(string_split(text, ' ')[2]) AS VARCHAR)  AS tok1,
           CAST(TRIM(string_split(text, ' ')[61]) AS VARCHAR) AS tok60
    FROM documents
    """,
)
def view_csv_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return csv_view(
        docs.select("doc_id", F.col("text").alias("val")),
        [("tok0", 0, "STRING"), ("tok1", 1, "STRING"), ("tok60", 60, "STRING")],
        delimiter=" ",
        keep_cols=["doc_id"],
    )


# ---------------------------------------------------------------------------
# A1/W1 — XREF latest-by-key snapshot (ROW_NUMBER dedup, ties broken by a
# sequence column; reference sttm-requirements.md:106-134).
# ---------------------------------------------------------------------------
@query(
    "xref_latest_by_key",
    """
    SELECT user_id, event_id, event_type, value, ts
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
      ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def xref_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return latest_by_key(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )


# ---------------------------------------------------------------------------
# A1 variant — soft-delete exclusion before ranking (delete_flag_field).
# ---------------------------------------------------------------------------
@query(
    "xref_latest_soft_delete",
    """
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
      ) AS rn
      FROM events
      WHERE event_type IS NULL OR lower(trim(event_type)) NOT IN ('error')
    ) WHERE rn = 1
    """,
)
def xref_latest_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return latest_by_key(
        ev, ["user_id"], ["ts", "event_id"],
        delete_flag_field="event_type", delete_flag_values=("error",),
    ).select("user_id", "event_id", "event_type", "value")


# ---------------------------------------------------------------------------
# J1/J4 + masking — FGAC refined table: broadcast lookup join + column masks
# (sha2 hash + redaction; reference BR-5 / MaskField SMT).
# ---------------------------------------------------------------------------
@query(
    "fgac_enrich_mask",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           c.c_mktsegment,
           sha256(c.c_name) AS c_name_masked
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def fgac_enrich_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    joined = lookup_join(
        orders, customer, "s.o_custkey = j.c_custkey",
        join_type="LEFT", broadcast=True,
    )
    refined = joined.select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment",
        F.col("c_name").alias("c_name_masked"),
    )
    return mask_columns(refined, {"c_name_masked": "sha2"})


# ---------------------------------------------------------------------------
# J5/O1 — quarantine: two-direction anti-join UNION ALL with reason literals
# (reference final-output.sql:131-144).  "Entitled" customers = negative
# account balance, so both directions produce rows.
# ---------------------------------------------------------------------------
@query(
    "quarantine_antijoin",
    """
    WITH entitled AS (SELECT * FROM customer WHERE c_acctbal < 0)
    SELECT o.o_orderkey AS rec_key, 'xref: none' AS what
    FROM orders o ANTI JOIN entitled e ON o.o_custkey = e.c_custkey
    UNION ALL
    SELECT e.c_custkey AS rec_key, 'src: none' AS what
    FROM entitled e ANTI JOIN orders o ON o.o_custkey = e.c_custkey
    """,
)
def quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    entitled = customer.filter(F.col("c_acctbal") < 0)
    return quarantine_antijoin(
        orders, entitled, "a.o_custkey = b.c_custkey",
        select_left=["a.o_orderkey AS rec_key"],
        select_right=["b.c_custkey AS rec_key"],
        reason_col="what",
        left_reason="xref: none",
        right_reason="src: none",
    )


# ---------------------------------------------------------------------------
# P9/O1/P5 — UNION ALL of select arms with NULL fill for unmapped columns.
# ---------------------------------------------------------------------------
@query(
    "union_arms_null_fill",
    """
    SELECT event_id, user_id, value, 'hi-purchase' AS arm
    FROM events WHERE event_type = 'purchase' AND value > 100
    UNION ALL
    SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value, 'signup' AS arm
    FROM events WHERE event_type = 'signup'
    """,
)
def union_arms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    arm1 = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select("event_id", "user_id", "value", F.lit("hi-purchase").alias("arm"))
    )
    arm2 = (
        ev.filter(F.col("event_type") == "signup")
        .select("event_id", "user_id", F.lit("signup").alias("arm"))
    )
    return union_arms([arm1, arm2], ["event_id", "user_id", "value", "arm"])


# ---------------------------------------------------------------------------
# J2 — ordered multi-view left-deep join chain (v4.5 style), dimension sides
# broadcast by Catalyst.  Theta condition included via TRIM parity (J4).
# ---------------------------------------------------------------------------
@query(
    "ordered_multi_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus,
           c.c_mktsegment, n.n_name, r.r_name
    FROM lineitem l
    INNER JOIN orders o   ON l.l_orderkey = o.o_orderkey
    LEFT  JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT  JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT  JOIN region r   ON TRIM(CAST(n.n_regionkey AS VARCHAR)) = TRIM(CAST(r.r_regionkey AS VARCHAR))
    WHERE l.l_quantity > 25
    """,
)
def ordered_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, orders, customer, nation, region = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    out = ordered_join(
        li.filter(F.col("l_quantity") > 25), "l",
        [
            (orders, "o", "l.l_orderkey = o.o_orderkey", "INNER"),
            (customer, "c", "o.o_custkey = c.c_custkey", "LEFT"),
            (nation, "n", "c.c_nationkey = n.n_nationkey", "LEFT"),
            (region, "r",
             "TRIM(CAST(n.n_regionkey AS STRING)) = TRIM(CAST(r.r_regionkey AS STRING))",
             "LEFT"),
        ],
    )
    return out.select("l_orderkey", "l_linenumber", "o_orderstatus",
                      "c_mktsegment", "n_name", "r_name")


# ---------------------------------------------------------------------------
# Flagship aggregation (beyond parity — reference has no GROUP BY, Spark
# gives it natively; this is the scale/bench headline).  DECIMAL-exact sums
# cast to DOUBLE for engine-independent determinism.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount"))).cast("double").alias("sum_disc_price"),
            (F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))).cast("double").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape (forecast revenue change): the pushdown showcase — a
# single-table aggregate whose date/discount/quantity predicates must ALL
# reach the parquet scan (no join, no window; the plan is scan→filter→
# partial agg→1-row exchange→final agg, whole-stage-codegen end to end).
# ---------------------------------------------------------------------------
@query(
    "forecast_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1997-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(d2("l_extendedprice") * d2("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ===========================================================================
# Training-data pipeline extension operators (SURVEY.md §7 step 10)
# ===========================================================================

from .operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from .operators.similarity import cosine_topk, ivf_topk  # noqa: E402
from .operators.text import (  # noqa: E402
    fingerprint,
    language_id,
    text_quality,
    token_count_bpe,
)

# 5-gram word shingles: wide enough that random 30-word-vocab collisions are
# rare (keeps the inverted-index join linear-ish) while planted near-dups
# still overlap heavily.
_SHINGLE_SQL = """
tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS s
  FROM tok, unnest(generate_series(1, len(ts)-4)) AS u(i)
)
"""


@query(
    "text_quality_features",
    """
    SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      length(text) AS n_chars_calc,
      round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS avg_token_len,
      round(CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS stopword_ratio,
      round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
            / length(text), 6) AS alpha_ratio
    FROM documents
    """,
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_quality(docs.select("doc_id", "text")).drop("text")


@query(
    "token_count_bpe",
    """
    SELECT doc_id, len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
    FROM documents
    """,
)
def token_count_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return token_count_bpe(docs.select("doc_id", "text")).drop("text")


@query(
    "language_id_heuristic",
    """
    WITH s AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text,' '), x -> x IN ('the','a','fast','slow','key','value'))) AS s_en,
        len(list_filter(string_split(text,' '), x -> x IN ('data','table','row','column'))) AS s_es,
        len(list_filter(string_split(text,' '), x -> x IN ('join','merge','sort','group'))) AS s_de,
        len(list_filter(string_split(text,' '), x -> x IN ('query','filter','window','stream'))) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
      CASE
        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
        ELSE 'en'
      END AS lang_pred
    FROM s
    """,
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return language_id(docs.select("doc_id", "lang", "text")).drop("text")


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs.select("doc_id", "text")).drop("text")


# Deterministic hash-based train/test split: assignment is a pure function
# of md5(seed|key) so it's row-order/partitioning/engine independent.
@query(
    "train_test_split",
    """
    SELECT doc_id,
      CASE WHEN substr(md5('s1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
           THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def train_test_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, key_col="doc_id",
                      fractions={"train": 0.9, "test": 0.1}, seed="s1")


# Stratified deterministic sampling: per-language keep rates, hash over
# (seed, stratum, key) so each stratum draws an independent sample.  Cuts
# below are _hex_cut(0.2/0.5/0.1) rendered by the same Python helper the
# operator uses.
@query(
    "stratified_sample_lang",
    """
    SELECT doc_id, lang FROM documents
    WHERE CASE
      WHEN lang = 'en' THEN substr(md5('s2' || '|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
      WHEN lang = 'de' THEN substr(md5('s2' || '|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
      WHEN lang = 'zh' THEN TRUE
      ELSE substr(md5('s2' || '|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
    END
    """,
)
def stratified_sample_lang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "lang", {"en": 0.2, "de": 0.5, "zh": 1.0},
        key_col="doc_id", seed="s2", default_fraction=0.1,
    )


# Concat-and-chunk sequence packing: docs hash into 8 independent streams,
# deterministic (md5, id) order within stream, running token offsets cut
# every 512 tokens.  Pure window math — reproduced verbatim by the oracle.
@query(
    "pack_sequences",
    """
    WITH t AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        substr(md5('p1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_tokens, h,
        CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              (instr('0123456789abcdef', substr(h, 2, 1)) - 1)) % 8 AS INT) AS stream
      FROM t
    ),
    c AS (
      SELECT doc_id, n_tokens, stream,
        sum(n_tokens) OVER (PARTITION BY stream ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      FROM s
    )
    SELECT doc_id, n_tokens, stream,
      CAST((e - n_tokens) // 512 AS BIGINT) AS pack_id,
      CAST((e - n_tokens) % 512 AS BIGINT) AS pack_offset,
      CAST(CASE WHEN n_tokens = 0 THEN 1
                ELSE (e - 1) // 512 - (e - n_tokens) // 512 + 1 END AS BIGINT) AS n_seqs
    FROM c
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, budget=512, n_streams=8, seed="p1")


# Corpus composition report: one ROLLUP aggregation yields every level
# (per (lang, source), per lang, grand total) from a single shuffle; grp
# disambiguates rollup NULLs from genuine NULL dimension values.
@query(
    "corpus_mix_report",
    """
    WITH agg AS (
      SELECT lang, source,
        CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS grp,
        count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY ROLLUP(lang, source)
    )
    SELECT lang, source, grp, n_docs, n_tokens, n_chars,
      round(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens,
      round(CAST(n_docs AS DOUBLE) / (SELECT n_docs FROM agg WHERE grp = 3), 6) AS doc_share
    FROM agg
    """,
)
def corpus_mix_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import corpus_mix_report

    docs = _t(spark, sf_dir, "documents")
    return corpus_mix_report(docs, dims=("lang", "source"))


# Gopher/C4-style repetition stats.  The synthetic docs sample a 30-word
# vocabulary, so bigrams genuinely repeat — no planting needed.
@query(
    "text_repetition_stats",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    g AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 2
    ),
    per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
    agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(count(*) AS BIGINT) AS n_distinct_grams,
             CAST(max(c) AS BIGINT) AS max_gram_count
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_distinct_grams,
           round(1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams, 6) AS dup_gram_frac,
           max_gram_count
    FROM agg
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return (
        repetition_stats(docs.select("doc_id", "text"), n=2)
        .filter(F.expr("size(split(text, ' ')) >= 2"))
        .drop("text")
    )


# PII scrubbing.  The synthetic corpus contains no PII, so both engines
# plant the SAME markers (one email + one phone + one SSN appended to every
# 10th doc) and the operator must count and redact exactly those.
@query(
    "pii_scrub",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact bob@example.com or 555-123-4567 ssn 123-45-6789'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(
        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
        '\\d{3}[-.]\\d{3}[-.]\\d{4}')) AS BIGINT) AS n_phone,
      CAST(len(regexp_extract_all(
        regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                       '\\d{3}[-.]\\d{3}[-.]\\d{4}', '<PHONE>', 'g'),
        '\\d{3}-\\d{2}-\\d{4}')) AS BIGINT) AS n_ssn,
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
          '\\d{3}[-.]\\d{3}[-.]\\d{4}', '<PHONE>', 'g'),
        '\\d{3}-\\d{2}-\\d{4}', '<SSN>', 'g') AS text_clean
    FROM d
    """,
)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact bob@example.com or 555-123-4567 ssn 123-45-6789"),
            ),
        ).otherwise(F.col("text")),
    )
    return pii_scrub(planted).drop("text")


# ---------------------------------------------------------------------------
# Group-privacy gates (operators/privacy.py): pii_scrub masks free text;
# these gate structured releases.  k-anonymity suppression = one window
# count over the quasi partition; the l-diversity report = one hash
# aggregation with an exact per-group distinct count.
# ---------------------------------------------------------------------------
@query(
    "k_anonymity_suppress",
    """
    SELECT c_custkey, c_nationkey, c_mktsegment,
           CAST(group_size AS BIGINT) AS group_size
    FROM (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
               AS group_size
      FROM customer
    )
    WHERE group_size >= 5
    """,
)
def k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate on customers with quasi-identifiers
    (nation, market segment): every released row's quasi combination is
    shared by >= 5 customers, group size attached as the audit trail.
    One shuffle on the quasi key — scan-shaped at any table size."""
    from .operators.privacy import k_anonymize_suppress

    cust = _t(spark, sf_dir, "customer")
    return k_anonymize_suppress(
        cust, ["c_nationkey", "c_mktsegment"], k=5
    ).select("c_custkey", "c_nationkey", "c_mktsegment", "group_size")


@query(
    "l_diversity_report",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT))
                AS BIGINT) AS distinct_sensitive,
           (count(*) >= 5 AND
            count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) >= 3)
             AS releasable
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quasi-group privacy audit: k-anonymity alone fails when a
    small group shares one sensitive value, so the release verdict also
    requires >= 3 distinct sensitive values (account balance bucketed
    to $2000 bands — diversity over a near-unique continuous value is
    meaningless).  One hash aggregation, group-count-sized output."""
    from .operators.privacy import privacy_group_report

    cust = _t(spark, sf_dir, "customer")
    sensitive = F.expr("cast(floor(c_acctbal / 2000.0) as bigint)")
    return privacy_group_report(
        cust, ["c_nationkey", "c_mktsegment"], sensitive, k=5, l_div=3
    )


@query(
    "k_anonymity_generalized",
    """
    SELECT c_custkey, c_nationkey, acctbal_bucket,
           CAST(group_size AS BIGINT) AS group_size
    FROM (
      SELECT c_custkey, c_nationkey,
             CAST(floor(c_acctbal / 1000.0) * 1000 AS DOUBLE)
               AS acctbal_bucket,
             count(*) OVER (PARTITION BY c_nationkey,
                            floor(c_acctbal / 1000.0)) AS group_size
      FROM customer
    )
    WHERE group_size >= 5
    """,
)
def k_anonymity_generalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalize-THEN-gate: the near-unique account balance coarsens to
    its $1000 bucket's lower bound (privacy.bucket_rule) before the
    k=5 gate on (nation, bucket).  The trade this demonstrates: gating
    on the RAW balance releases 0 of 1500 sf0.01 customers (every
    quasi combination is unique), the generalized release keeps 1241 —
    suppression-only vs hierarchy generalization (Sweeney).  Still one
    shuffle: the rewrite is a pure projection ahead of the window."""
    from .operators.privacy import (
        bucket_rule,
        generalize_quasi,
        k_anonymize_suppress,
    )

    cust = _t(spark, sf_dir, "customer")
    gen = generalize_quasi(cust, {"c_acctbal": bucket_rule(1000.0)})
    return k_anonymize_suppress(
        gen, ["c_nationkey", "c_acctbal"], k=5
    ).select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").alias("acctbal_bucket"),
        "group_size",
    )


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs)


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_SQL},
    -- document-frequency cap: mirrors max_group_size=500 in the operator
    csh AS (SELECT doc_id, s FROM sh
            QUALIFY count(*) OVER (PARTITION BY s) <= 500),
    sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM csh a JOIN csh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
               JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.03
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, n=5, threshold=0.03, persist_shingles=True,
        shingles=_doc_shingles(spark, sf_dir),
    )


@query(
    "dedup_ngram_containment",
    """
    WITH exc AS (
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(
               ts[1:greatest(5, CAST(floor(len(ts) / 2) AS INT))], ' '
             ) AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE doc_id % 37 = 0)
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM exc
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                   || ts[i+3] || ' ' || ts[i+4] AS s
      FROM tok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    -- document-frequency cap: mirrors max_group_size=500 in the operator
    csh AS (SELECT doc_id, s FROM sh
            QUALIFY count(*) OVER (PARTITION BY s) <= 500),
    sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM csh a JOIN csh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT doc_a, doc_b, c, sa.n AS na, sb.n AS nb
      FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
                 JOIN sizes sb ON inter.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b,
           round(greatest(CAST(c AS DOUBLE) / na,
                          CAST(c AS DOUBLE) / nb), 6) AS containment,
           CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc
    FROM sc
    WHERE greatest(CAST(c AS DOUBLE) / na, CAST(c AS DOUBLE) / nb) >= 0.8
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment over the documents table with
    PLANTED EXCERPTS (operators/dedup.ngram_containment_pairs) — the
    duplicate class symmetric Jaccard misses: every 37th document
    contributes a derived doc holding its first half (id + 3,000,000),
    a 0.5-Jaccard pair far below the 0.03-near-dup radar's
    interestingness but containment ~1.0 — the quote/syndication/
    re-chunk case of an LLM training corpus.  Same posting-list /
    DF-cap scale shape as dedup_ngram_jaccard; output is
    (pair, containment, contained_doc), where contained_doc is the side
    a dedup policy would drop or link as the excerpt."""
    return ngram_containment_pairs(
        _excerpt_corpus(spark, sf_dir), n=5, threshold=0.8,
        persist_shingles=True,
        shingles=_excerpt_shingles(spark, sf_dir),
    )


def _excerpt_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus planted half-document excerpts (every 37th doc,
    id + 3,000,000) — the shared corpus of the containment rows.

    Single-scan construction (r17): the old ``docs UNION ALL excerpts``
    shape scanned documents.parquet twice (once per union arm); each
    source row now emits itself plus, for every 37th id, its derived
    excerpt, through one generator over one scan — same row set."""
    docs = _t(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    base = F.struct(F.col("doc_id"), F.col("text"))
    excerpt = F.struct(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(
            F.slice(
                ts, 1,
                F.greatest(
                    F.lit(5), F.floor(F.size(ts) / 2).cast("int")
                ),
            ),
            " ",
        ).alias("text"),
    )
    return (
        docs.select(
            F.explode(
                F.when(F.col("doc_id") % 37 == 0, F.array(base, excerpt))
                .otherwise(F.array(base))
            ).alias("__r__")
        )
        .select("__r__.doc_id", "__r__.text")
    )


def _excerpt_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Just the planted-excerpt slice of ``_excerpt_corpus`` (every 37th
    document's derived half-doc) — the 1/37-sized frame a consumer signs
    fresh when it already holds artifacts over the plain documents."""
    docs = _t(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    return docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(
            F.slice(
                ts, 1,
                F.greatest(F.lit(5), F.floor(F.size(ts) / 2).cast("int")),
            ),
            " ",
        ).alias("text"),
    )


def _build_shingles5(corpus: DataFrame) -> DataFrame:
    from .operators.dedup import _shuffle_partitions, exploded_shingles
    from .session import ensure_min_parallelism

    sh = exploded_shingles(
        ensure_min_parallelism(corpus), "doc_id", "text", 5, hashed=True
    )
    return sh.repartition(
        _shuffle_partitions(sh), F.col("s")
    ).localCheckpoint(eager=False)


def _excerpt_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed 5-gram shingle frame of the excerpt corpus, clustered on the
    digest — shared by the three containment rows."""

    def build() -> DataFrame:
        # a doc's shingles depend on its own text only and the planted
        # excerpts' ids are disjoint (+3,000,000), so the excerpt
        # corpus's distinct shingle rows are EXACTLY the documents
        # table's rows (the doc_shingles artifact) plus the 1/37 slice's,
        # signed fresh here — one corpus-scale explode+distinct in the
        # whole dedup family instead of one per corpus.  Safe across
        # family evictions: this frame checkpoint-materializes inside
        # its first consumer row, before any eviction can run.
        from .operators.dedup import _shuffle_partitions, exploded_shingles
        from .session import ensure_min_parallelism

        slice_sh = exploded_shingles(
            ensure_min_parallelism(_excerpt_docs(spark, sf_dir)),
            "doc_id", "text", 5, hashed=True,
        )
        sh = _doc_shingles(spark, sf_dir).unionByName(slice_sh)
        return sh.repartition(
            _shuffle_partitions(sh), F.col("s")
        ).localCheckpoint(eager=False)

    return artifact(spark, sf_dir, "excerpt_shingles", build)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same shingle frame over the PLAIN documents table, shared by
    the Jaccard pairing family (dedup_ngram_jaccard,
    dedup_allpairs_prefix, dedup_lsh_verified's verify stage,
    dup_provenance_sources)."""
    return artifact(
        spark, sf_dir, "doc_shingles",
        lambda: _build_shingles5(
            _t(spark, sf_dir, "documents").select("doc_id", "text")
        ),
    )


def _doc_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash BAND ROWS (doc_id, band, key) of the documents table,
    (docs x n_bands)-sized and clustered on the (band, key) join key.  A
    document's band rows depend on its own shingles only, so
    dedup_containment_verified extends this artifact with the planted
    excerpt slice instead of re-signing its whole corpus."""
    from .operators.dedup import _shuffle_partitions, minhash_band_rows

    def build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        bands = minhash_band_rows(docs, n=5)
        return bands.repartition(
            _shuffle_partitions(bands), F.col("band"), F.col("key")
        ).localCheckpoint(eager=False)

    return artifact(spark, sf_dir, "doc_bands", build)


def _doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banded pair list over the documents table (n=5,
    8 hashes / 4 bands, df-capped): dedup_minhash_lsh emits it verbatim
    and dedup_lsh_verified feeds it to the exact verifier.  Pair-sized;
    what the artifact saves is the corpus-scale signature build."""
    from .operators.dedup import pairs_from_band_rows

    return artifact(
        spark, sf_dir, "minhash_pairs",
        lambda: pairs_from_band_rows(
            _doc_minhash_bands(spark, sf_dir)
        ).localCheckpoint(eager=False),
    )


@query(
    "dedup_containment_verified",
    """
    WITH exc AS (
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(
               ts[1:greatest(5, CAST(floor(len(ts) / 2) AS INT))], ' '
             ) AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE doc_id % 37 = 0)
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM exc
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                   || ts[i+3] || ' ' || ts[i+4] AS s
      FROM tok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    sig AS (
      SELECT doc_id,
        min(substr(md5('0|' || s), 1, 8))  AS mh0, min(substr(md5('0|' || s), 9, 8))  AS mh1,
        min(substr(md5('0|' || s), 17, 8)) AS mh2, min(substr(md5('0|' || s), 25, 8)) AS mh3,
        min(substr(md5('1|' || s), 1, 8))  AS mh4, min(substr(md5('1|' || s), 9, 8))  AS mh5,
        min(substr(md5('1|' || s), 17, 8)) AS mh6, min(substr(md5('1|' || s), 25, 8)) AS mh7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS key FROM sig
      UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
    ),
    cbands AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, key) <= 500),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           round(greatest(CAST(COALESCE(i.i, 0) AS DOUBLE) / sa.nsh,
                          CAST(COALESCE(i.i, 0) AS DOUBLE) / sb.nsh),
                 6) AS containment,
           CASE WHEN sa.nsh <= sb.nsh THEN c.doc_a ELSE c.doc_b END
             AS contained_doc
    FROM cand c
    LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE greatest(CAST(COALESCE(i.i, 0) AS DOUBLE) / sa.nsh,
                   CAST(COALESCE(i.i, 0) AS DOUBLE) / sb.nsh) >= 0.8
    """,
)
def dedup_containment_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment SCALE path (operators/dedup.
    containment_verify_pairs): MinHash-LSH band collisions generate
    candidates over the same planted-excerpt corpus as
    dedup_ngram_containment, then exact directed containment is verified
    on pairs only — the two-phase posture every 100 TB dedup runs
    (candidates banded, verification linear in |candidates|).  The row
    deliberately keeps the generator's Jaccard-targeted recall: of the
    planted half-document excerpts (Jaccard ~0.5), only the band-
    colliding subset reaches verification (11 of 28 at sf0.001) — the
    measured, documented reason ngram_containment_pairs generates
    candidates from shingle postings instead when extreme size-ratio
    excerpts are the target.  Both engines compute the IDENTICAL
    candidate set (the md5 MinHash construction is replicated in the
    oracle), so parity is exact, not recall-dependent."""
    from .operators.dedup import (
        _shuffle_partitions,
        containment_verify_pairs,
        minhash_band_rows,
        pairs_from_band_rows,
    )
    from .caching import track

    corpus = _excerpt_corpus(spark, sf_dir)
    # band rows over the union corpus = doc band rows (session artifact,
    # 97% of the corpus) + the planted-excerpt slice's rows (1/37 of
    # documents, signed here) — a doc's band rows depend on its own
    # shingles only, so this is the IDENTICAL frame the old
    # minhash_lsh_pairs(corpus) re-signed from scratch.  The hot-group
    # cap runs over the union (inside pairs_from_band_rows), exactly
    # where the single-corpus pipeline applied it.
    allb = _doc_minhash_bands(spark, sf_dir).unionByName(
        minhash_band_rows(_excerpt_docs(spark, sf_dir), n=5)
    )
    allb = track(
        allb.repartition(_shuffle_partitions(allb), F.col("band"), F.col("key"))
    )
    pairs = pairs_from_band_rows(allb)
    return containment_verify_pairs(
        corpus, pairs, n=5, threshold=0.8,
        # session-shared shingle artifact: verify prunes it by candidate
        # ids instead of re-exploding the corpus text
        shingles=_excerpt_shingles(spark, sf_dir),
    )


@query(
    "dedup_containment_excerpts",
    """
    WITH exc AS (
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(
               ts[1:greatest(5, CAST(floor(len(ts) / 2) AS INT))], ' '
             ) AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE doc_id % 37 = 0)
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM exc
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                   || ts[i+3] || ' ' || ts[i+4] AS s
      FROM tok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    -- NO document-frequency cap: the engine's prefix filter is exact
    -- (no-miss theorem), so the oracle is plain uncapped all-pairs
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT doc_a, doc_b, c, sa.n AS na, sb.n AS nb
      FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
                 JOIN sizes sb ON inter.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b,
           round(greatest(CAST(c AS DOUBLE) / na,
                          CAST(c AS DOUBLE) / nb), 6) AS containment,
           CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc
    FROM sc
    WHERE greatest(CAST(c AS DOUBLE) / na, CAST(c AS DOUBLE) / nb) >= 0.8
    """,
)
def dedup_containment_excerpts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-MISS excerpt detection at scale (operators/dedup.
    containment_excerpt_pairs): prefix-filter candidate generation from
    each document's RAREST shingles joined against the full shingle
    frame — the alternative dedup_containment_verified's docstring
    prescribes for extreme size-ratio excerpts, now a first-class row.
    Over the same planted-excerpt corpus, the Jaccard-targeted LSH
    generator reaches 11 of 28 planted half-document excerpts; this
    row's prefix theorem guarantees ALL of them (recall 1.0, pinned in
    tests), with candidates still orders of magnitude below all-pairs
    because prefixes carry only the rare ~(1-t) tail of each document.
    Output bit-identical to capless ngram_containment_pairs, so the
    oracle is plain uncapped all-pairs containment."""
    from .operators.dedup import containment_excerpt_pairs

    return containment_excerpt_pairs(
        _excerpt_corpus(spark, sf_dir), n=5, threshold=0.8,
        shingles=_excerpt_shingles(spark, sf_dir),
    )


@query(
    "dedup_winnow_pairs",
    """
    WITH exc AS (
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(
               ts[1:greatest(5, CAST(floor(len(ts) / 2) AS INT))], ' '
             ) AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE doc_id % 37 = 0)
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM exc
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
    g AS (
      SELECT doc_id, i AS pos,
             md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                       || ts[i+3] || ' ' || ts[i+4])
             || '|' || lpad(CAST(10000000 - i AS VARCHAR), 8, '0') AS key
      FROM tok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    -- one window pass: lexicographic min of (md5 hex || zero-padded
    -- reversed position) = (min hash, rightmost on ties), the
    -- engine-portable winnowing selection rule
    sel AS (
      SELECT DISTINCT doc_id, substr(win, 1, 32) AS f
      FROM (SELECT doc_id,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                     AS win
            FROM g)
    ),
    post AS (SELECT doc_id, f FROM sel
             QUALIFY count(*) OVER (PARTITION BY f) <= 500)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM post a JOIN post b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap radar (operators/dedup.
    winnow_overlap_pairs; Schleimer-Wilkerson-Aiken 2003, the MOSS
    algorithm): each document keeps the min-hash of every 4-hash window
    over its 5-gram stream (rightmost-min ties, ~2/(w+1) = 40 pct
    density), and pairs sharing >= 2 DISTINCT fingerprints are
    reported.  Any shared verbatim run of window + k - 1 = 8 tokens
    guarantees a shared fingerprint, so the planted half-document
    excerpts light up with large n_shared at a fraction of the full
    shingle-posting volume — the 100 TB first-pass overlap radar, with
    dedup_containment_excerpts as the exact no-miss follow-up.  Same
    posting-list/DF-cap pairing as every exact pairing row; the oracle
    replicates the portable selection key (md5 hex || zero-padded
    reversed position) so both engines select IDENTICAL fingerprints."""
    from .operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _excerpt_corpus(spark, sf_dir), k=5, window=4, min_shared=2
    )


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLE_SQL},
    sig AS (
      SELECT doc_id,
        min(substr(md5('0|' || s), 1, 8))  AS mh0, min(substr(md5('0|' || s), 9, 8))  AS mh1,
        min(substr(md5('0|' || s), 17, 8)) AS mh2, min(substr(md5('0|' || s), 25, 8)) AS mh3,
        min(substr(md5('1|' || s), 1, 8))  AS mh4, min(substr(md5('1|' || s), 9, 8))  AS mh5,
        min(substr(md5('1|' || s), 17, 8)) AS mh6, min(substr(md5('1|' || s), 25, 8)) AS mh7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS key FROM sig
      UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
    ),
    -- band-group frequency cap: mirrors max_group_size=500 in the operator
    cbands AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, key) <= 500)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_minhash_pairs(spark, sf_dir)


@query(
    "dedup_simhash",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, t
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
    ),
    bits AS (
      SELECT doc_id, b,
        sum(CASE WHEN (instr('0123456789abcdef', substr(md5(t), b+1, 1)) - 1) % 2 = 1
                 THEN 1 ELSE -1 END) AS v
      FROM tok, unnest(generate_series(0, 15)) AS u(b)
      GROUP BY doc_id, b
    )
    SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs.select("doc_id", "text")).select("doc_id", "simhash")


# SimHash Hamming-band pairing.  The synthetic corpus has no natural
# near-identical token sets, so both engines plant the SAME extra docs:
# exact copies (always hamming 0) and one-token-appended mutations
# (whatever small hamming the token's hash parity produces — identical in
# both engines since the signature math is bit-reproducible).
_SIMHASH_CTES = """
    docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' zzsim' FROM documents WHERE doc_id % 100 = 0
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM docs2),
    feats AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS t
      FROM tok, unnest(generate_series(1, len(ts) - 2)) AS u(i)
    ),
    bits AS (
      SELECT doc_id, b,
        sum(CASE WHEN (instr('0123456789abcdef', substr(md5(t), b+1, 1)) - 1) % 2 = 1
                 THEN 1 ELSE -1 END) AS v
      FROM feats, unnest(generate_series(0, 31)) AS u(b)
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS s
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, s, b AS band, (s >> (b * 8)) & 255 AS key
      FROM sig, unnest(generate_series(0, 3)) AS u(b)
    ),
    cbands AS (
      -- band-group frequency cap: mirrors max_group_size=500 in the operator
      SELECT * FROM bands
      QUALIFY count(*) OVER (PARTITION BY band, key) <= 500
    )"""


def _simhash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    mutated = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzsim")).alias("text"),
    )
    return docs.unionByName(planted).unionByName(mutated)


def _simhash_shared(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Compute the registry SimHash family ONCE per (session, sf_dir): the
    banded near-dup pair list and its transitive-closure cluster labels,
    both checkpointed (pair-count-sized frames, never the corpus).  Six
    registry rows consume them — pairs, clusters, apply, cluster sizes,
    keep-best-quality, leakage-safe split — mirroring a real dedup
    pipeline, where candidate pairs and labels are computed once and every
    downstream consumer reads the same artifact."""
    from .operators.cluster import connected_components
    from .operators.dedup import simhash_pairs

    def build() -> tuple[DataFrame, DataFrame]:
        pairs = simhash_pairs(
            _simhash_corpus(spark, sf_dir), bits=32, max_hamming=3,
            bands=4, ngram=3, persist_signatures=True,
        ).localCheckpoint()
        labels = connected_components(
            # the pair list is a checkpointed, pair-count-sized artifact:
            # probe it and run the bounded driver union-find when tiny
            # (identical min-id labels, zero iterative rounds)
            pairs, pairs_distinct=True, collect_bound=8192
        ).localCheckpoint()
        return pairs, labels

    return artifact(spark, sf_dir, "simhash", build)


@query(
    "dedup_simhash_pairs",
    f"""
    WITH {_SIMHASH_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """,
)
def dedup_simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, _ = _simhash_shared(spark, sf_dir)
    return pairs


# Cluster resolution: transitive closure of the SimHash pair list.  Planted
# copies/mutations of the same base doc form multi-node components (base,
# +1M copy, +2M mutation) that pairing alone reports as separate edges; the
# oracle computes min-reachable-id per node with a recursive CTE — exactly
# the label the iterative Spark propagation converges to.
@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
    )
    SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, labels = _simhash_shared(spark, sf_dir)
    return labels


# Benchmark decontamination.  Eval set = every 20th doc; train = the rest
# plus planted exact copies of every 40th doc (id + 1M) — the planted rows
# must flag at contam_ratio 1.0, and any natural 5-gram collisions flag
# identically in both engines because the shingle strings are identical.
@query(
    "decontaminate_ngrams",
    """
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 40 = 0
    ),
    ev AS (SELECT doc_id AS eid, text FROM documents WHERE doc_id % 20 = 0),
    ttok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM train),
    tsh AS (
      SELECT DISTINCT doc_id,
             md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) AS k
      FROM ttok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    etok AS (SELECT eid, string_split(text, ' ') AS ts FROM ev),
    esh AS (
      SELECT DISTINCT eid,
             md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) AS k
      FROM etok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    j AS (SELECT t.doc_id, t.k, e.eid FROM tsh t LEFT JOIN esh e USING (k))
    SELECT doc_id,
      count(DISTINCT CASE WHEN eid IS NOT NULL THEN k END) AS n_shared,
      count(DISTINCT eid) AS n_eval_docs,
      round(CAST(count(DISTINCT CASE WHEN eid IS NOT NULL THEN k END) AS DOUBLE)
            / count(DISTINCT k), 6) AS contam_ratio
    FROM j GROUP BY doc_id
    HAVING count(DISTINCT CASE WHEN eid IS NOT NULL THEN k END) >= 1
    """,
)
def decontaminate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import ngram_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 20 != 0).unionByName(
        docs.filter(F.col("doc_id") % 40 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    return ngram_contamination(train, ev, n=5)


_COS = "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"


# Random-hyperplane LSH top-k.  Planes come from a fixed md5-derived
# pseudo-random source rounded to 6 decimals (similarity.lsh_planes);
# the SAME literals are embedded in the Spark expressions and the oracle
# SQL, so bucketing (and therefore the candidate set) is bit-identical in
# both engines.  Because plane p is a pure function of (seed, p), the
# auto-width path (similarity.lsh_auto_width) EXTENDS these exact
# literals at larger corpora instead of replacing them.
from .operators.similarity import lsh_planes as _lsh_planes  # noqa: E402

_LSH_PLANES = _lsh_planes("lsh1", 16, 64)

_LSH_SIG_SQL = " + ".join(
    "(CASE WHEN round(list_dot_product({e}, ["
    + ", ".join(f"{x:.6f}" for x in plane)
    + f"]), 6) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for p, plane in enumerate(_LSH_PLANES)
)

# Planes for the multimodal composite's LSH stage: 24 bits over the 8-dim
# stub features, signature-centered at 0.5 (the features are uniform in
# [0,1); see lsh_topk's ``center`` doc).  The bias literal -0.5*sum(plane)
# is embedded identically in the Spark expression and the oracle SQL.
_MM_PLANES = _lsh_planes("mm1", 24, 8)

_MM_SIG_SQL = " + ".join(
    "(CASE WHEN round(list_dot_product({e}, ["
    + ", ".join(f"{x:.6f}" for x in plane)
    + f"]) + ({round(-0.5 * sum(plane), 6):.6f}), 6) >= 0"
    + f" THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for p, plane in enumerate(_MM_PLANES)
)


@query(
    "similarity_lsh_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (SELECT vec_id, e, {_LSH_SIG_SQL.format(e='e')} AS s FROM v),
    bnd AS (
      SELECT vec_id, e, b AS band, (s >> (b * 4)) & 15 AS key
      FROM sig, unnest(generate_series(0, 3)) AS u(b)
    ),
    q AS (SELECT * FROM bnd WHERE vec_id % 100 = 0),
    scored AS (
      SELECT DISTINCT q.vec_id AS query_id, w.vec_id AS neighbor_id,
             {_COS.format(a='q.e', b='w.e')} AS cosine
      FROM q JOIN bnd w
        ON q.band = w.band AND q.key = w.key AND q.vec_id <> w.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") % 100 == 0),
                    _LSH_PLANES, k=5, bands=4)


@query(
    "similarity_cosine_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {_COS.format(a='q.e', b='v.e')} AS cosine
      FROM q JOIN v ON q.vec_id <> v.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), k=5)


@query(
    "similarity_ivf_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, e, centroid_id FROM (
        SELECT v.vec_id, v.e, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a='v.e', b='c.ce')} DESC, c.centroid_id) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ),
    q AS (SELECT * FROM assign WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_COS.format(a='q.e', b='a.e')} AS cosine
      FROM q JOIN assign a ON q.centroid_id = a.centroid_id AND q.vec_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), centroids, k=5)


# Multi-probe IVF: each query scans its 2 nearest centroid buckets, lifting
# recall at bucket boundaries (corpus vectors stay single-assigned, so the
# probes never duplicate a candidate).
@query(
    "similarity_ivf_nprobe",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, e, centroid_id FROM (
        SELECT v.vec_id, v.e, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a='v.e', b='c.ce')} DESC, c.centroid_id) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id, e, centroid_id FROM (
        SELECT v.vec_id, v.e, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a='v.e', b='c.ce')} DESC, c.centroid_id) AS rn
        FROM v CROSS JOIN c WHERE v.vec_id % 100 = 0
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_COS.format(a='q.e', b='a.e')} AS cosine
      FROM qprobe q JOIN assign a
        ON q.centroid_id = a.centroid_id AND q.vec_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), centroids,
                    k=5, n_probe=2)


# ---------------------------------------------------------------------------
# Full declarative pipeline e2e: envelope -> spec-compiled VIEW -> XREF ->
# FGAC (the reference's signature dataflow, driven entirely by an STTM spec).
# The envelope is built from events via to_json; the oracle recomputes the
# same semantics directly on the base table.
# ---------------------------------------------------------------------------
@query(
    "sttm_pipeline_e2e",
    """
    WITH latest AS (
      SELECT * FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC NULLS LAST) AS rn
        FROM events WHERE event_type IN ('purchase', 'signup')
      ) WHERE rn = 1
    )
    SELECT l.user_id, l.event_type, l.value, c.c_mktsegment,
           sha256(c.c_name) AS nm_masked
    FROM latest l JOIN customer c ON l.user_id = c.c_custkey
    """,
)
def sttm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans import compile_pipeline
    from .spec import load_spec

    ev, customer = _t(spark, sf_dir, "events", "customer")
    envelope = ev.select(
        F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias("val")
    )

    def R(**kw):
        return kw

    rows = [
        R(PipelineStage="VIEW", TargetTable="EVT_view", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", FieldSelector="user_id",
          FilterPredicate="JSON_VALUE(CAST(val AS STRING), '$.event_type')"
                          " IN ('purchase', 'signup')"),
        R(PipelineStage="VIEW", TargetTable="EVT_view", TargetColumn="event_id",
          TargetDataType="BIGINT", FieldSelector="event_id"),
        R(PipelineStage="VIEW", TargetTable="EVT_view", TargetColumn="event_type",
          TargetDataType="STRING", FieldSelector="event_type"),
        R(PipelineStage="VIEW", TargetTable="EVT_view", TargetColumn="value",
          TargetDataType="DOUBLE", FieldSelector="value"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="EVT_view",
          FieldSelector="user_id", OrderByFields="event_id"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="event_type",
          SourceTable="EVT_view", FieldSelector="event_type"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", SourceTable="EVT_view", FieldSelector="value"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="XREF_EVT",
          FieldSelector="s.user_id", JoinTable="customer", JoinAlias="c",
          JoinType="INNER", JoinCondition="s.user_id = c.c_custkey"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="event_type",
          SourceTable="XREF_EVT", FieldSelector="s.event_type"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", SourceTable="XREF_EVT", FieldSelector="s.value"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="c_mktsegment",
          SourceTable="XREF_EVT", FieldSelector="c.c_mktsegment"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="nm_masked",
          SourceTable="XREF_EVT", SourceTransformExpr="c.c_name",
          ExprOverride="mask:sha2"),
    ]
    spec = load_spec(rows)
    compiled = compile_pipeline(
        spark, spec, {"raw": envelope, "customer": customer}
    )
    return compiled["FGAC_EVT"]


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate dedup.  The synthetic embeddings have no
# natural near-dups (max pairwise cosine ~0.51), so both engines plant the
# SAME exact-duplicate copies (vec_id % 100 == 0, id offset +1000000) and
# the operator must find precisely those pairs and assign canonical ids.
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    v AS (
      SELECT * FROM base
      UNION ALL
      SELECT vec_id + 1000000, e FROM base WHERE vec_id % 100 = 0
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {_COS.format(a='a.e', b='b.e')} >= 0.999
    ),
    edges AS (
      SELECT ia AS id, ib AS nb FROM pairs
      UNION ALL
      SELECT ib, ia FROM pairs
    )
    SELECT id AS vec_id, least(id, min(nb)) AS canonical_id,
           count(*) AS n_dups
    FROM edges GROUP BY id
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return embedding_near_dup(emb.unionByName(planted), threshold=0.999)


# ---------------------------------------------------------------------------
# Multimodal plumbing: video frame sampling is a pure column computation
# (sequence + explode) — declared duration metadata -> frame offsets.
# ---------------------------------------------------------------------------
@query(
    "multimodal_frame_sample",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(floor(least(n_chars * 10 / 1000.0, 64)) AS BIGINT) AS n
      FROM documents
    )
    SELECT doc_id, CAST(u * 1000 AS INT) AS frame_offset_ms
    FROM (SELECT doc_id, unnest(range(n)) AS u FROM d WHERE n > 0)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import pack_multimodal, sample_frames

    docs = _t(spark, sf_dir, "documents")
    vids = pack_multimodal(
        docs, "encode(text, 'utf-8')", "video",
        {"duration_ms": "n_chars * 10"},
    )
    return sample_frames(vids, every_ms=1000).select(
        "doc_id", F.col("frame_offset_ms").cast("int").alias("frame_offset_ms")
    )


# ---------------------------------------------------------------------------
# Distributed JSON flattener (reference json_flattener_v2): nested docs ->
# per-array-element rows with lineage columns, via Arrow-batched mapInPandas.
# ---------------------------------------------------------------------------
@query(
    "flatten_nested_json",
    """
    SELECT CAST(event_id AS VARCHAR) AS doc_key,
           'vals' AS table_name,
           CAST(t.i + 1 AS BIGINT) AS row_id,
           '/vals/' || t.i AS path,
           CAST(t.i AS INT) AS elem_index,
           CAST(1 AS INT) AS depth,
           CASE WHEN t.i = 0 THEN user_id ELSE event_id + 1 END AS item_val,
           event_id AS inherited_id
    FROM events CROSS JOIN (VALUES (0), (1)) AS t(i)
    """,
)
def flatten_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StructType

    from .flatten import flatten_with_schema

    ev = _t(spark, sf_dir, "events")
    env = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.array(F.col("user_id"), F.col("event_id") + 1).alias("vals"),
            )
        ).alias("val"),
    )
    # schema-compiled flatten: pure JVM from_json + posexplode, whole-stage
    # codegen end-to-end (flatten_df's mapInPandas path is the
    # schema-discovery fallback, exercised by the golden-pair tests)
    flat = flatten_with_schema(
        env, StructType.fromDDL("id bigint, vals array<bigint>"),
        payload_col="val", key_col="event_id",
    )
    return flat.select(
        "doc_key",
        F.col("tableName").alias("table_name"),
        F.col("_row_id").alias("row_id"),
        F.col("_path").alias("path"),
        F.col("_elem_index").alias("elem_index"),
        F.col("_depth").alias("depth"),
        F.col("vals").alias("item_val"),
        F.col("id").alias("inherited_id"),
    )


# ---------------------------------------------------------------------------
# DLQ / error-tolerance split (reference T7): corrupt payloads routed to the
# dead-letter side, clean payloads parsed against the declared schema.
# ---------------------------------------------------------------------------
@query(
    "dlq_corrupt_split",
    """
    SELECT event_id, user_id FROM events WHERE event_id % 10 <> 0
    """,
)
def dlq_corrupt_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    from .io import split_corrupt_json

    ev = _t(spark, sf_dir, "events")
    env = ev.select(
        F.when(
            F.col("event_id") % 10 == 0,
            F.concat(F.lit("CORRUPT"), F.col("event_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct("event_id", "user_id")))
        .alias("val")
    )
    schema = StructType(
        [StructField("event_id", LongType()), StructField("user_id", LongType())]
    )
    good, _bad = split_corrupt_json(spark, env, schema)
    return good


# ---------------------------------------------------------------------------
# Streaming statement-set end-to-end: envelope files -> availableNow stream
# -> foreachBatch upsert changelog -> XREF snapshot at quiescence.  The
# oracle is the same latest-by-key SQL the batch path answers — streaming
# and batch must agree once all input is consumed (AC-2).
# ---------------------------------------------------------------------------
@query(
    "streaming_xref_upsert",
    """
    SELECT user_id, event_type, value FROM (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events WHERE user_id % 10 = 0
    ) WHERE rn = 1
    """,
)
def streaming_xref_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .spec import load_spec as _load_spec
    from .streaming import StatementSetRunner, file_envelope_stream

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    src_dir = tempfile.mkdtemp(prefix="cdis-stream-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-stream-out-")
    ev.select(
        F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias("value")
    ).write.mode("overwrite").text(src_dir)

    def R(**kw):
        return kw

    spec = _load_spec([
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", FieldSelector="user_id"),
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="event_id",
          TargetDataType="BIGINT", FieldSelector="event_id"),
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="event_type",
          TargetDataType="STRING", FieldSelector="event_type"),
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", FieldSelector="value"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="V_EVT",
          FieldSelector="user_id", OrderByFields="event_id"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="event_type",
          SourceTable="V_EVT", FieldSelector="event_type"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", SourceTable="V_EVT", FieldSelector="value"),
    ])
    runner = StatementSetRunner(
        spark, spec, {}, out_dir, capture_plans=True,
    )
    stream = file_envelope_stream(spark, src_dir, max_files_per_trigger=16)
    runner.run_streaming(stream)
    _record_runner_plans("streaming_xref_upsert", runner)
    return spark.read.parquet(runner.table_path("XREF_EVT"))


# ---------------------------------------------------------------------------
# Streaming statement set, MULTI-sink (reference T1's signature shape: N
# INSERTs sharing ONE source scan, sttm_to_flink_v22.py:391-398): a single
# foreachBatch pass persists each microbatch once and fans out to three
# sinks — XREF (latest-by-key changelog), FGAC (post-upsert snapshot INNER
# join against a static dim), QUARANTINE (dim-orphan append stream).  The
# oracle is the batch-equivalent SQL for all three sinks at quiescence
# (AC-2), union-tagged by sink name.  One source read per microbatch by
# construction: StatementSetRunner._process_batch persists batch_df and
# compiles every stage from that one cached scan.
# ---------------------------------------------------------------------------
@query(
    "streaming_statement_set",
    """
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, CAST(value AS DOUBLE) AS value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE user_id % 10 = 0
      ) WHERE rn = 1
    ),
    dim AS (SELECT c_custkey AS id, c_mktsegment AS segment FROM customer
            WHERE c_custkey % 4 <> 0)
    SELECT 'xref' AS sink, user_id, event_type, value,
           CAST(NULL AS VARCHAR) AS segment
    FROM latest
    UNION ALL
    SELECT 'fgac' AS sink, l.user_id, l.event_type, l.value, d.segment
    FROM latest l JOIN dim d ON l.user_id = d.id
    UNION ALL
    SELECT 'quarantine' AS sink, l.user_id, CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
    FROM latest l LEFT JOIN dim d ON l.user_id = d.id
    WHERE d.id IS NULL
    """,
)
def streaming_statement_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .spec import load_spec as _load_spec
    from .streaming import StatementSetRunner, file_envelope_stream

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    cust = _t(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_custkey") % 4 != 0).select(
        F.col("c_custkey").alias("id"), F.col("c_mktsegment").alias("segment")
    )
    src_dir = tempfile.mkdtemp(prefix="cdis-stmtset-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-stmtset-out-")
    ev.select(
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("value")
    ).write.mode("overwrite").text(src_dir)

    def R(**kw):
        return kw

    spec = _load_spec([
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", FieldSelector="user_id"),
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="event_id",
          TargetDataType="BIGINT", FieldSelector="event_id"),
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="event_type",
          TargetDataType="STRING", FieldSelector="event_type"),
        R(PipelineStage="VIEW", TargetTable="V_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", FieldSelector="value"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="V_EVT",
          FieldSelector="user_id", OrderByFields="event_id"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="event_type",
          SourceTable="V_EVT", FieldSelector="event_type"),
        R(PipelineStage="XREF", TargetTable="XREF_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", SourceTable="V_EVT", FieldSelector="value"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="user_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="XREF_EVT",
          FieldSelector="s.user_id", JoinTable="dim", JoinAlias="d",
          JoinType="INNER", JoinCondition="s.user_id = d.id"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="event_type",
          SourceTable="XREF_EVT", FieldSelector="s.event_type"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="value",
          TargetDataType="DOUBLE", SourceTable="XREF_EVT",
          FieldSelector="s.value"),
        R(PipelineStage="FGAC", TargetTable="FGAC_EVT", TargetColumn="segment",
          SourceTable="XREF_EVT", FieldSelector="d.segment"),
        R(PipelineStage="QUARANTINE", TargetTable="Q_EVT",
          TargetColumn="user_id", TargetDataType="BIGINT",
          SourceTable="XREF_EVT", FieldSelector="user_id", JoinTable="dim",
          JoinAlias="d", JoinCondition="s.user_id = d.id",
          FilterPredicate="d.id IS NULL"),
    ])
    runner = StatementSetRunner(
        spark, spec, {"dim": dim}, out_dir, capture_plans=True,
    )
    stream = file_envelope_stream(spark, src_dir, max_files_per_trigger=16)
    runner.run_streaming(stream)
    _record_runner_plans("streaming_statement_set", runner)
    ns, nd = F.lit(None).cast("string"), F.lit(None).cast("double")
    xref = spark.read.parquet(runner.table_path("XREF_EVT")).select(
        F.lit("xref").alias("sink"), "user_id", "event_type", "value",
        ns.alias("segment"),
    )
    fgac = spark.read.parquet(runner.table_path("FGAC_EVT")).select(
        F.lit("fgac").alias("sink"), "user_id", "event_type", "value",
        "segment",
    )
    # the reject stream is append-only; version-insensitive projection
    # (just the key) so quiescent DISTINCT equals the batch answer
    quar = (
        spark.read.parquet(runner.table_path("Q_EVT"))
        .select("user_id").distinct()
        .select(
            F.lit("quarantine").alias("sink"), "user_id",
            ns.alias("event_type"), nd.alias("value"), ns.alias("segment"),
        )
    )
    return xref.unionByName(fgac).unionByName(quar)


# ---------------------------------------------------------------------------
# v3/v4.5 column-spec pipeline (reference flinksql_from_sttm_v4_5 /
# final-output.sql shape): $.tbl-discriminated views off one envelope scan,
# then a two-arm quarantine — LEFT JOIN anti-join in each direction with a
# literal 'what' marker, combined UNION ALL.
# ---------------------------------------------------------------------------
@query(
    "colspec_quarantine_arms",
    """
    WITH cust AS (SELECT c_custkey AS id FROM customer WHERE c_custkey % 7 < 5),
         ord  AS (SELECT o_custkey AS cust FROM orders WHERE o_orderkey % 3 = 0)
    SELECT CAST(c.id AS INT) AS user_id, 'ord: none' AS what
    FROM cust c LEFT JOIN ord o ON c.id = o.cust
    WHERE o.cust IS NULL
    UNION ALL
    SELECT CAST(o.cust AS INT) AS user_id, 'cust: none' AS what
    FROM ord o LEFT JOIN cust c ON o.cust = c.id
    WHERE c.id IS NULL
    """,
)
def colspec_quarantine_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans import compile_colspec
    from .spec.colspec import load_colspec

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    env = customer.filter(F.col("c_custkey") % 7 < 5).select(
        F.to_json(
            F.struct(F.lit("cust").alias("tbl"), F.col("c_custkey").alias("id"))
        ).alias("val")
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.to_json(
                F.struct(F.lit("ord").alias("tbl"), F.col("o_custkey").alias("cust"))
            ).alias("val")
        )
    )

    def R(**kw):
        return kw

    rows = [
        R(**{"Source Table": "cust", "Source Column": "id",
             "Target Table": "q_out", "Target Column": "user_id",
             "Target Data Type": "INT", "Expression": "hm_cust_vw.id",
             "Filter": "hm_ord_vw.cust IS NULL", "Join Order": "1",
             "Join Type": "LEFT",
             "Join Condition": "hm_cust_vw.id = hm_ord_vw.cust"}),
        R(**{"Source Table": "cust", "Target Table": "q_out",
             "Target Column": "what", "Target Data Type": "STRING",
             "Expression": "'ord: none'",
             "Filter": "hm_ord_vw.cust IS NULL", "Join Order": "1",
             "Join Type": "LEFT",
             "Join Condition": "hm_cust_vw.id = hm_ord_vw.cust"}),
        R(**{"Source Table": "ord", "Source Column": "cust",
             "Target Table": "q_out", "Target Column": "user_id",
             "Target Data Type": "INT", "Expression": "hm_ord_vw.cust",
             "Filter": "hm_cust_vw.id IS NULL", "Join Order": "1",
             "Join Type": "LEFT",
             "Join Condition": "hm_ord_vw.cust = hm_cust_vw.id"}),
        R(**{"Source Table": "ord", "Target Table": "q_out",
             "Target Column": "what", "Target Data Type": "STRING",
             "Expression": "'cust: none'",
             "Filter": "hm_cust_vw.id IS NULL", "Join Order": "1",
             "Join Type": "LEFT",
             "Join Condition": "hm_ord_vw.cust = hm_cust_vw.id"}),
    ]
    spec = load_colspec(rows)
    return compile_colspec(spark, spec, env)["q_out"]


# ---------------------------------------------------------------------------
# Temporal joins — AS OF / interval join / sessionization.  Spark has no
# built-in for any of these (Flink ships interval joins as a streaming
# primitive; the reference's pipelines run on Flink); re-expressed here as
# single-shuffle window/bucketed-equi-join plans (operators/temporal.py).
# ---------------------------------------------------------------------------
@query(
    "asof_join_latest_order",
    """
    WITH ranked AS (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts,
           CAST(o_orderkey AS BIGINT) AS asof_orderkey,
           o_totalprice AS asof_totalprice
    FROM ranked WHERE rn = 1
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join

    ev, orders = _t(spark, sf_dir, "events", "orders")
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
        tie_col="o_orderkey",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_totalprice").alias("asof_totalprice"),
    )


@query(
    "range_join_event_pairs",
    """
    SELECT a.event_id AS ev_a, b.event_id AS ev_b, a.user_id,
           CAST(date_diff('microsecond', a.ts, b.ts) AS BIGINT) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import interval_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = interval_join(
        ev,
        ev,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        lower_seconds=0,
        upper_seconds=3600,
    )
    return out.select(
        F.col("event_id").alias("ev_a"),
        F.col("event_id_r").alias("ev_b"),
        "user_id",
        (
            F.unix_micros(F.col("ts_r").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("gap_us"),
    )


@query(
    "sessionize_events",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                         OR date_diff('microsecond', prev_ts, ts) > 14400000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
    FROM (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(
        ev.select("event_id", "user_id", "ts"),
        key_col="user_id",
        time_col="ts",
        gap_seconds=14400,
        order_tie_col="event_id",
    )


# ---------------------------------------------------------------------------
# Context-window chunking + per-doc keyword extraction (training-data prep).
# ---------------------------------------------------------------------------
@query(
    "doc_chunk_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    n AS (SELECT doc_id, ts,
                 1 + CAST(ceil(greatest(0, len(ts) - 40) / 30.0) AS INT) AS nc
          FROM t)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           CAST(len(list_slice(ts, i*30+1, i*30+40)) AS INT) AS chunk_tokens,
           array_to_string(list_slice(ts, i*30+1, i*30+40), ' ') AS chunk_text
    FROM n, unnest(generate_series(0, nc - 1)) AS u(i)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=40, stride_tokens=30)


@query(
    "keyword_topk",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE len(term) >= 1 GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY term)
    SELECT doc_id, term_rank, term, tf, doc_freq FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.doc_freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfq.doc_freq ASC, tf.term ASC) AS INT) AS term_rank
      FROM tf JOIN dfq USING (term)
    ) WHERE term_rank <= 3
    """,
)
def keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, k=3, min_len=1)


# ---------------------------------------------------------------------------
# Flink windowed aggregations (TUMBLE / HOP) — batch semantics of the
# reference runtime's streaming windows.  Window boundaries are computed
# from epoch arithmetic in the oracle so both engines align to midnight UTC
# regardless of each engine's bucket-origin convention.
# ---------------------------------------------------------------------------
@query(
    "tumbling_window_agg",
    """
    WITH b AS (
      SELECT event_type, value,
             (epoch_us(ts) // 86400000000) * 86400000000 AS ws_us
      FROM events
    )
    SELECT make_timestamp(ws_us) AS window_start,
           make_timestamp(ws_us + 86400000000) AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM b GROUP BY ws_us, event_type
    """,
)
def tumbling_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import tumbling_window_agg

    ev = _t(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev.select("ts", "event_type", "value"),
        time_col="ts",
        window_seconds=86400,
        group_cols=["event_type"],
        aggs=[
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )


@query(
    "hopping_window_agg",
    """
    WITH h AS (
      SELECT event_type, value,
             ((epoch_us(ts) // 43200000000) - u.k) * 43200000000 AS ws_us
      FROM events, unnest(generate_series(0, 1)) AS u(k)
    )
    SELECT make_timestamp(ws_us) AS window_start,
           make_timestamp(ws_us + 86400000000) AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM h GROUP BY ws_us, event_type
    """,
)
def hopping_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import hopping_window_agg

    ev = _t(spark, sf_dir, "events")
    return hopping_window_agg(
        ev.select("ts", "event_type", "value"),
        time_col="ts",
        window_seconds=86400,
        slide_seconds=43200,
        group_cols=["event_type"],
        aggs=[
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )


# ---------------------------------------------------------------------------
# Composite document quality gate (verdict + per-reason audit in one scan).
# ---------------------------------------------------------------------------
@query(
    "quality_filter_gate",
    """
    WITH f AS (
      SELECT doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        round(CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
              / len(string_split(text, ' ')), 6) AS stopword_ratio
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_tokens, stopword_ratio,
        list_filter([
          CASE WHEN n_tokens < 20 THEN 'too_short' ELSE '' END,
          CASE WHEN n_tokens > 90 THEN 'too_long' ELSE '' END,
          CASE WHEN stopword_ratio > 0.3 THEN 'high_stopword' ELSE '' END
        ], x -> x <> '') AS reasons
      FROM f
    )
    SELECT doc_id, n_tokens, stopword_ratio,
           COALESCE(array_to_string(reasons, ','), '') AS fail_reasons,
           (len(reasons) = 0) AS quality_pass
    FROM r
    """,
)
def quality_filter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    return quality_filter(
        docs.select("doc_id", "text"),
        min_tokens=20,
        max_tokens=90,
        max_stopword_ratio=0.30,
    ).drop("text")


# ---------------------------------------------------------------------------
# Temperature (alpha) corpus-mix resampling + int8 embedding quantization.
# The resample decision compares the md5 bucket NUMERICALLY (Spark: conv();
# oracle: explicit base-16 fold) against floor(rate * 2^32) with the rate
# rounded to 6 decimals in both engines, so data-derived rates stay
# engine-reproducible.
# ---------------------------------------------------------------------------
@query(
    "temperature_resample_mix",
    """
    WITH c AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY source),
    t AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS wsum FROM c),
    r AS (
      SELECT s, round(least(1.0, (0.5 * tot) * (pow(CAST(n AS DOUBLE), 0.5) / wsum) / n), 6) AS rate
      FROM c, t
    ),
    h AS (
      -- COALESCE + IS NOT DISTINCT FROM mirror the operator exactly: a
      -- NULL source is a stratum (hashed as '<NULL>', null-safe joined),
      -- not a row to silently drop.
      SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, r.rate,
             substr(md5('|' || COALESCE(CAST(d.source AS VARCHAR), '<NULL>') || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS hx
      FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.s
    )
    SELECT doc_id, text, lang, source, n_chars FROM h
    WHERE (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 8, 1)) - 1) * 1
          < CAST(floor(rate * 4294967296.0) AS BIGINT)
    """,
)
def temperature_resample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import temperature_resample

    docs = _t(spark, sf_dir, "documents")
    return temperature_resample(
        docs, strata_col="source", key_col="doc_id", alpha=0.5,
        target_fraction=0.5,
    )


@query(
    "embedding_quantize_int8",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    )
    SELECT vec_id, CAST(i AS INT) AS pos,
           CAST(floor(e[i] / nullif(scale, 0.0) + 0.5) AS INT) AS q,
           round(scale, 6) AS scale
    FROM s, unnest(generate_series(1, len(e))) AS u(i)
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb)



# ---------------------------------------------------------------------------
# Training-shard planner: snake assignment over token-sorted metadata.
# ---------------------------------------------------------------------------
@query(
    "shard_assignment_balanced",
    """
    WITH m AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_tokens,
             CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1 AS BIGINT) AS rn
      FROM m
    )
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN rn % 16 < 8 THEN rn % 16 ELSE 15 - (rn % 16) END AS INT) AS shard
    FROM r
    """,
)
def shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import shard_assignment

    docs = _t(spark, sf_dir, "documents")
    return shard_assignment(docs, n_shards=8, mode="balanced")


@query(
    "session_window_agg",
    """
    WITH s AS (
      SELECT user_id, event_id, value, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                     > 14400000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    g AS (
      SELECT user_id, value, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT min(ts) AS window_start,
           max(ts) + INTERVAL 4 HOUR AS window_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM g GROUP BY user_id, sid
    """,
)
def session_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import session_window_agg

    ev = _t(spark, sf_dir, "events")
    return session_window_agg(
        ev.select("ts", "user_id", "value"),
        time_col="ts",
        gap_seconds=14400,
        group_cols=["user_id"],
        aggs=[
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup removal: pair -> cluster -> keep min-id representative.
# The composite workflow a training pipeline actually runs; everything
# upstream (signatures, banding, components) is exercised in one query.
# ---------------------------------------------------------------------------
@query(
    "dedup_apply_pipeline",
    f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
    ),
    labels AS (
      SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM docs2 d
    WHERE d.doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster_id)
    """,
)
def dedup_apply_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _simhash_corpus(spark, sf_dir)
    _, labels = _simhash_shared(spark, sf_dir)
    drop = labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return corpus.join(drop, "doc_id", "left_anti").select(
        "doc_id", F.expr("CAST(char_length(text) AS BIGINT)").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# k-means centroid refinement (one Lloyd iteration, unrolled in the oracle).
# ---------------------------------------------------------------------------
@query(
    "kmeans_refine_assign",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 50 = 0),
    a1 AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, c0.cid,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a='v.e', b='c0.ce')} DESC, c0.cid ASC) AS rn
        FROM v CROSS JOIN c0
      ) WHERE rn = 1
    ),
    m AS (
      SELECT cid, i AS pos, round(avg(e[i]), 6) AS mv
      FROM a1, unnest(generate_series(1, len(e))) AS u(i)
      GROUP BY cid, i
    ),
    c1 AS (SELECT cid, list(mv ORDER BY pos) AS ce FROM m GROUP BY cid)
    SELECT vec_id, centroid_id FROM (
      SELECT v.vec_id, c1.cid AS centroid_id,
        ROW_NUMBER() OVER (PARTITION BY v.vec_id
          ORDER BY {_COS.format(a='v.e', b='c1.ce')} DESC, c1.cid ASC) AS rn
      FROM v CROSS JOIN c1
    ) WHERE rn = 1
    """,
)
def kmeans_refine_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import kmeans_refine

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return kmeans_refine(emb, cents, iters=1)


# ---------------------------------------------------------------------------
# Text normalization + per-source length quantiles (corpus audit stats).
# ---------------------------------------------------------------------------
@query(
    "normalize_text_stage",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS text_norm
    FROM documents
    """,
)
def normalize_text_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return normalize_text(
        docs.select("doc_id", "text"), strip_punct=True
    ).select("doc_id", "text_norm")


@query(
    "corpus_length_quantiles",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(len(string_split(text, ' ')), 0.25), 6) AS p25,
           round(quantile_cont(len(string_split(text, ' ')), 0.5), 6) AS p50,
           round(quantile_cont(len(string_split(text, ' ')), 0.75), 6) AS p75,
           round(quantile_cont(len(string_split(text, ' ')), 0.95), 6) AS p95
    FROM documents GROUP BY source
    """,
)
def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import length_quantiles

    docs = _t(spark, sf_dir, "documents")
    return length_quantiles(docs)


# ---------------------------------------------------------------------------
# Exact per-group quantiles as order statistics WITHOUT whole-group
# buffering (operators/stats.py): a histogram pass locates each rank's
# bin, a second pass sorts only that bin — the 100 TB-safe twin of the
# percentile-aggregate reports (Spark's exact `percentile` holds every
# group value in one executor buffer).  The oracle states the same lower
# order statistic via row_number; both engines derive rank = ceil(q*n)
# with the identical double multiply, so the rank agrees bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "exact_quantiles_events",
    """
    WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v
               FROM events WHERE value IS NOT NULL),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1),
    r AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v)
                   AS rn
          FROM e),
    q AS (SELECT CAST(q AS DOUBLE) AS q
          FROM (VALUES (0.25), (0.5), (0.9)) t(q))
    SELECT r.event_type, q.q,
           greatest(1, CAST(ceil(q.q * n.n) AS BIGINT)) AS rank,
           r.v AS value
    FROM r JOIN n ON r.event_type = n.event_type
    JOIN q ON r.rn = greatest(1, CAST(ceil(q.q * n.n) AS BIGINT))
    """,
)
def exact_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import exact_quantiles_twopass

    ev = _t(spark, sf_dir, "events")
    return exact_quantiles_twopass(
        ev, "value", ["event_type"], [0.25, 0.5, 0.9]
    )


# ---------------------------------------------------------------------------
# Flagship composite: the full training-data preparation pipeline in one
# query — normalize -> quality gate -> exact dedup (canonical id wins) ->
# deterministic train/test split.  Every stage is the registered operator,
# composed; the oracle chains the equivalent CTEs.
# ---------------------------------------------------------------------------
@query(
    "training_prep_e2e",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS t
      FROM documents
    ),
    feat AS (
      SELECT doc_id, t,
             len(string_split(t, ' ')) AS n_tokens,
             round(CAST(len(list_filter(string_split(t, ' '),
                    x -> x IN ('the','a','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
                   / len(string_split(t, ' ')), 6) AS sw_ratio
      FROM norm
    ),
    pass AS (
      SELECT doc_id, t, n_tokens FROM feat
      WHERE n_tokens >= 20 AND n_tokens <= 90 AND sw_ratio <= 0.3
    ),
    ded AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY md5(t) ORDER BY doc_id ASC) AS rn
      FROM pass
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                THEN 'train' ELSE 'test' END AS split
    FROM ded WHERE rn = 1
    """,
)
def training_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup
    from .operators.sampling import hash_split
    from .operators.text import normalize_text, quality_filter

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_text(docs.select("doc_id", "text"), strip_punct=True)
    gated = quality_filter(
        norm.select("doc_id", F.col("text_norm")),
        text_col="text_norm",
        min_tokens=20, max_tokens=90, max_stopword_ratio=0.30,
    ).filter("quality_pass")
    canon = exact_dedup(gated, text_col="text_norm").select(
        F.col("canonical_id").alias("doc_id")
    )
    kept = gated.join(canon, "doc_id", "semi")
    return hash_split(kept, key_col="doc_id").select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "split"
    )


# ---------------------------------------------------------------------------
# Substring-level repeated-span detection (content-defined anchors).  The
# synthetic corpus shares little long-range text, so both engines plant the
# SAME 80-char tail on every 25th doc — those spans must surface; any
# natural cross-doc span collisions surface identically in both engines.
# ---------------------------------------------------------------------------
@query(
    "repeated_spans_cdc",
    """
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000,
             text || ' the quick brown fox jumps over the lazy dog again and again tonight'
      FROM documents WHERE doc_id % 25 = 0
    ),
    grams AS (
      SELECT doc_id, p AS pos, md5(substr(text, p, 60)) AS span_hash
      FROM docs2, unnest(generate_series(1, greatest(0, length(text) - 59))) AS u(p)
      WHERE substr(md5(substr(text, p, 8)), 1, 1) = '0'
    ),
    hits AS (
      SELECT span_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM grams GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT g.doc_id, CAST(g.pos AS INT) AS pos, g.span_hash, h.n_docs
    FROM grams g JOIN hits h USING (span_hash)
    """,
)
def repeated_spans_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import repeated_substring_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tail = (" the quick brown fox jumps over the lazy dog again and again"
            " tonight")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(tail)).alias("text"),
    )
    corpus = docs.unionByName(planted)
    return repeated_substring_spans(corpus, span_chars=60, anchor_chars=8,
                                    min_docs=2)


# ---------------------------------------------------------------------------
# Multimodal end-to-end: binary payload -> Arrow-batched feature extraction
# (deterministic sha256 stub kernel) -> banded LSH cosine top-k (the scale
# path: band-key equi-joins only, no cross join).  The oracle recomputes the
# stub features in SQL (sha256 agrees byte-for-byte) with an explicit REAL
# round-trip matching Spark's array<float> storage, then mirrors the banding
# with the same plane+bias literals.
# ---------------------------------------------------------------------------
@query(
    "multimodal_embed_topk",
    f"""
    WITH f AS (SELECT doc_id, sha256('feat' || text) AS hx FROM documents),
    v AS (
      SELECT doc_id,
           [CAST(CAST(((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 8, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 9, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 10, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 11, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 12, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 13, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 14, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 15, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 16, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 17, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 18, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 19, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 20, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 21, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 22, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 23, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 24, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 25, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 26, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 27, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 28, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 29, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 30, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 31, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 32, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 33, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 34, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 35, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 36, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 37, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 38, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 39, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 40, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 41, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 42, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 43, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 44, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 45, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 46, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 47, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 48, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 49, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 50, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 51, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 52, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 53, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 54, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 55, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 56, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE),
             CAST(CAST(((instr('0123456789abcdef', substr(hx, 57, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(hx, 58, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(hx, 59, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(hx, 60, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(hx, 61, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(hx, 62, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(hx, 63, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 64, 1)) - 1) * 1) / 4294967296.0 AS REAL) AS DOUBLE)] AS e
      FROM f
    ),
    sig AS (SELECT doc_id, e, {_MM_SIG_SQL.format(e='e')} AS s FROM v),
    bnd AS (
      SELECT doc_id, e, b AS band, (s >> (b * 4)) & 15 AS key
      FROM sig, unnest(generate_series(0, 5)) AS u(b)
    ),
    q AS (SELECT * FROM bnd WHERE doc_id % 100 = 0),
    scored AS (
      SELECT DISTINCT q.doc_id AS query_id, w.doc_id AS neighbor_id,
             round(list_dot_product(q.e, w.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(w.e, w.e))), 6) AS cosine
      FROM q JOIN bnd w
        ON q.band = w.band AND q.key = w.key AND q.doc_id <> w.doc_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def multimodal_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal e2e on the SCALE path: binary payload -> Arrow-batched
    feature extraction -> banded LSH top-k (equi-join on band keys — no
    cross join anywhere in the plan).  The exact-cosine variant remains
    the recall oracle: tests/test_multimodal.py pins recall@5 >= 0.9 for
    this exact pipeline against ``cosine_topk`` over the same features.
    """
    from .operators.multimodal import extract_features, pack_multimodal
    from .operators.similarity import lsh_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_multimodal(docs, "encode(text, 'utf-8')", "image", {})
    feats = extract_features(packed.drop("text"), feature_dim=8)
    vectors = feats.select("doc_id", "features")
    return lsh_topk(
        vectors, vectors.filter(F.col("doc_id") % 100 == 0),
        _MM_PLANES, k=5, bands=6, center=0.5,
        id_col="doc_id", vec_col="features",
    ).withColumn("rn", F.col("rn").cast("int"))



@query(
    "unigram_logprob_score",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE len(term) >= 1 GROUP BY doc_id, term
    ),
    vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    lp AS (
      SELECT term,
             CAST(round(ln(CAST(cnt AS DOUBLE) / total), 6) AS DECIMAL(18,6)) AS logp
      FROM vocab, tot
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(tf.tf * lp.logp) AS DOUBLE) / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_logprob
    FROM tf JOIN lp USING (term)
    GROUP BY tf.doc_id
    """,
)
def unigram_logprob_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_score(docs.select("doc_id", "text"))


@query(
    "char_entropy_scores",
    """
    WITH chars AS (
      SELECT doc_id, length(text) AS n, unnest(string_split(text, '')) AS c
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, n, c, count(*) AS k FROM chars GROUP BY doc_id, n, c
    )
    SELECT doc_id,
           CAST(sum(CAST(round(-(CAST(k AS DOUBLE) / n)
                               * ln(CAST(k AS DOUBLE) / n) / ln(2.0), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) AS char_entropy
    FROM cnt GROUP BY doc_id
    """,
)
def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs.select("doc_id", "text")).select(
        "doc_id", "char_entropy"
    )


# ---------------------------------------------------------------------------
# Character-level benchmark decontamination: train docs sharing a verbatim
# >=60-char span with any eval doc.  Eval = every 20th doc; train = the
# rest plus planted exact copies of every 40th doc (ids + 1M) — planted
# rows must flag; any natural span collisions flag identically in both
# engines.
# ---------------------------------------------------------------------------
@query(
    "span_decontaminate",
    """
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 40 = 0
    ),
    ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
    tg AS (
      SELECT doc_id, p AS pos, md5(substr(text, p, 60)) AS span_hash
      FROM train, unnest(generate_series(1, greatest(0, length(text) - 59))) AS u(p)
      WHERE substr(md5(substr(text, p, 8)), 1, 1) = '0'
    ),
    eg AS (
      SELECT DISTINCT md5(substr(text, p, 60)) AS span_hash
      FROM ev, unnest(generate_series(1, greatest(0, length(text) - 59))) AS u(p)
      WHERE substr(md5(substr(text, p, 8)), 1, 1) = '0'
    )
    SELECT tg.doc_id,
           CAST(count(DISTINCT tg.span_hash) AS BIGINT) AS n_shared_spans,
           CAST(min(tg.pos) AS INT) AS first_pos
    FROM tg JOIN eg USING (span_hash)
    GROUP BY tg.doc_id
    """,
)
def span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import cross_set_span_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 20 != 0).unionByName(
        docs.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    return cross_set_span_contamination(train, ev, span_chars=60,
                                        anchor_chars=8)


# ---------------------------------------------------------------------------
# Per-domain caps: bound each source's contribution (web-host dominance
# control).  Exact mode (ROW_NUMBER over seeded hash order) + rate mode
# (hash-cutoff expectation, the zero-corpus-shuffle scale path).
# ---------------------------------------------------------------------------
def _duck_hex_num(hx: str, start: int, width: int) -> str:
    """DuckDB-side numeric value of a hex slice (no conv() there)."""
    return "(" + " + ".join(
        f"(instr('0123456789abcdef', substr({hx}, {start + i}, 1)) - 1)"
        f" * {16 ** (width - 1 - i)}"
        for i in range(width)
    ) + ")"


_CAP_HASH = "md5('|' || COALESCE(CAST(source AS VARCHAR), '<NULL>') || '|' || CAST(doc_id AS VARCHAR))"


@query(
    "domain_cap_exact",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY {_CAP_HASH}, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def domain_cap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, group_col="source", cap=20, mode="exact")


@query(
    "domain_cap_rate",
    f"""
    WITH c AS (SELECT source AS g, count(*) AS n FROM documents GROUP BY source),
    r AS (SELECT g, round(least(1.0, 15.0 / n), 6) AS rate FROM c),
    h AS (
      SELECT d.doc_id, d.source, r.rate,
             substr({_CAP_HASH.replace('source', 'd.source').replace('doc_id', 'd.doc_id')}, 1, 8) AS hx
      FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.g
    )
    SELECT doc_id, source FROM h
    WHERE {_duck_hex_num('hx', 1, 8)} < CAST(floor(rate * 4294967296.0) AS BIGINT)
    """,
)
def domain_cap_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, group_col="source", cap=15, mode="rate")


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle: shard + in-shard order as pure functions of
# (seed, epoch, key) — auditable batch order, zero-shuffle assignment.
# ---------------------------------------------------------------------------
@query(
    "epoch_shuffle_assign",
    f"""
    WITH h AS (
      SELECT doc_id, md5('|1|' || CAST(doc_id AS VARCHAR)) AS hx FROM documents
    )
    SELECT doc_id,
           CAST({_duck_hex_num('hx', 9, 4)} % 16 AS INT) AS shard,
           CAST({_duck_hex_num('hx', 1, 8)} AS BIGINT) AS sort_key
    FROM h
    """,
)
def epoch_shuffle_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import epoch_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, epoch=1, n_shards=16)


# ---------------------------------------------------------------------------
# Incremental dedup: label a NEW batch against the accumulated corpus
# (exact digest membership, then MinHash band membership) — the daily-ingest
# shape where re-pairing the whole corpus per batch would be quadratic.
# Planted rows: +7M exact copies of base docs, +8M one-token mutations.
# ---------------------------------------------------------------------------
def _mh_band_ctes(src: str, p: str) -> str:
    """Shingle -> minhash sig -> band CTEs for source CTE ``src``, names
    prefixed with ``p`` (mirrors the operator's n=5, 8 hashes, 2 rows/band,
    group cap 500)."""
    sh5 = ("ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]"
           " || ' ' || ts[i+4]")
    return f"""
    {p}tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM {src}),
    {p}sh AS (
      SELECT DISTINCT doc_id, {sh5} AS s
      FROM {p}tok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    {p}sig AS (
      SELECT doc_id,
        min(substr(md5('0|' || s), 1, 8))  AS mh0, min(substr(md5('0|' || s), 9, 8))  AS mh1,
        min(substr(md5('0|' || s), 17, 8)) AS mh2, min(substr(md5('0|' || s), 25, 8)) AS mh3,
        min(substr(md5('1|' || s), 1, 8))  AS mh4, min(substr(md5('1|' || s), 9, 8))  AS mh5,
        min(substr(md5('1|' || s), 17, 8)) AS mh6, min(substr(md5('1|' || s), 25, 8)) AS mh7
      FROM {p}sh GROUP BY doc_id
    ),
    {p}band AS (
      SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS key FROM {p}sig
      UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM {p}sig
      UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM {p}sig
      UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM {p}sig
    ),
    {p}cband AS (SELECT * FROM {p}band
                 QUALIFY count(*) OVER (PARTITION BY band, key) <= 500)"""


@query(
    "dedup_incremental",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
    newd AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 7000000, text FROM documents WHERE doc_id % 30 = 1
      UNION ALL
      SELECT doc_id + 8000000, text || ' zzinc' FROM documents WHERE doc_id % 40 = 2
    ),
    {_mh_band_ctes('base', 'b')},
    {_mh_band_ctes('newd', 'n')},
    bkeys AS (SELECT DISTINCT band, key FROM bcband),
    near AS (
      SELECT DISTINCT ncband.doc_id FROM ncband JOIN bkeys USING (band, key)
    ),
    bdig AS (SELECT DISTINCT md5(text) AS d FROM base),
    ex AS (
      SELECT DISTINCT n.doc_id FROM newd n JOIN bdig ON md5(n.text) = bdig.d
    )
    SELECT n.doc_id,
      CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
           WHEN nr.doc_id IS NOT NULL THEN 'dup_near'
           ELSE 'novel' END AS verdict
    FROM newd n LEFT JOIN ex e ON n.doc_id = e.doc_id
                LEFT JOIN near nr ON n.doc_id = nr.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_against_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    new = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .unionByName(
            docs.filter(F.col("doc_id") % 30 == 1).select(
                (F.col("doc_id") + 7000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 40 == 2).select(
                (F.col("doc_id") + 8000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzinc")).alias("text"),
            )
        )
    )
    return dedup_against_corpus(new, base, n=5)


# ---------------------------------------------------------------------------
# Two-phase corpus dedup: MinHash-LSH candidates -> exact Jaccard verify.
# The 100 TB composition the module docstring prescribes — generation is
# banded (linear), verification touches only candidate pairs.
# ---------------------------------------------------------------------------
@query(
    "dedup_lsh_verified",
    f"""
    WITH {_SHINGLE_SQL},
    sig AS (
      SELECT doc_id,
        min(substr(md5('0|' || s), 1, 8))  AS mh0, min(substr(md5('0|' || s), 9, 8))  AS mh1,
        min(substr(md5('0|' || s), 17, 8)) AS mh2, min(substr(md5('0|' || s), 25, 8)) AS mh3,
        min(substr(md5('1|' || s), 1, 8))  AS mh4, min(substr(md5('1|' || s), 9, 8))  AS mh5,
        min(substr(md5('1|' || s), 17, 8)) AS mh6, min(substr(md5('1|' || s), 25, 8)) AS mh7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS key FROM sig
      UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
    ),
    cbands AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, key) <= 500),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (sa.nsh + sb.nsh - COALESCE(i.i, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                / (sa.nsh + sb.nsh - COALESCE(i.i, 0)), 6) >= 0.5
    """,
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_verify_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _doc_minhash_pairs(spark, sf_dir)
    return jaccard_verify_pairs(
        docs, pairs, n=5, threshold=0.5,
        shingles=_doc_shingles(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Exact-size deterministic sample: global top-n by seeded key hash, executed
# as TakeOrderedAndProject (per-partition heaps, no full-sort shuffle).
# ---------------------------------------------------------------------------
@query(
    "corpus_sample_exact_n",
    """
    SELECT doc_id, source FROM documents
    ORDER BY md5('|' || CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 100
    """,
)
def corpus_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import sample_exact_n

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_exact_n(docs, 100)


# ---------------------------------------------------------------------------
# Quality-aware dedup apply: per cluster keep the LONGEST member (ties ->
# lowest id) instead of the min-id one — the representative policy a real
# training pipeline wants (keep the best copy, not an arbitrary one).
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
    ),
    labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    scored AS (
      SELECT l.node AS doc_id, l.cluster_id, length(d.text) AS q
      FROM labels l JOIN docs2 d ON d.doc_id = l.node
    ),
    rep AS (
      SELECT cluster_id, doc_id FROM (
        SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                 ORDER BY q DESC, doc_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM docs2 d
    WHERE d.doc_id NOT IN (SELECT node FROM labels)
       OR d.doc_id IN (SELECT doc_id FROM rep)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cluster import select_cluster_representatives

    corpus = _simhash_corpus(spark, sf_dir)
    _, labels = _simhash_shared(spark, sf_dir)
    scores = corpus.select(
        "doc_id", F.expr("char_length(text)").alias("q")
    )
    reps = select_cluster_representatives(labels, scores)
    drop = (
        labels.join(reps, "cluster_id")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti").select(
        "doc_id", F.expr("CAST(char_length(text) AS BIGINT)").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Concat-and-chunk training sequences: docs concatenated in epoch-shuffled
# shard order, split into fixed 256-token windows crossing doc boundaries.
# ---------------------------------------------------------------------------
@query(
    "concat_chunks_plan",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             md5('|0|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    o AS (
      SELECT doc_id, n,
        CAST({_duck_hex_num('hx', 9, 4)} % 16 AS INT) AS shard,
        CAST({_duck_hex_num('hx', 1, 8)} AS BIGINT) AS sort_key
      FROM t WHERE n > 0
    ),
    c AS (
      SELECT doc_id, n, shard,
        CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY sort_key, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
      FROM o
    )
    SELECT shard, CAST(k AS INT) AS chunk_no, doc_id,
      CAST(greatest(k * 256 - strt, 0) + 1 AS INT) AS tok_from,
      CAST(least((k + 1) * 256 - strt, n) AS INT) AS tok_to
    FROM c, unnest(generate_series(strt // 256, (strt + n - 1) // 256)) AS u(k)
    """,
)
def concat_chunks_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import concat_chunk_plan

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return concat_chunk_plan(docs, chunk_tokens=256, n_shards=16, epoch=0)


# ---------------------------------------------------------------------------
# Leakage-safe split: hash the near-dup CLUSTER, not the doc id — duplicate
# clusters never straddle train/test.
# ---------------------------------------------------------------------------
from .operators.sampling import _hex_cut  # noqa: E402


@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
    ),
    labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id,
      CASE WHEN substr(md5('|' || CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)
                < '{_hex_cut(0.9)}'
           THEN 'train' ELSE 'test' END AS split
    FROM docs2 d LEFT JOIN labels l ON d.doc_id = l.node
    """,
)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import leakage_safe_split

    corpus = _simhash_corpus(spark, sf_dir)
    _, labels = _simhash_shared(spark, sf_dir)
    return leakage_safe_split(
        corpus.select("doc_id"), labels,
        fractions={"train": 0.9, "test": 0.1},
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement: Efraimidis-Spirakis priorities from
# a hashed uniform — inclusion odds proportional to document length, exact
# sample size, reproducible by any engine.  Executes as TakeOrderedAndProject
# (per-partition heaps, no full-sort shuffle).
# ---------------------------------------------------------------------------
@query(
    "weighted_sample_priority",
    f"""
    WITH h AS (
      SELECT doc_id, n_chars, md5('|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    p AS (
      SELECT doc_id, n_chars,
             (CAST({_duck_hex_num('hx', 1, 8)} AS DOUBLE) + 1.0)
               / 4294967296.0 AS u
      FROM h
    )
    SELECT doc_id, n_chars,
           round(pow(u, 1.0 / CAST(n_chars AS DOUBLE)), 6) AS priority
    FROM p
    ORDER BY priority DESC, u DESC, doc_id
    LIMIT 100
    """,
)
def weighted_sample_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample_priority

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_priority(docs, 100, weight_col="n_chars")


# ---------------------------------------------------------------------------
# Domain-mixture planning: per-domain token availability vs target weights ->
# sampling rate / epoch count.  One tiny per-domain agg + a broadcast literal
# weights frame; the corpus never shuffles.
# ---------------------------------------------------------------------------
_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_BUDGET = 10000


@query(
    "mixture_plan",
    f"""
    WITH a AS (
      SELECT source,
             CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    w(source, wt) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())})
    SELECT a.source, a.n_tokens,
           CAST(round({_MIX_BUDGET} * w.wt, 2) AS DOUBLE) AS target_tokens,
           round(least(1.0, {_MIX_BUDGET} * w.wt / CAST(a.n_tokens AS DOUBLE)), 6) AS rate,
           CAST(ceil({_MIX_BUDGET} * w.wt / CAST(a.n_tokens AS DOUBLE)) AS INT) AS epochs
    FROM a JOIN w ON a.source = w.source
    """,
)
def mixture_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import mixture_plan

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return mixture_plan(docs, _MIX_WEIGHTS, _MIX_BUDGET)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: nearest-centroid clustering bounds the
# pairing (quadratic in CLUSTER size, never corpus size); cosine near-dups
# are found within clusters only.  Planted rows: +1M ids carrying a +0.005
# per-coordinate perturbation of every 100th vector (cos ~0.9992 — a
# "paraphrase", not a byte copy).
# ---------------------------------------------------------------------------
@query(
    "semantic_dedup",
    f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    v AS (
      SELECT * FROM base
      UNION ALL
      SELECT vec_id + 1000000, list_transform(e, x -> x + 0.005)
      FROM base WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id % 50 = 0),
    a AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, c.cid,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a='v.e', b='c.ce')} DESC, c.cid) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a1.vec_id AS ia, a2.vec_id AS ib
      FROM a a1 JOIN a a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
      WHERE {_COS.format(a='a1.e', b='a2.e')} >= 0.95
    ),
    edges AS (
      SELECT ia AS id, ib AS nb FROM pairs
      UNION ALL
      SELECT ib, ia FROM pairs
    )
    SELECT id AS vec_id, least(id, min(nb)) AS canonical_id,
           count(*) AS n_dups
    FROM edges GROUP BY id
    """,
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x + 0.005d)"
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return semantic_dedup(corpus, centroids, threshold=0.95)


# ---------------------------------------------------------------------------
# Ordered conversion funnel: users completing view -> click -> purchase in
# strict order.  One min-agg + equi-join per step on the user key — no
# window over, and no self-join of, the raw stream.
# ---------------------------------------------------------------------------
@query(
    "event_funnel",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS ft FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS ft
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.ft GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS ft
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.ft GROUP BY e.user_id
    )
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name, count(*) AS n_users FROM s1
    UNION ALL
    SELECT CAST(2 AS INT), 'click', count(*) FROM s2
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import funnel_stages

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


# ---------------------------------------------------------------------------
# Per-key trailing-window features: rolling sum/avg over the last 5 events
# per user.  Explicit ROWS frame with a total order + DECIMAL accumulation,
# so both engines produce identical bits; one hash shuffle on the user key.
# ---------------------------------------------------------------------------
@query(
    "rolling_event_stats",
    """
    SELECT event_id, user_id,
      CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
      round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
            / count(*) OVER w, 6) AS roll_avg,
      CAST(count(*) OVER w AS INT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import rolling_stats

    ev = _t(spark, sf_dir, "events")
    return rolling_stats(ev, window_rows=5).select(
        "event_id", "user_id", "roll_sum", "roll_avg", "roll_n"
    )


# ---------------------------------------------------------------------------
# Per-language quality floor: drop each language's shortest quartile.  Exact
# interpolated percentile per group, broadcast back; the corpus never
# shuffles.
# ---------------------------------------------------------------------------
@query(
    "quality_cutoff_per_lang",
    """
    WITH c AS (
      SELECT lang AS g, round(quantile_cont(n_chars, 0.25), 4) AS cutoff
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars, c.cutoff
    FROM documents d JOIN c ON d.lang IS NOT DISTINCT FROM c.g
    WHERE d.n_chars >= c.cutoff
    """,
)
def quality_cutoff_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import quality_cutoff_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quality_cutoff_filter(docs, group_col="lang", score_col="n_chars",
                                 pct=0.25)


# ---------------------------------------------------------------------------
# OLAP join-planning demonstrations (TPC-H-shaped; reference: the engine's
# SQL analytics surface).  Big-big joins shuffle on their keys; dimension
# tables broadcast explicitly so the 100 TB plan stays a pair of hash joins
# + map-side dimension probes.  Decimal accumulation keeps both engines
# bit-identical.
# ---------------------------------------------------------------------------
@query(
    "regional_revenue",
    """
    SELECT n.n_name AS nation,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, od, cu, na, re = _t(spark, sf_dir, "lineitem", "orders", "customer",
                            "nation", "region")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    # date filter BEFORE the join so the scan prunes; dims broadcast
    od_f = od.filter(
        (F.col("o_orderdate") >= ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
    ).select("o_orderkey", "o_custkey")
    asia = (
        na.join(F.broadcast(re.filter(F.col("r_name") == "ASIA")),
                na.n_regionkey == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    cust = cu.join(F.broadcast(asia), cu.c_nationkey == F.col("n_nationkey")) \
             .select("c_custkey", "n_name")
    return (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(od_f, li.l_orderkey == od_f.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "shipping_priority_topk",
    """
    SELECT l.l_orderkey,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, od, cu = _t(spark, sf_dir, "lineitem", "orders", "customer")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    seg = cu.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    od_f = od.filter(F.col("o_orderdate") < ts).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li_f = li.filter(F.col("l_shipdate") > ts).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li_f.join(od_f, li_f.l_orderkey == od_f.o_orderkey)
        .join(seg, F.col("o_custkey") == seg.c_custkey, "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double").alias("revenue"),
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# k-NN auto-labeling: exact cosine top-5 neighbors -> majority-vote label.
# The vote is two partial aggregations (count + min_by argmax), no window.
# ---------------------------------------------------------------------------
@query(
    "knn_classify_labels",
    f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % 100 = 0),
    topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               {_COS.format(a='q.e', b='v.e')} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a='q.e', b='v.e')} DESC, v.vec_id) AS rn
        FROM q JOIN v ON q.vec_id <> v.vec_id
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT t.query_id, v.label AS lab, count(*) AS c
      FROM topk t JOIN v ON t.neighbor_id = v.vec_id
      GROUP BY t.query_id, v.label
    ),
    best AS (
      SELECT query_id, lab, c,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, lab) AS rn,
             sum(c) OVER (PARTITION BY query_id) AS n
      FROM votes
    )
    SELECT query_id, lab AS pred_label, c AS votes,
           round(CAST(c AS DOUBLE) / n, 6) AS confidence
    FROM best WHERE rn = 1
    """,
)
def knn_classify_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    nbrs = cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), k=5)
    return knn_classify(nbrs, emb)


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier: the trained-model counterpart
# of the heuristic language_id — the fastText-classifier role in CCNet-style
# quality/language filtering.  Train on the 80% split (doc_id % 5 <> 0) with
# a top-500 capped vocabulary, broadcast-score the held-out 20%.  All
# per-type log values round to 6 decimals and accumulate as DECIMAL, so the
# posterior is an exact decimal sum; argmax tiebreak (post desc, lang asc)
# is a total order both engines reproduce.
# ---------------------------------------------------------------------------
@query(
    "nb_language_classify",
    """
    WITH tr AS (
      SELECT lang, string_split(text, ' ') AS ts
      FROM documents WHERE doc_id % 5 <> 0
    ),
    tw AS (SELECT lang, w FROM tr, unnest(ts) AS u(w) WHERE w <> ''),
    vc AS (SELECT w, count(*) AS c FROM tw GROUP BY w),
    vocab AS (SELECT w FROM vc ORDER BY c DESC, w ASC LIMIT 500),
    vn AS (SELECT count(*) AS v FROM vocab),
    cw AS (
      SELECT lang, tw.w, count(*) AS c
      FROM tw JOIN vocab ON tw.w = vocab.w GROUP BY lang, tw.w
    ),
    ct AS (SELECT lang, sum(c) AS class_tokens FROM cw GROUP BY lang),
    nd AS (SELECT lang, count(*) AS n_docs FROM tr GROUP BY lang),
    td AS (SELECT count(*) AS n FROM tr),
    cls AS (
      -- from nd LEFT JOIN ct: a vocab-empty class keeps its prior and
      -- gets the pure-Laplace model (engine parity, classify.nb_train)
      SELECT nd.lang, COALESCE(class_tokens, 0) AS class_tokens,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / n), 6)
                  AS DECIMAL(18,6)) AS log_prior,
             CAST(round(ln(1.0 / (COALESCE(class_tokens, 0) + v)), 6)
                  AS DECIMAL(18,6)) AS unk_loglik
      FROM nd LEFT JOIN ct ON ct.lang = nd.lang
      CROSS JOIN td CROSS JOIN vn
    ),
    dense AS (
      SELECT cls.lang, vocab.w,
             COALESCE(CAST(round(ln((cw.c + 1.0) / (cls.class_tokens + v)),
                                 6) AS DECIMAL(18,6)),
                      cls.unk_loglik) AS loglik
      FROM vocab CROSS JOIN cls CROSS JOIN vn
      LEFT JOIN cw ON cw.lang = cls.lang AND cw.w = vocab.w
    ),
    te AS (
      SELECT doc_id, lang AS true_lang, string_split(text, ' ') AS ts
      FROM documents WHERE doc_id % 5 = 0
    ),
    tt AS (
      SELECT doc_id, true_lang, w, count(*) AS tf
      FROM te, unnest(ts) AS u(w) WHERE w <> ''
      GROUP BY doc_id, true_lang, w
    ),
    sc AS (
      SELECT tt.doc_id, any_value(tt.true_lang) AS true_lang, d.lang,
             MIN(cls.log_prior) + SUM(tt.tf * d.loglik) AS post
      FROM tt JOIN dense d ON tt.w = d.w JOIN cls ON d.lang = cls.lang
      GROUP BY tt.doc_id, d.lang
    ),
    best AS (
      SELECT doc_id, true_lang, lang, post,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY post DESC, lang ASC) AS rn
      FROM sc
    )
    SELECT doc_id, true_lang, lang AS pred_lang,
           round(CAST(post AS DOUBLE), 6) AS log_posterior
    FROM best WHERE rn = 1
    """,
)
def nb_language_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed NB train + broadcast score (operators/classify.py).

    Training is two map-combined hash aggregations on (class, token) keys;
    the fitted model is O(vocab x classes) and broadcasts — train on
    100 TB, score at scan speed.  The held-out 20% is classified with a
    deterministic argmax; output is per-document (pred vs true label)."""
    from .operators.classify import nb_score, nb_train

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    dense, classes = nb_train(train, label_col="lang", max_vocab=500)
    return nb_score(test, dense, classes, keep_cols=("true_lang",)).select(
        "doc_id",
        "true_lang",
        F.col("pred_label").alias("pred_lang"),
        "log_posterior",
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval: the sparse counterpart of the embedding ANN
# family.  Index = one corpus explode -> postings + doc lengths; queries =
# five 3-term bags drawn deterministically from the top-15 corpus terms
# (count desc, term asc — a total order); per-(term, doc) contributions
# round to 6 decimals and accumulate as DECIMAL; top-10 per query with the
# (score desc, doc_id asc) tiebreak.  The index and query bags are shared
# per (session, sf_dir) with the hybrid-fusion row — built once by
# whichever runs first.
# ---------------------------------------------------------------------------


def _ensure_bm25_index(spark: SparkSession, sf_dir: str):
    """(BM25Index, query frame) for the retrieval family — one corpus
    tokenization per (session, sf_dir); the query frame is the five
    deterministic 3-term bags from the top-15 corpus terms."""
    from pyspark.sql import Window

    from .operators.retrieval import bm25_index

    def build():
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        idx = bm25_index(docs)  # materialized: ONE corpus tokenization
        tt = idx.postings.groupBy("term").agg(F.sum("tf").alias("c"))
        top = tt.orderBy(F.col("c").desc(), F.col("term").asc()).limit(15)
        wq = Window.orderBy(F.col("c").desc(), F.col("term").asc())
        q = (
            top.withColumn("rn", F.row_number().over(wq))
            .select(
                F.expr("cast((rn - 1) div 3 as bigint)").alias("query_id"),
                "term",
            )
            .localCheckpoint()
        )
        return idx, q

    return artifact(spark, sf_dir, "bm25", build)


@query(
    "bm25_topk_docs",
    """
    WITH toks AS (
      SELECT doc_id AS id, w AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    postings AS (SELECT term, id, count(*) AS tf FROM toks GROUP BY term, id),
    doclen AS (SELECT id, sum(tf) AS dl FROM postings GROUP BY id),
    nd AS (SELECT count(*) AS n FROM documents),
    avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
    tt AS (SELECT term, sum(tf) AS c FROM postings GROUP BY term),
    top AS (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
      FROM tt ORDER BY c DESC, term ASC LIMIT 15
    ),
    q AS (SELECT CAST((rn - 1) // 3 AS BIGINT) AS query_id, term FROM top),
    dfq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    hits AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                   6) AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term
      JOIN doclen d2 ON d2.id = p.id, nd, avg
    ),
    sc AS (SELECT query_id, id AS doc_id, sum(c) AS s
           FROM hits GROUP BY query_id, id),
    best AS (
      SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM sc
    )
    SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
           round(CAST(s AS DOUBLE), 6) AS score
    FROM best WHERE rank <= 10
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical search next to vector search (operators/retrieval.py):
    near-dup triage and contamination spot-checks ask "which documents
    contain these terms" with a relevance order.  The postings/doclen/df
    index is built in ONE corpus pass and checkpointed (at 100 TB it
    persists to storage — these frames ARE the index; df and avgdl are
    corpus statistics so they live here, amortized to zero per query);
    scoring touches only the query terms' postings via a broadcast join
    and never re-aggregates the corpus."""
    from .operators.retrieval import bm25_topk

    idx, q = _ensure_bm25_index(spark, sf_dir)
    return bm25_topk(idx, q, k=10)


@query(
    "hybrid_rrf_retrieval",
    """
    WITH toks AS (
      SELECT doc_id AS id, w AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    postings AS (SELECT term, id, count(*) AS tf FROM toks GROUP BY term, id),
    doclen AS (SELECT id, sum(tf) AS dl FROM postings GROUP BY id),
    nd AS (SELECT count(*) AS n FROM documents),
    avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
    ctot AS (SELECT CAST(sum(dl) AS DOUBLE) AS c_tot FROM doclen),
    tt AS (SELECT term, sum(tf) AS c FROM postings GROUP BY term),
    top AS (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
      FROM tt ORDER BY c DESC, term ASC LIMIT 15
    ),
    q AS (SELECT CAST((rn - 1) // 3 AS BIGINT) AS query_id, term FROM top),
    dfq AS (SELECT term, count(*) AS df, sum(tf) AS cf
            FROM postings GROUP BY term),
    -- branch 1: BM25 top-20 (identical math to bm25_topk_docs)
    bm_hits AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                   6) AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term
      JOIN doclen d2 ON d2.id = p.id, nd, avg
    ),
    bm_sc AS (SELECT query_id, id AS doc_id, sum(c) AS s
              FROM bm_hits GROUP BY query_id, id),
    bm_best AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM bm_sc
    ),
    -- branch 2: Dirichlet query-likelihood top-20 (rank-equivalent form:
    -- -|q| ln(dl+mu) + sum ln(1 + tf/(mu*cf/C)), mu = 100)
    nq AS (SELECT query_id, count(*) AS nq FROM q GROUP BY query_id),
    ql_contrib AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + p.tf / (100.0 * cf / c_tot)), 6)
             AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term, ctot
    ),
    ql_sc AS (
      SELECT s.query_id, s.doc_id,
             CAST(round(-nq.nq * ln(d.dl + 100.0), 6) AS DECIMAL(18,6))
             + s.cs AS s
      FROM (SELECT query_id, id AS doc_id, sum(c) AS cs
            FROM ql_contrib GROUP BY query_id, id) s
      JOIN doclen d ON d.id = s.doc_id
      JOIN nq ON nq.query_id = s.query_id
    ),
    ql_best AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM ql_sc
    ),
    -- reciprocal-rank fusion of the two top-20 lists, k_const = 60
    unioned AS (
      SELECT query_id, doc_id, rank FROM bm_best WHERE rank <= 20
      UNION ALL
      SELECT query_id, doc_id, rank FROM ql_best WHERE rank <= 20
    ),
    fused AS (
      SELECT query_id, doc_id,
             sum(CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6))) AS s
      FROM unioned GROUP BY query_id, doc_id
    ),
    fin AS (
      SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM fused
    )
    SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
           round(CAST(s AS DOUBLE), 6) AS rrf_score
    FROM fin WHERE rank <= 10
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 and Dirichlet query-likelihood rankings
    over the SAME shared index artifact, combined by reciprocal-rank
    fusion (score = sum 1/(60+rank) — scale-free, so heterogeneous
    retrievers fuse without calibration; the eval-set-mining /
    contamination-triage pattern).  Both branches reuse the
    per-(session, sf_dir) index and query bags built by whichever
    retrieval row ran first; each branch is query-term-pruned scoring
    (no corpus-wide work), and the fusion stage is rank-list-sized —
    2 x 20 rows per query regardless of corpus scale."""
    from .operators.retrieval import bm25_topk, lm_qlik_topk, rrf_fuse

    idx, q = _ensure_bm25_index(spark, sf_dir)
    bm = bm25_topk(idx, q, k=20)
    ql = lm_qlik_topk(idx, q, k=20, mu=100.0)
    return rrf_fuse([bm, ql], k=10, k_const=60)


@query(
    "bm25_incremental_index",
    """
    WITH toks AS (
      SELECT doc_id AS id, w AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    postings AS (SELECT term, id, count(*) AS tf FROM toks GROUP BY term, id),
    doclen AS (SELECT id, sum(tf) AS dl FROM postings GROUP BY id),
    nd AS (SELECT count(*) AS n FROM documents),
    avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
    tt AS (SELECT term, sum(tf) AS c FROM postings GROUP BY term),
    top AS (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
      FROM tt ORDER BY c DESC, term ASC LIMIT 15
    ),
    q AS (SELECT CAST((rn - 1) // 3 AS BIGINT) AS query_id, term FROM top),
    dfq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    hits AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                   6) AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term
      JOIN doclen d2 ON d2.id = p.id, nd, avg
    ),
    sc AS (SELECT query_id, id AS doc_id, sum(c) AS s
           FROM hits GROUP BY query_id, id),
    best AS (
      SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM sc
    )
    SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
           round(CAST(s AS DOUBLE), 6) AS score
    FROM best WHERE rank <= 10
    """,
)
def bm25_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, oracle-pinned lossless: the index
    builds over 80% of the corpus, the remaining 20% arrives as an
    append batch merged via ``bm25_index_merge`` (batch tokenization +
    vocab-sized term-stat merge — the OLD postings are never re-read,
    the zorder_append shape), and the standard five query bags score
    against the merged artifact.  The oracle is the FULL-corpus BM25 —
    identical answers prove the maintenance path changes when work
    happens, never what the index answers."""
    from pyspark.sql import Window

    from .operators.retrieval import bm25_index, bm25_index_merge, bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = bm25_index(docs.filter(F.col("doc_id") % 5 != 0))
    idx = bm25_index_merge(base, docs.filter(F.col("doc_id") % 5 == 0))
    tt = idx.postings.groupBy("term").agg(F.sum("tf").alias("c"))
    top = tt.orderBy(F.col("c").desc(), F.col("term").asc()).limit(15)
    wq = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    q = (
        top.withColumn("rn", F.row_number().over(wq))
        .select(
            F.expr("cast((rn - 1) div 3 as bigint)").alias("query_id"),
            "term",
        )
    )
    return bm25_topk(idx, q, k=10)


@query(
    "hybrid_dense_sparse",
    f"""
    WITH toks AS (
      SELECT doc_id AS id, w AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    postings AS (SELECT term, id, count(*) AS tf FROM toks GROUP BY term, id),
    doclen AS (SELECT id, sum(tf) AS dl FROM postings GROUP BY id),
    nd AS (SELECT count(*) AS n FROM documents),
    avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
    tt AS (SELECT term, sum(tf) AS c FROM postings GROUP BY term),
    top AS (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
      FROM tt ORDER BY c DESC, term ASC LIMIT 15
    ),
    q AS (SELECT CAST((rn - 1) // 3 AS BIGINT) AS query_id, term FROM top),
    dfq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    bm_hits AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                   6) AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term
      JOIN doclen d2 ON d2.id = p.id, nd, avg
    ),
    bm_sc AS (SELECT query_id, id AS doc_id, sum(c) AS s
              FROM bm_hits GROUP BY query_id, id),
    bm_best AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM bm_sc
    ),
    -- dense branch: exact cosine against query vectors 0..4 (the
    -- similarity_cosine_topk parity formula; self-matches excluded)
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    qv AS (SELECT * FROM v WHERE vec_id < 5),
    d_scored AS (
      SELECT qv.vec_id AS query_id, v.vec_id AS doc_id,
             {_COS.format(a='qv.e', b='v.e')} AS cosine
      FROM qv JOIN v ON qv.vec_id <> v.vec_id
    ),
    d_best AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, doc_id ASC) AS rank
      FROM d_scored
    ),
    unioned AS (
      SELECT query_id, doc_id, rank FROM bm_best WHERE rank <= 20
      UNION ALL
      SELECT query_id, doc_id, rank FROM d_best WHERE rank <= 20
    ),
    fused AS (
      SELECT query_id, doc_id,
             sum(CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6))) AS s
      FROM unioned GROUP BY query_id, doc_id
    ),
    fin AS (
      SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM fused
    )
    SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
           round(CAST(s AS DOUBLE), 6) AS rrf_score
    FROM fin WHERE rank <= 10
    """,
)
def hybrid_dense_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense + sparse hybrid search — the canonical vector+lexical
    retrieval everyone ships: the BM25 top-20 (shared index artifact)
    fuses with the exact-cosine top-20 for the matching query vectors
    (vec_id 0-4, the embeddings table aligning with doc ids) by
    reciprocal rank, so neither scorer needs calibration against the
    other.  At scale the dense branch swaps to any of the ANN rows
    (IVF / LSH / PQ — same (query, doc, rank) contract) without
    touching the fusion; the fusion stage itself is rank-list-sized."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_topk

    idx, q = _ensure_bm25_index(spark, sf_dir)
    bm = bm25_topk(idx, q, k=20)
    emb = _t(spark, sf_dir, "embeddings")
    dense = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=20).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rn").alias("rank"),
    )
    return rrf_fuse([bm, dense], k=10, k_const=60)


# ---------------------------------------------------------------------------
# Interpolated-bigram LM scoring: the perplexity-filter signal that catches
# word-order scrambles unigram scoring cannot.  Per-type log-probs round to
# 6 decimals then accumulate as DECIMAL — engine-identical bits.
# ---------------------------------------------------------------------------
@query(
    "bigram_logprob_score",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    p AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 2
    ),
    tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM p GROUP BY ALL),
    big AS (SELECT w1, w2, sum(tf) AS c2 FROM tf GROUP BY ALL),
    ctx AS (SELECT w1, sum(c2) AS c1 FROM big GROUP BY w1),
    uni AS (SELECT w2, sum(c2) AS cu FROM big GROUP BY w2),
    tot AS (SELECT sum(cu) AS n FROM uni),
    logp AS (
      SELECT b.w1, b.w2,
        CAST(round(ln(0.7 * (CAST(b.c2 AS DOUBLE) / c.c1)
                      + 0.3 * (CAST(u.cu AS DOUBLE) / tot.n)), 6)
             AS DECIMAL(18,6)) AS logp
      FROM big b JOIN ctx c ON b.w1 = c.w1
      JOIN uni u ON b.w2 = u.w2, tot
    )
    SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
           round(CAST(sum(tf.tf * l.logp) AS DOUBLE)
                 / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_bigram_logprob
    FROM tf JOIN logp l ON tf.w1 = l.w1 AND tf.w2 = l.w2
    GROUP BY tf.doc_id
    """,
)
def bigram_logprob_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import bigram_logprob_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # position-direct: the operator scores the per-position pair stream
    # (the per-doc TF aggregation's corpus shuffle is distributive-away)
    return bigram_logprob_score(docs, lam=0.7)


# ---------------------------------------------------------------------------
# Bounded-vocabulary bigram LM: tokens outside the top-V corpus vocabulary
# map to <unk> before counting, so the (w1, w2) type table is bounded by
# (V+1)^2 at any corpus size — the fix for the one near-linear state table
# in the unbounded variant.  Vocabulary tie-break (count desc, token asc) is
# a total order both engines reproduce.
# ---------------------------------------------------------------------------
@query(
    "bigram_logprob_vocab",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    vc AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(ts) AS w FROM t) GROUP BY w
    ),
    vocab AS (SELECT w FROM vc ORDER BY c DESC, w ASC LIMIT 200),
    p AS (
      SELECT doc_id,
             CASE WHEN ts[i] IN (SELECT w FROM vocab)
                  THEN ts[i] ELSE '<unk>' END AS w1,
             CASE WHEN ts[i+1] IN (SELECT w FROM vocab)
                  THEN ts[i+1] ELSE '<unk>' END AS w2
      FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 2
    ),
    tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM p GROUP BY ALL),
    big AS (SELECT w1, w2, sum(tf) AS c2 FROM tf GROUP BY ALL),
    ctx AS (SELECT w1, sum(c2) AS c1 FROM big GROUP BY w1),
    uni AS (SELECT w2, sum(c2) AS cu FROM big GROUP BY w2),
    tot AS (SELECT sum(cu) AS n FROM uni),
    logp AS (
      SELECT b.w1, b.w2,
        CAST(round(ln(0.7 * (CAST(b.c2 AS DOUBLE) / c.c1)
                      + 0.3 * (CAST(u.cu AS DOUBLE) / tot.n)), 6)
             AS DECIMAL(18,6)) AS logp
      FROM big b JOIN ctx c ON b.w1 = c.w1
      JOIN uni u ON b.w2 = u.w2, tot
    )
    SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
           round(CAST(sum(tf.tf * l.logp) AS DOUBLE)
                 / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_bigram_logprob
    FROM tf JOIN logp l ON tf.w1 = l.w1 AND tf.w2 = l.w2
    GROUP BY tf.doc_id
    """,
)
def bigram_logprob_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import bigram_logprob_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob_score(docs, lam=0.7, vocab_size=200)


# ---------------------------------------------------------------------------
# Collocation PMI over adjacent token pairs (linear in corpus length, never
# windowed-quadratic); marginals computed from the pair table, N broadcast.
# ---------------------------------------------------------------------------
@query(
    "collocation_pmi",
    """
    WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
    p AS (
      SELECT ts[i] AS w1, ts[i+1] AS w2
      FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 2
    ),
    big AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY ALL),
    ctx AS (SELECT w1, sum(n_pair) AS c1 FROM big GROUP BY w1),
    uni AS (SELECT w2, sum(n_pair) AS cu FROM big GROUP BY w2),
    tot AS (SELECT sum(cu) AS n FROM uni)
    SELECT b.w1, b.w2, CAST(b.n_pair AS BIGINT) AS n_pair,
           round(ln(CAST(tot.n AS DOUBLE) * b.n_pair
                    / (CAST(c.c1 AS DOUBLE) * u.cu)), 6) AS pmi
    FROM big b JOIN ctx c ON b.w1 = c.w1
    JOIN uni u ON b.w2 = u.w2, tot
    WHERE b.n_pair >= 5
    """,
)
def collocation_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import collocation_pmi

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the operator's own position-direct branch: one map-side-combined
    # pair-count aggregation, no per-doc TF table in between
    return collocation_pmi(docs, min_count=5)


# ---------------------------------------------------------------------------
# Dedup audit: near-dup cluster size histogram (how much of the corpus is
# small-multiplicity vs boilerplate mega-clusters) — two narrow-key aggs
# over the connected-components labels.
# ---------------------------------------------------------------------------
@query(
    "dedup_cluster_sizes",
    f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
    ),
    labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM labels GROUP BY cluster_id)
    SELECT cluster_size, count(*) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cluster import cluster_size_stats

    _, labels = _simhash_shared(spark, sf_dir)
    return cluster_size_stats(labels)


# ---------------------------------------------------------------------------
# Unified decontamination gate: token-level n-gram collisions AND verbatim
# character spans in one per-doc verdict (the two detectors catch different
# leak shapes).  Same planted rows as the individual queries.
# ---------------------------------------------------------------------------
@query(
    "contamination_report",
    """
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 40 = 0
    ),
    ev AS (SELECT doc_id AS eid, text FROM documents WHERE doc_id % 20 = 0),
    ttok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM train),
    tsh AS (
      SELECT DISTINCT doc_id,
             md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) AS k
      FROM ttok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    etok AS (SELECT eid, string_split(text, ' ') AS ts FROM ev),
    esh AS (
      SELECT DISTINCT md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) AS k
      FROM etok, unnest(generate_series(1, len(ts)-4)) AS u(i)
    ),
    ng AS (
      SELECT t.doc_id,
        count(DISTINCT CASE WHEN e.k IS NOT NULL THEN t.k END) AS n_shared_ngrams,
        round(CAST(count(DISTINCT CASE WHEN e.k IS NOT NULL THEN t.k END) AS DOUBLE)
              / count(DISTINCT t.k), 6) AS ngram_ratio
      FROM tsh t LEFT JOIN esh e USING (k)
      GROUP BY t.doc_id
      HAVING count(DISTINCT CASE WHEN e.k IS NOT NULL THEN t.k END) >= 1
    ),
    tg AS (
      SELECT doc_id, md5(substr(text, p, 60)) AS span_hash
      FROM train, unnest(generate_series(1, greatest(0, length(text) - 59))) AS u(p)
      WHERE substr(md5(substr(text, p, 8)), 1, 1) = '0'
    ),
    eg AS (
      SELECT DISTINCT md5(substr(text, p, 60)) AS span_hash
      FROM ev, unnest(generate_series(1, greatest(0, length(text) - 59))) AS u(p)
      WHERE substr(md5(substr(text, p, 8)), 1, 1) = '0'
    ),
    sp AS (
      SELECT tg.doc_id,
             CAST(count(DISTINCT tg.span_hash) AS BIGINT) AS n_shared_spans
      FROM tg JOIN eg USING (span_hash)
      GROUP BY tg.doc_id
    )
    SELECT COALESCE(ng.doc_id, sp.doc_id) AS doc_id,
           CAST(COALESCE(ng.n_shared_ngrams, 0) AS BIGINT) AS n_shared_ngrams,
           COALESCE(ng.ngram_ratio, 0.0) AS ngram_ratio,
           CAST(COALESCE(sp.n_shared_spans, 0) AS BIGINT) AS n_shared_spans,
           CASE WHEN ng.doc_id IS NOT NULL AND sp.doc_id IS NOT NULL THEN 'both'
                WHEN ng.doc_id IS NOT NULL THEN 'ngram_only'
                ELSE 'span_only' END AS verdict
    FROM ng FULL OUTER JOIN sp ON ng.doc_id = sp.doc_id
    """,
)
def contamination_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import contamination_report

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 20 != 0).unionByName(
        docs.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    return contamination_report(train, ev, n=5, span_chars=60,
                                anchor_chars=8)


# ---------------------------------------------------------------------------
# Embedding-space decontamination (operators/decontam.py): flag training
# vectors whose cosine to any eval vector reaches the threshold — the
# semantic companion to the n-gram/span detectors (catches paraphrased
# benchmark leaks that share no verbatim n-gram).  Eval set broadcasts;
# the training side never shuffles.  The 0.3 threshold is the ~p99 of
# the synthetic embeddings' cosine mass — realistic corpora use ~0.8+.
# ---------------------------------------------------------------------------
@query(
    "decontaminate_semantic",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    ev AS (SELECT vec_id AS eval_id, e AS ee FROM v
           WHERE vec_id % 10 = 0 AND list_dot_product(e, e) > 0),
    tr AS (SELECT vec_id, e FROM v
           WHERE vec_id % 10 <> 0 AND list_dot_product(e, e) > 0),
    sc AS (
      SELECT tr.vec_id, ev.eval_id,
             {cos} AS cosine
      FROM tr CROSS JOIN ev
    )
    SELECT vec_id, eval_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY cosine DESC, eval_id ASC) AS rn
      FROM sc WHERE cosine >= 0.3
    ) WHERE rn = 1
    """.format(cos=_COS.format(a="tr.e", b="ev.ee")),
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import semantic_contamination

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    train = emb.filter(F.col("vec_id") % 10 != 0)
    return semantic_contamination(train, ev, threshold=0.3)


# ---------------------------------------------------------------------------
# Quantized-index search end-to-end: int8 round-trip reconstruction feeding
# cosine top-k — the recall-vs-storage trade measured in-plan (the pytest
# suite pins recall vs the float baseline).
# ---------------------------------------------------------------------------
@query(
    "similarity_int8_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sc AS (
      SELECT vec_id, e,
             list_max(list_transform(e, y -> abs(y))) / 127.0 AS s
      FROM v
    ),
    rec AS (
      SELECT vec_id, list_transform(e, x -> floor(x / s + 0.5) * s) AS e
      FROM sc WHERE s > 0
    ),
    q AS (SELECT * FROM rec WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
             {_COS.format(a='q.e', b='r.e')} AS cosine
      FROM q JOIN rec r ON q.vec_id <> r.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import reconstruct_embeddings

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rec = reconstruct_embeddings(emb)
    return cosine_topk(rec, rec.filter(F.col("vec_id") % 100 == 0), k=5)


# ---------------------------------------------------------------------------
# Streaming stateful funnel e2e: events -> availableNow stream ->
# applyInPandasWithState funnel tracker -> parquet at quiescence.  Input is
# a single file (one microbatch), so the streaming greedy matcher must
# agree exactly with the batch funnel oracle.
# ---------------------------------------------------------------------------
@query(
    "streaming_event_funnel",
    """
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events
      WHERE user_id % 20 = 0 AND event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (SELECT user_id, min(ts) AS ft FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS ft FROM ev e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.ft GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS ft FROM ev e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.ft GROUP BY e.user_id)
    SELECT user_id, CAST(1 AS INT) AS stage, 'view' AS step_name, ft AS ts FROM s1
    UNION ALL
    SELECT user_id, CAST(2 AS INT), 'click', ft FROM s2
    UNION ALL
    SELECT user_id, CAST(3 AS INT), 'purchase', ft FROM s3
    """,
)
def streaming_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.stateful import stateful_funnel

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 20 == 0)
        & F.col("event_type").isin("view", "click", "purchase")
    )
    src_dir = tempfile.mkdtemp(prefix="cdis-funnel-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-funnel-out-")
    ckpt = tempfile.mkdtemp(prefix="cdis-funnel-ckpt-")
    # ONE file -> one microbatch: in-batch time-sorted greedy matching is
    # then exactly the batch funnel semantics the oracle states
    # ts rides as a STRING cast: to_json's timestamp format truncates to
    # milliseconds, a plain cast keeps full microseconds
    ev.select(
        F.to_json(F.struct(
            "user_id", F.col("ts").cast("string").alias("ts"), "event_type"
        )).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src_dir)

    stream = file_envelope_stream(spark, src_dir).select(
        F.get_json_object("val", "$.user_id").cast("bigint").alias("user_id"),
        F.get_json_object("val", "$.ts").cast("timestamp_ntz").alias("ts"),
        F.get_json_object("val", "$.event_type").alias("event_type"),
    )
    q = (
        stateful_funnel(stream, ["view", "click", "purchase"])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _record_stream_plan("streaming_event_funnel", q)
    return spark.read.parquet(out_dir).select(
        "user_id", "stage", "step_name",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )


# ---------------------------------------------------------------------------
# Stream-stream event-time interval join (streaming/joins.py, previously
# pytest-only): attribute each purchase to the views by the same user in
# the preceding 6 hours — the Flink interval-join shape on two
# watermarked streams, half-open bound lt < rt <= lt + upper.  One file
# -> one microbatch, so quiescence output equals the batch interval join
# the oracle states (inner stream-stream matches emit as they arrive;
# the end-of-stream watermark advance evicts state, never emitted rows).
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Streaming watermark dedup (reference T4, streaming/sources.py
# watermark_dedup — pytest-only until round 9): duplicate records within
# the watermark horizon collapse by key with BOUNDED state.  The source
# plants 3 copies of every 7th event; copies are byte-identical, so the
# quiescence result is exactly DISTINCT-by-key and the oracle is the
# plain deduplicated projection.
# ---------------------------------------------------------------------------
@query(
    "streaming_dedup_events",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events WHERE user_id % 5 = 0
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.sources import watermark_dedup

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    dup = ev.filter(F.col("event_id") % 7 == 0)
    feed = ev.unionByName(dup).unionByName(dup)  # 3 copies of every 7th
    src_dir = tempfile.mkdtemp(prefix="cdis-sdd-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-sdd-out-")
    ckpt = tempfile.mkdtemp(prefix="cdis-sdd-ckpt-")
    feed.select(
        F.to_json(F.struct(
            "event_id", "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type", "value",
        )).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src_dir)

    stream = file_envelope_stream(spark, src_dir).select(
        F.get_json_object("val", "$.event_id").cast("bigint")
        .alias("event_id"),
        F.get_json_object("val", "$.user_id").cast("bigint")
        .alias("user_id"),
        F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
        F.get_json_object("val", "$.event_type").alias("event_type"),
        F.get_json_object("val", "$.value").cast("double").alias("value"),
    )
    shp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # see interval join
    try:
        q = (
            watermark_dedup(stream, ["event_id"], "ts", "10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _record_stream_plan("streaming_dedup_events", q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shp)
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "streaming_interval_join",
    """
    SELECT v.user_id,
           v.event_id AS view_event, CAST(v.value AS DOUBLE) AS view_value,
           v.ts AS view_ts,
           b.event_id AS buy_event, CAST(b.value AS DOUBLE) AS buy_value,
           b.ts AS buy_ts
    FROM events v JOIN events b
      ON v.user_id = b.user_id
     AND b.ts > v.ts AND b.ts <= v.ts + INTERVAL 360 MINUTE
    WHERE v.user_id % 4 = 0 AND b.user_id % 4 = 0
      AND v.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.joins import stream_interval_join

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 4 == 0)
        & F.col("event_type").isin("view", "purchase")
    )
    src_dir = tempfile.mkdtemp(prefix="cdis-ivj-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-ivj-out-")
    ckpt = tempfile.mkdtemp(prefix="cdis-ivj-ckpt-")
    ev.select(
        F.to_json(F.struct(
            "event_id", "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type", "value",
        )).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src_dir)

    def side(tp: str) -> DataFrame:
        return file_envelope_stream(spark, src_dir).select(
            F.get_json_object("val", "$.event_id").cast("bigint")
            .alias("event_id"),
            F.get_json_object("val", "$.user_id").cast("bigint")
            .alias("user_id"),
            # watermark event time must be TIMESTAMP (LTZ); the session
            # timezone is UTC so the NTZ wall clock round-trips exactly
            F.get_json_object("val", "$.ts").cast("timestamp")
            .alias("ts"),
            F.get_json_object("val", "$.event_type").alias("event_type"),
            F.get_json_object("val", "$.value").cast("double")
            .alias("value"),
        ).filter(F.col("event_type") == tp).drop("event_type")

    joined = stream_interval_join(
        side("view"), side("purchase"),
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="ts",
        lower_seconds=0, upper_seconds=6 * 3600,
        watermark="10 minutes",
    )
    # SIZE THE STATE PARTITIONING TO THE STREAM: a stream-stream join
    # opens 4 state stores per shuffle partition and commits each every
    # microbatch — at 32 partitions that is 128 store commits to join a
    # few-MB stream (~7 s of pure state-machinery overhead measured at
    # sf0.1).  The count is pinned into the checkpoint at first start, so
    # it is a per-stream knob, not a session setting: on a real cluster
    # you size it to stream volume exactly the same way.
    shp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _record_stream_plan("streaming_interval_join", q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shp)
    return spark.read.parquet(out_dir).select(
        "user_id",
        F.col("event_id").alias("view_event"),
        F.col("value").alias("view_value"),
        F.col("ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("event_id_r").alias("buy_event"),
        F.col("value_r").alias("buy_value"),
        F.col("ts_r").cast("timestamp_ntz").alias("buy_ts"),
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join — Flink's outer interval-join
# semantics: an unmatched view emits with NULL purchase columns once the
# GLOBAL watermark (min over the two streams, advanced only by event
# time) passes view_ts + 6h.  The oracle encodes the quiescence
# contract exactly: matched pairs are the batch interval join; a
# NULL row appears iff its deadline fell strictly before the final
# watermark, least(max view ts, max purchase ts) - the 10-minute
# lateness bound — views whose deadline the watermark never passed are
# HELD in state (not lost, not emitted), and the oracle's cutoff
# predicate reproduces that boundary.
# ---------------------------------------------------------------------------
@query(
    "streaming_interval_join_outer",
    """
    WITH ev AS (
      SELECT event_id, user_id, ts, event_type, value FROM events
      WHERE user_id % 4 = 0 AND event_type IN ('view', 'purchase')
    ),
    v AS (SELECT user_id, event_id, value, ts FROM ev
          WHERE event_type = 'view'),
    b AS (SELECT user_id, event_id, value, ts FROM ev
          WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM b))
                  - INTERVAL 600 SECOND AS w)
    SELECT user_id, view_event, view_value, view_ts,
           buy_event, buy_value, buy_ts
    FROM (
      SELECT v.user_id, v.event_id AS view_event,
             CAST(v.value AS DOUBLE) AS view_value, v.ts AS view_ts,
             b.event_id AS buy_event, CAST(b.value AS DOUBLE) AS buy_value,
             b.ts AS buy_ts
      FROM v LEFT JOIN b
        ON v.user_id = b.user_id
       AND b.ts > v.ts AND b.ts <= v.ts + INTERVAL 21600 SECOND
    )
    WHERE buy_event IS NOT NULL
       OR view_ts + INTERVAL 21600 SECOND < (SELECT w FROM wm)
    """,
)
def streaming_interval_join_outer_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-gated outer emission, driver-checked: the streaming
    left-outer interval join's quiescence output equals the batch LEFT
    interval join RESTRICTED to views whose null-emission deadline the
    final watermark passed — the restriction is the semantics, not a
    test artifact, and the oracle states it as a plain cutoff
    predicate.  Same state bound as the inner row: per-key rows inside
    the 6h window, evicted by watermark."""
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.joins import stream_interval_join

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 4 == 0)
        & F.col("event_type").isin("view", "purchase")
    )
    src_dir = tempfile.mkdtemp(prefix="cdis-ivjo-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-ivjo-out-")
    ckpt = tempfile.mkdtemp(prefix="cdis-ivjo-ckpt-")
    ev.select(
        F.to_json(F.struct(
            "event_id", "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type", "value",
        )).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src_dir)

    def side(tp: str) -> DataFrame:
        return file_envelope_stream(spark, src_dir).select(
            F.get_json_object("val", "$.event_id").cast("bigint")
            .alias("event_id"),
            F.get_json_object("val", "$.user_id").cast("bigint")
            .alias("user_id"),
            F.get_json_object("val", "$.ts").cast("timestamp")
            .alias("ts"),
            F.get_json_object("val", "$.event_type").alias("event_type"),
            F.get_json_object("val", "$.value").cast("double")
            .alias("value"),
        ).filter(F.col("event_type") == tp).drop("event_type")

    joined = stream_interval_join(
        side("view"), side("purchase"),
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="ts",
        lower_seconds=0, upper_seconds=6 * 3600,
        watermark="10 minutes",
        how="left_outer",
    )
    shp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _record_stream_plan("streaming_interval_join_outer", q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shp)
    return spark.read.parquet(out_dir).select(
        "user_id",
        F.col("event_id").alias("view_event"),
        F.col("value").alias("view_value"),
        F.col("ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("event_id_r").alias("buy_event"),
        F.col("value_r").alias("buy_value"),
        F.col("ts_r").cast("timestamp_ntz").alias("buy_ts"),
    )


# ---------------------------------------------------------------------------
# Stream-stream FULL OUTER interval join — both outer contracts at once,
# each gated by the GLOBAL watermark: an unmatched view emits NULLs once
# the watermark passes view_ts + upper (strict, same as the left-outer
# row); an unmatched purchase emits NULLs once the watermark reaches
# buy_ts - lower (NON-strict: a purchase at exactly the final watermark
# flushes — the newest view that could match it has ts < buy_ts, already
# sealed off; pinned by a boundary sentinel in tests).  Rows on either
# side whose deadline the final watermark never passed stay HELD.
# ---------------------------------------------------------------------------
@query(
    "streaming_interval_join_full",
    """
    WITH ev AS (
      SELECT event_id, user_id, ts, event_type, value FROM events
      WHERE user_id % 4 = 1 AND event_type IN ('view', 'purchase')
    ),
    v AS (SELECT user_id, event_id, value, ts FROM ev
          WHERE event_type = 'view'),
    b AS (SELECT user_id, event_id, value, ts FROM ev
          WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM b))
                  - INTERVAL 600 SECOND AS w)
    SELECT user_id, view_event, view_value, view_ts,
           buy_event, buy_value, buy_ts
    FROM (
      SELECT coalesce(v.user_id, b.user_id) AS user_id,
             v.event_id AS view_event,
             CAST(v.value AS DOUBLE) AS view_value, v.ts AS view_ts,
             b.event_id AS buy_event, CAST(b.value AS DOUBLE) AS buy_value,
             b.ts AS buy_ts
      FROM v FULL JOIN b
        ON v.user_id = b.user_id
       AND b.ts > v.ts AND b.ts <= v.ts + INTERVAL 21600 SECOND
    )
    WHERE (view_event IS NOT NULL AND buy_event IS NOT NULL)
       OR (buy_event IS NULL
           AND view_ts + INTERVAL 21600 SECOND < (SELECT w FROM wm))
       OR (view_event IS NULL AND buy_ts <= (SELECT w FROM wm))
    """,
)
def streaming_interval_join_full_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-gated null emission on BOTH sides, driver-checked: the
    streaming full-outer interval join's quiescence output equals the
    batch FULL interval join restricted by each side's final-watermark
    cutoff — views strictly (deadline view_ts + 6h must fall BEFORE the
    final watermark), purchases non-strictly (deadline buy_ts - 0s: a
    purchase AT the watermark flushes because every view that could
    still match it is already sealed off).  Completes the r12 verdict's
    outer-side contract: right_outer/full_outer are first-class ``how``
    values now, not a documented input swap.  Same state bound as the
    inner and left-outer rows: per-key rows inside the 6h window,
    evicted by watermark."""
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.joins import stream_interval_join

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 4 == 1)
        & F.col("event_type").isin("view", "purchase")
    )
    src_dir = tempfile.mkdtemp(prefix="cdis-ivjf-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-ivjf-out-")
    ckpt = tempfile.mkdtemp(prefix="cdis-ivjf-ckpt-")
    ev.select(
        F.to_json(F.struct(
            "event_id", "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type", "value",
        )).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src_dir)

    def side(tp: str) -> DataFrame:
        return file_envelope_stream(spark, src_dir).select(
            F.get_json_object("val", "$.event_id").cast("bigint")
            .alias("event_id"),
            F.get_json_object("val", "$.user_id").cast("bigint")
            .alias("user_id"),
            F.get_json_object("val", "$.ts").cast("timestamp")
            .alias("ts"),
            F.get_json_object("val", "$.event_type").alias("event_type"),
            F.get_json_object("val", "$.value").cast("double")
            .alias("value"),
        ).filter(F.col("event_type") == tp).drop("event_type")

    joined = stream_interval_join(
        side("view"), side("purchase"),
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="ts",
        lower_seconds=0, upper_seconds=6 * 3600,
        watermark="10 minutes",
        how="full_outer",
    )
    shp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _record_stream_plan("streaming_interval_join_full", q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shp)
    return spark.read.parquet(out_dir).select(
        F.coalesce(F.col("user_id"), F.col("user_id_r")).alias("user_id"),
        F.col("event_id").alias("view_event"),
        F.col("value").alias("view_value"),
        F.col("ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("event_id_r").alias("buy_event"),
        F.col("value_r").alias("buy_value"),
        F.col("ts_r").cast("timestamp_ntz").alias("buy_ts"),
    )


# ---------------------------------------------------------------------------
# Part/supplier profit rollup (Q9-shaped): completes coverage of all ten
# driver tables.  lineitem x part is the big join (shuffle on partkey);
# supplier + nation broadcast.
# ---------------------------------------------------------------------------
@query(
    "brand_nation_revenue",
    """
    SELECT p.p_brand, n.n_name AS supp_nation,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand, n.n_name
    """,
)
def brand_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, pa, su, na = _t(spark, sf_dir, "lineitem", "part", "supplier",
                        "nation")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    # size filter BEFORE the join (pushed to the part scan); the supplier
    # dim pre-joins its nation name so one broadcast probe serves both
    pa_f = pa.filter(F.col("p_size") <= 20).select("p_partkey", "p_brand")
    sn = su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    return (
        li.select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(pa_f, li.l_partkey == pa_f.p_partkey)
        .join(F.broadcast(sn), F.col("l_suppkey") == sn.s_suppkey)
        .groupBy("p_brand", "supp_nation")
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Per-language winsorization: clamp document lengths into the [p05, p95]
# band per language (outlier-robust, keeps every row).  Same broadcast-back
# shape as the percentile cutoff.
# ---------------------------------------------------------------------------
@query(
    "winsorize_doc_lengths",
    """
    WITH c AS (
      SELECT lang AS g,
             round(quantile_cont(n_chars, 0.05), 4) AS lo,
             round(quantile_cont(n_chars, 0.95), 4) AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           CASE WHEN d.n_chars IS NULL THEN NULL ELSE least(greatest(CAST(d.n_chars AS DOUBLE), c.lo), c.hi) END AS n_chars_w,
           c.lo, c.hi
    FROM documents d JOIN c ON d.lang IS NOT DISTINCT FROM c.g
    """,
)
def winsorize_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import winsorize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return winsorize(docs, group_col="lang", value_col="n_chars",
                     lower_pct=0.05, upper_pct=0.95)


# ---------------------------------------------------------------------------
# Normalized exact dedup: hash-groupBy AFTER canonical normalization —
# catches case/whitespace/punctuation re-encodes of the same document that
# byte-exact dedup misses, at exact-dedup cost (no pairing join at all).
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_normalized",
    """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS tn
      FROM documents
    )
    SELECT md5(tn) AS text_hash, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM n GROUP BY md5(tn)
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup
    from .operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_dedup(
        normalize_text(docs, strip_punct=True), text_col="text_norm"
    )


# ---------------------------------------------------------------------------
# Packing audit: per-stream fill report from the pack_sequences plan —
# token totals, window counts, tail fill-rate, and stream balance, before
# any writer materializes the packs.
# ---------------------------------------------------------------------------
@query(
    "packing_fill_report",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             md5('|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    s AS (
      SELECT doc_id, n,
             CAST({_duck_hex_num('hx', 1, 2)} % 16 AS INT) AS stream
      FROM t
    )
    SELECT stream, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(ceil(sum(n) / 512.0) AS BIGINT) AS n_windows,
           round(sum(n) / (ceil(sum(n) / 512.0) * 512.0), 6) AS fill_rate
    FROM s GROUP BY stream
    """,
)
def packing_fill_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_sequences(docs, budget=512, n_streams=16)
    return (
        packed.groupBy("stream")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("CAST(max(pack_id + n_seqs - 1) + 1 AS BIGINT)")
            .alias("n_windows"),
            F.expr(
                "round(CAST(sum(n_tokens) AS DOUBLE) "
                "/ ((max(pack_id + n_seqs - 1) + 1) * 512.0d), 6)"
            ).alias("fill_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k documents per domain by quality score (longest-k here): bounded
# group counts -> the window form; for web-host skew use cap_per_group's
# rate mode instead (documented there).
# ---------------------------------------------------------------------------
@query(
    "top_docs_per_source",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 3
    """,
)
def top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = _W.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Chunk-level boilerplate ratio (C4-style paragraph-hash dedup on fixed
# token windows): planted rows = every 25th doc re-appears under +2M ids
# with a unique suffix token, making its leading chunks shared boilerplate.
# ---------------------------------------------------------------------------
@query(
    "chunk_boilerplate_ratio",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text || ' uniq' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 25 = 0
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
    c AS (
      SELECT doc_id,
             md5(array_to_string(ts[i*20+1 : i*20+20], ' ')) AS h
      FROM t, unnest(generate_series(0,
             CAST(ceil(greatest(0, len(ts) - 20) / 20.0) AS INT))) AS u(i)
    ),
    m AS (
      SELECT h FROM c GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.doc_id, count(*) AS n_chunks, count(m.h) AS n_boiler,
           round(CAST(count(m.h) AS DOUBLE) / count(*), 6) AS boiler_ratio
    FROM c LEFT JOIN m ON c.h = m.h
    GROUP BY c.doc_id
    """,
)
def chunk_boilerplate_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import chunk_boilerplate_ratio

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("text || ' uniq' || CAST(doc_id AS STRING)").alias("text"),
    )
    return chunk_boilerplate_ratio(
        docs.unionByName(planted), chunk_tokens=20, min_docs=2
    )


# ---------------------------------------------------------------------------
# Boilerplate REMOVAL (the apply side): drop every cross-document chunk
# and reassemble each document in original order — C4/CCNet "repeated
# lines" cleanup.  Same planted-duplicate corpus as the ratio query, so
# planted docs lose their shared leading chunks but keep the unique tail.
# ---------------------------------------------------------------------------
@query(
    "scrub_boilerplate_docs",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text || ' uniq' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 25 = 0
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
    c AS (
      SELECT doc_id, i,
             array_to_string(ts[i*20+1 : i*20+20], ' ') AS txt,
             md5(array_to_string(ts[i*20+1 : i*20+20], ' ')) AS h
      FROM t, unnest(generate_series(0,
             CAST(ceil(greatest(0, len(ts) - 20) / 20.0) AS INT))) AS u(i)
    ),
    m AS (
      SELECT h FROM c GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.doc_id,
           coalesce(string_agg(CASE WHEN m.h IS NULL THEN c.txt END, ' '
                               ORDER BY c.i), '') AS text_clean,
           count(*) AS n_chunks,
           count(m.h) AS n_dropped
    FROM c LEFT JOIN m ON c.h = m.h
    GROUP BY c.doc_id
    """,
)
def scrub_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import scrub_boilerplate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("text || ' uniq' || CAST(doc_id AS STRING)").alias("text"),
    )
    return scrub_boilerplate(
        docs.unionByName(planted), chunk_tokens=20, min_docs=2
    )


# ---------------------------------------------------------------------------
# Feature-hashing embeddings: model-free text vectors (per-row folds, zero
# shuffle) that feed the embedding operator family directly.
# ---------------------------------------------------------------------------
@query(
    "hash_embed_vectors",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(COALESCE(text, ''), ' '))) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST({_duck_hex_num('hx', 1, 4)} % 16 AS INT) AS d,
             1 - 2 * CAST({_duck_hex_num('hx', 5, 1)} % 2 AS INT) AS s
      FROM (SELECT doc_id, md5(t) AS hx FROM tok)
    ),
    agg AS (SELECT doc_id, d, sum(s) AS v FROM h GROUP BY doc_id, d),
    dims AS (SELECT unnest(generate_series(0, 15)) AS d),
    full_grid AS (
      SELECT dd.doc_id, dims.d, CAST(COALESCE(agg.v, 0) AS DOUBLE) AS v
      FROM (SELECT DISTINCT doc_id FROM documents) dd
      CROSS JOIN dims
      LEFT JOIN agg ON agg.doc_id = dd.doc_id AND agg.d = dims.d
    )
    SELECT doc_id, CAST(d AS INT) AS dim, v AS value
    FROM full_grid
    """,
)
def hash_embed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The hash_embed operator API returns array<double> vectors; the registry
    # query explodes to (doc_id, dim, value) rows so the driver's row-hash
    # (which cannot digest Python lists) has a hashable, order-free shape.
    # The explode's child is a LITERAL index sequence, not the embedding
    # array: posexplode(embedding) lets InferFiltersFromGenerate clone the
    # whole O(dim*tokens) fold into a pre-explode filter below the
    # parallelism repartition (the exploded_shingles pathology) — observed
    # 2.6 s of the query's 4 s re-running the fold single-core.
    from .operators.text import hash_embed

    dim = 16  # one constant feeds BOTH the embed call and the explode
    # range, so the two cannot drift apart if the width ever changes
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = hash_embed(docs, dim=dim).select("doc_id", "embedding")
    return vecs.select(
        "doc_id", "embedding",
        F.explode(F.expr(f"sequence(0, {dim - 1})")).alias("dim"),
    ).select(
        "doc_id", "dim",
        F.expr("element_at(embedding, dim + 1)").alias("value"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2 history from the event changelog: one row per (user, tracked-
# attribute version) with half-open validity intervals — the reference's
# latest-by-key snapshot (A1) extended to full history (see
# operators/evolve.py).
# ---------------------------------------------------------------------------
@query(
    "scd2_user_history",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    v AS (SELECT * FROM s WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type, ts AS effective_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS effective_to,
           (LEAD(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id)) IS NULL AS is_current
    FROM v
    """,
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evolve import scd2_from_changelog

    ev = _t(spark, sf_dir, "events")
    return scd2_from_changelog(
        ev, ["user_id"], "ts", ["event_type"], tie_breakers=["event_id"]
    )


# ---------------------------------------------------------------------------
# Keyed snapshot diff: yesterday's landed orders table vs today's, with a
# simulated upstream update (open orders repriced) and hard-delete slice —
# the drift audit a changelog materialization runs after every batch.
# ---------------------------------------------------------------------------
@query(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O'
                  THEN round(o_totalprice, 2) + 1000.00
                  ELSE round(o_totalprice, 2) END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        AND o_orderkey % 1000 <> 7
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'changed' ELSE 'unchanged' END AS diff_status,
           o.o_orderstatus AS o_orderstatus_old,
           o.o_totalprice AS o_totalprice_old,
           n.o_orderstatus AS o_orderstatus_new,
           n.o_totalprice AS o_totalprice_new
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                 OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
               THEN 'changed' ELSE 'unchanged' END <> 'unchanged'
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evolve import table_diff

    od = _t(spark, sf_dir, "orders")
    p2 = F.round(F.col("o_totalprice"), 2)
    old = od.filter(
        F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz")
    ).select("o_orderkey", "o_orderstatus", p2.alias("o_totalprice"))
    new = (
        od.filter(
            (F.col("o_orderdate")
             < F.lit("1998-07-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderkey") % 1000 != 7)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("o_orderstatus") == "O", p2 + F.lit(1000.00))
            .otherwise(p2).alias("o_totalprice"),
        )
    )
    return table_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


# ---------------------------------------------------------------------------
# One-pass column profile of the documents table (exact distinct counts;
# the approx=True HLL path is the 100 TB variant, pytest-covered).
# ---------------------------------------------------------------------------
@query(
    "profile_documents",
    """
    WITH n AS (SELECT count(*) AS n_rows FROM documents)
    SELECT 'doc_id' AS column, n.n_rows,
           (SELECT count(*) - count(doc_id) FROM documents) AS n_nulls,
           (SELECT count(DISTINCT doc_id) FROM documents) AS n_distinct,
           (SELECT CAST(min(doc_id) AS VARCHAR) FROM documents) AS min_value,
           (SELECT CAST(max(doc_id) AS VARCHAR) FROM documents) AS max_value
    FROM n
    UNION ALL
    SELECT 'text', n.n_rows,
           (SELECT count(*) - count(text) FROM documents),
           (SELECT count(DISTINCT text) FROM documents),
           (SELECT min(text) FROM documents),
           (SELECT max(text) FROM documents)
    FROM n
    UNION ALL
    SELECT 'lang', n.n_rows,
           (SELECT count(*) - count(lang) FROM documents),
           (SELECT count(DISTINCT lang) FROM documents),
           (SELECT min(lang) FROM documents),
           (SELECT max(lang) FROM documents)
    FROM n
    UNION ALL
    SELECT 'source', n.n_rows,
           (SELECT count(*) - count(source) FROM documents),
           (SELECT count(DISTINCT source) FROM documents),
           (SELECT min(source) FROM documents),
           (SELECT max(source) FROM documents)
    FROM n
    UNION ALL
    SELECT 'n_chars', n.n_rows,
           (SELECT count(*) - count(n_chars) FROM documents),
           (SELECT count(DISTINCT n_chars) FROM documents),
           (SELECT CAST(min(n_chars) AS VARCHAR) FROM documents),
           (SELECT CAST(max(n_chars) AS VARCHAR) FROM documents)
    FROM n
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evolve import profile_columns

    return profile_columns(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Weekly cohort retention triangle over the event stream.
# ---------------------------------------------------------------------------
@query(
    "retention_cohorts_weekly",
    """
    WITH c AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
    g AS (
      SELECT c.cohort_week,
             CAST(date_diff('day', c.cohort_week, a.wk) // 7 AS INT)
               AS week_offset,
             count(*) AS n_users
      FROM a JOIN c ON a.user_id = c.user_id
      GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, n_users,
           round(CAST(n_users AS DOUBLE)
                 / max(CASE WHEN week_offset = 0 THEN n_users END)
                   OVER (PARTITION BY cohort_week), 6) AS retention_rate
    FROM g
    """,
)
def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Per-user z-score anomaly flags over event values (population sigma from
# exact DECIMAL moments — engine-identical bits; see operators/temporal.py).
# ---------------------------------------------------------------------------
@query(
    "event_anomaly_zscore",
    """
    WITH s AS (
      SELECT *,
        count(*) OVER (PARTITION BY user_id) AS n,
        sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id) AS s1,
        sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
          OVER (PARTITION BY user_id) AS s2
      FROM events
    ),
    z AS (
      SELECT event_id, ts, user_id, event_type, value, props,
        CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS var,
        round((value - CAST(s1 AS DOUBLE) / n)
              / sqrt(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)),
              6) AS zscore
      FROM s
    )
    SELECT event_id, ts, user_id, event_type, value, props, zscore
    FROM z WHERE var > 0 AND abs(zscore) > 2.0
    """,
)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import anomaly_zscore

    return anomaly_zscore(_t(spark, sf_dir, "events"), threshold=2.0)


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
# ---------------------------------------------------------------------------
@query(
    "returned_item_topk",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           round(c.c_acctbal, 2) AS acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, round(c.c_acctbal, 2), n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def returned_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, od, cu, na = _t(spark, sf_dir, "lineitem", "orders", "customer",
                        "nation")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    od_f = od.filter(
        (F.col("o_orderdate") >= ts("1996-10-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
    ).select("o_orderkey", "o_custkey")
    li_f = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = cu.join(
        F.broadcast(na.select("n_nationkey", "n_name")),
        cu.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"),
             F.col("n_name").alias("nation"))
    return (
        li_f.join(od_f, li_f.l_orderkey == od_f.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "acctbal", "nation")
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double").alias("revenue"),
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "nation")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: order-priority counts for orders with >=1 returned line
# (EXISTS -> left-semi join; the dates prune the orders scan first).
# ---------------------------------------------------------------------------
@query(
    "order_priority_semijoin",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, od = _t(spark, sf_dir, "lineitem", "orders")
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    od_f = od.filter(
        (F.col("o_orderdate") >= ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1997-04-01 00:00:00"))
    ).select("o_orderkey", "o_orderpriority")
    ret = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        od_f.join(ret, od_f.o_orderkey == ret.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: ship-latency buckets x order-priority class counts
# (the testdata lineitem has no shipmode/commitdate; latency buckets over
# l_shipdate - o_orderdate carry the same CASE-aggregation shape).
# ---------------------------------------------------------------------------
@query(
    "ship_latency_distribution",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                THEN 'normal' ELSE 'slow' END AS latency_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def ship_latency_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, od = _t(spark, sf_dir, "lineitem", "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lat <= 30, "fast").when(lat <= 90, "normal").otherwise("slow")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(od.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("latency_bucket"))
        .agg(
            F.sum(hi.cast("bigint")).alias("high_line_count"),
            F.sum((~hi).cast("bigint")).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher rule vector (Rae et al. 2021 A1.1) — per-rule booleans + verdict.
# ---------------------------------------------------------------------------
@query(
    "gopher_quality_gate",
    """
    WITH f AS (
      SELECT doc_id,
        len(string_split(text, ' ')) AS nw,
        round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')), 6) AS mwl,
        round(CAST(length(text) - length(replace(text, '#', ''))
                   + (length(text) - length(replace(text, '...', ''))) / 3
              AS DOUBLE) / len(string_split(text, ' ')), 6) AS symr,
        round(CAST(len(list_filter(string_split(text, ' '),
                                   x -> regexp_matches(x, '[a-zA-Z]')))
              AS DOUBLE) / len(string_split(text, ' ')), 6) AS alphaf,
        len(list_distinct(list_filter(string_split(text, ' '),
          x -> x IN ('the','a','of','and','to','in','is','it','for','on',
                     'with')))) AS swh
      FROM documents
    )
    SELECT doc_id,
           nw BETWEEN 5 AND 200 AS rule_word_count,
           mwl BETWEEN 2.0 AND 12.0 AS rule_mean_word_len,
           symr <= 0.1 AS rule_symbol_ratio,
           alphaf >= 0.8 AS rule_alpha_words,
           swh >= 2 AS rule_stopword_hits,
           (nw BETWEEN 5 AND 200) AND (mwl BETWEEN 2.0 AND 12.0)
             AND symr <= 0.1 AND alphaf >= 0.8 AND swh >= 2 AS gopher_pass
    FROM f
    """,
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import gopher_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_rules(docs).drop("text")


# ---------------------------------------------------------------------------
# Incremental SCD2: build history on the first half-month, apply the second
# half as a batch — the oracle is the FULL-history rebuild, so a green row
# proves incremental == rebuild (operators/evolve.py scd2_apply_batch).
# ---------------------------------------------------------------------------
@query(
    "scd2_incremental_apply",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    v AS (SELECT * FROM s WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type, ts AS effective_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS effective_to,
           (LEAD(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id)) IS NULL AS is_current
    FROM v
    """,
)
def scd2_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evolve import scd2_apply_batch, scd2_from_changelog

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    history = scd2_from_changelog(
        ev.filter(F.col("ts") <= cut), ["user_id"], "ts", ["event_type"],
        tie_breakers=["event_id"],
    )
    return scd2_apply_batch(
        history, ev.filter(F.col("ts") > cut),
        ["user_id"], "ts", ["event_type"],
    )


# ---------------------------------------------------------------------------
# SCD2 as-of enrichment: each purchase gets the user's non-purchase state
# (SCD2 dimension) valid at purchase time — composes scd2_from_changelog
# with the union+window as-of join; the oracle uses DuckDB's native ASOF.
# ---------------------------------------------------------------------------
@query(
    "scd2_asof_enrich",
    """
    WITH d0 AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type <> 'purchase'
    ),
    dim AS (SELECT user_id, ts, event_type
            FROM d0 WHERE prev IS NULL OR event_type <> prev),
    f AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts, f.value, d.event_type AS asof_state
    FROM f ASOF LEFT JOIN dim d
      ON f.user_id = d.user_id AND f.ts >= d.ts
    """,
)
def scd2_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evolve import scd2_from_changelog
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_changelog(
        ev.filter(F.col("event_type") != "purchase"),
        ["user_id"], "ts", ["event_type"], tie_breakers=["event_id"],
    ).select("user_id", "effective_from", F.col("event_type").alias("state"))
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        facts, dim,
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="effective_from",
        value_cols=["state"], tie_col="state", prefix="asof_",
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (Jegou et al. 2011): per-subspace codebooks
# (deterministic init + one Lloyd iteration), M-code encoding, and
# asymmetric-distance top-k via a broadcast lookup table.  The l2^2 is
# three dot products in the SAME fold order on both engines.
# ---------------------------------------------------------------------------
_L2 = ("round(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
       " + list_dot_product({b}, {b}), 6)")


# A real PQ deployment trains the codebooks and encodes the corpus ONCE,
# then serves many queries from the artifact — the three PQ rows share a
# per-(session, sf_dir) index artifact, like the BPE model: whichever
# row runs first pays the training/encode cost; the others read the
# checkpointed artifacts (books: m x n_centroids rows; codes: one short
# row per vector; coarse: bucket assignments for IVF).
def _pq_shared_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return artifact(
        spark, sf_dir, "pq", lambda: _build_pq_index(spark, sf_dir)
    )


def _build_pq_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    from .operators.similarity import pq_encode, pq_train_codebooks

    emb = _t(spark, sf_dir, "embeddings")

    # the fine chain (books -> codes) and the coarse chain
    # (coarse_books -> coarse_assign) are independent job DAGs: build
    # them from two driver threads so the second chain's tasks backfill
    # the first's stragglers (guide §2.6 — the advisor row's pattern)
    def _fine() -> tuple[DataFrame, DataFrame]:
        init = emb.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        # lazy checkpoints: both frames are consumed by the builder
        # row's own query action, which computes and pins them in ONE
        # job instead of two standalone checkpoint jobs first (the
        # coarse chain stays eager so its build cost is also charged
        # to the builder row, not to the first coarse consumer)
        books = pq_train_codebooks(
            emb, init, dim=64, m=4, refine_iters=1
        ).localCheckpoint(eager=False)
        codes = pq_encode(emb, books, dim=64, m=4).localCheckpoint(
            eager=False
        )
        return books, codes

    def _coarse() -> tuple[DataFrame, DataFrame]:
        coarse_init = emb.filter(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        coarse_books = pq_train_codebooks(
            emb, coarse_init, dim=64, m=1, refine_iters=0
        ).localCheckpoint()
        coarse_assign = pq_encode(emb, coarse_books, dim=64, m=1).select(
            "vec_id", F.col("code").alias("bucket")
        ).localCheckpoint()
        return coarse_books, coarse_assign

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fine_f = pool.submit(_fine)
        coarse_books, coarse_assign = _coarse()
        books, codes = fine_f.result()
    return {
        "books": books, "codes": codes,
        "coarse_books": coarse_books, "coarse_assign": coarse_assign,
    }


@query(
    "similarity_pq_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sub AS (
      SELECT vec_id, s AS m_idx, e[s*16+1 : s*16+16] AS sv
      FROM v, unnest([0, 1, 2, 3]) AS u(s)
    ),
    c0 AS (SELECT m_idx, vec_id AS cid, sv AS ce FROM sub WHERE vec_id % 50 = 0),
    a1 AS (
      SELECT vec_id, m_idx, cid FROM (
        SELECT sub.vec_id, sub.m_idx, c0.cid,
          ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m_idx
            ORDER BY {_L2.format(a='sub.sv', b='c0.ce')} ASC, c0.cid ASC) AS rn
        FROM sub JOIN c0 ON sub.m_idx = c0.m_idx
      ) WHERE rn = 1
    ),
    mns AS (
      SELECT a1.m_idx, a1.cid, i AS pos, round(avg(sub.sv[i]), 6) AS mv
      FROM a1 JOIN sub ON a1.vec_id = sub.vec_id AND a1.m_idx = sub.m_idx,
           unnest(generate_series(1, 16)) AS u(i)
      GROUP BY a1.m_idx, a1.cid, i
    ),
    c1 AS (SELECT m_idx, cid, list(mv ORDER BY pos) AS ce
           FROM mns GROUP BY m_idx, cid),
    codes AS (
      SELECT vec_id, m_idx, cid AS code FROM (
        SELECT sub.vec_id, sub.m_idx, c1.cid,
          ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m_idx
            ORDER BY {_L2.format(a='sub.sv', b='c1.ce')} ASC, c1.cid ASC) AS rn
        FROM sub JOIN c1 ON sub.m_idx = c1.m_idx
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT sub.vec_id AS query_id, sub.m_idx, c1.cid AS code,
             CAST({_L2.format(a='sub.sv', b='c1.ce')} AS DECIMAL(18,6)) AS d2
      FROM sub JOIN c1 ON sub.m_idx = c1.m_idx
      WHERE sub.vec_id % 100 = 0
    ),
    sc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.d2) AS dist
      FROM codes c JOIN lut l ON c.m_idx = l.m_idx AND c.code = l.code
      WHERE l.query_id <> c.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS approx_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS rn
      FROM sc
    ) WHERE rn <= 5
    """,
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    ix = _pq_shared_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(ix["codes"], q, ix["books"], dim=64, m=4, k=5)


# ---------------------------------------------------------------------------
# Two-stage PQ + exact rerank — the production billion-scale search: ADC
# proposes 50 candidates from codes, exact L2 rescored on just those.
# ---------------------------------------------------------------------------
@query(
    "similarity_pq_rerank",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sub AS (
      SELECT vec_id, s AS m_idx, e[s*16+1 : s*16+16] AS sv
      FROM v, unnest([0, 1, 2, 3]) AS u(s)
    ),
    c0 AS (SELECT m_idx, vec_id AS cid, sv AS ce FROM sub WHERE vec_id % 50 = 0),
    a1 AS (
      SELECT vec_id, m_idx, cid FROM (
        SELECT sub.vec_id, sub.m_idx, c0.cid,
          ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m_idx
            ORDER BY {_L2.format(a='sub.sv', b='c0.ce')} ASC, c0.cid ASC) AS rn
        FROM sub JOIN c0 ON sub.m_idx = c0.m_idx
      ) WHERE rn = 1
    ),
    mns AS (
      SELECT a1.m_idx, a1.cid, i AS pos, round(avg(sub.sv[i]), 6) AS mv
      FROM a1 JOIN sub ON a1.vec_id = sub.vec_id AND a1.m_idx = sub.m_idx,
           unnest(generate_series(1, 16)) AS u(i)
      GROUP BY a1.m_idx, a1.cid, i
    ),
    c1 AS (SELECT m_idx, cid, list(mv ORDER BY pos) AS ce
           FROM mns GROUP BY m_idx, cid),
    codes AS (
      SELECT vec_id, m_idx, cid AS code FROM (
        SELECT sub.vec_id, sub.m_idx, c1.cid,
          ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m_idx
            ORDER BY {_L2.format(a='sub.sv', b='c1.ce')} ASC, c1.cid ASC) AS rn
        FROM sub JOIN c1 ON sub.m_idx = c1.m_idx
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT sub.vec_id AS query_id, sub.m_idx, c1.cid AS code,
             CAST({_L2.format(a='sub.sv', b='c1.ce')} AS DECIMAL(18,6)) AS d2
      FROM sub JOIN c1 ON sub.m_idx = c1.m_idx
      WHERE sub.vec_id % 100 = 0
    ),
    sc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.d2) AS dist
      FROM codes c JOIN lut l ON c.m_idx = l.m_idx AND c.code = l.code
      WHERE l.query_id <> c.vec_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dist ASC, neighbor_id ASC) AS rn
        FROM sc
      ) WHERE rn <= 50
    ),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_L2.format(a='q.e', b='n.e')} AS dist
      FROM cand
      JOIN v q ON cand.query_id = q.vec_id
      JOIN v n ON cand.neighbor_id = n.vec_id
    )
    SELECT query_id, neighbor_id, dist, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rn
      FROM rer
    ) WHERE rn <= 5
    """,
)
def similarity_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import pq_rerank_topk

    emb = _t(spark, sf_dir, "embeddings")
    ix = _pq_shared_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_rerank_topk(
        ix["codes"], q, emb, ix["books"], dim=64, m=4, k=5, rerank=50
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse bucket pruning (a 1-subspace PQ) over the fine code
# index — each query ADC-scans only its nprobe nearest buckets.
# ---------------------------------------------------------------------------
@query(
    "similarity_ivfpq_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sub AS (
      SELECT vec_id, s AS m_idx, e[s*16+1 : s*16+16] AS sv
      FROM v, unnest([0, 1, 2, 3]) AS u(s)
    ),
    c0 AS (SELECT m_idx, vec_id AS cid, sv AS ce FROM sub WHERE vec_id % 50 = 0),
    a1 AS (
      SELECT vec_id, m_idx, cid FROM (
        SELECT sub.vec_id, sub.m_idx, c0.cid,
          ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m_idx
            ORDER BY {_L2.format(a='sub.sv', b='c0.ce')} ASC, c0.cid ASC) AS rn
        FROM sub JOIN c0 ON sub.m_idx = c0.m_idx
      ) WHERE rn = 1
    ),
    mns AS (
      SELECT a1.m_idx, a1.cid, i AS pos, round(avg(sub.sv[i]), 6) AS mv
      FROM a1 JOIN sub ON a1.vec_id = sub.vec_id AND a1.m_idx = sub.m_idx,
           unnest(generate_series(1, 16)) AS u(i)
      GROUP BY a1.m_idx, a1.cid, i
    ),
    c1 AS (SELECT m_idx, cid, list(mv ORDER BY pos) AS ce
           FROM mns GROUP BY m_idx, cid),
    codes AS (
      SELECT vec_id, m_idx, cid AS code FROM (
        SELECT sub.vec_id, sub.m_idx, c1.cid,
          ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m_idx
            ORDER BY {_L2.format(a='sub.sv', b='c1.ce')} ASC, c1.cid ASC) AS rn
        FROM sub JOIN c1 ON sub.m_idx = c1.m_idx
      ) WHERE rn = 1
    ),
    cb AS (SELECT vec_id AS bucket, e AS ce FROM v WHERE vec_id % 25 = 0),
    cassign AS (
      SELECT vec_id, bucket FROM (
        SELECT v.vec_id, cb.bucket,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_L2.format(a='v.e', b='cb.ce')} ASC, cb.bucket ASC) AS rn
        FROM v CROSS JOIN cb
      ) WHERE rn = 1
    ),
    qb AS (
      SELECT query_id, bucket FROM (
        SELECT v.vec_id AS query_id, cb.bucket,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_L2.format(a='v.e', b='cb.ce')} ASC, cb.bucket ASC) AS rn
        FROM v CROSS JOIN cb WHERE v.vec_id % 100 = 0
      ) WHERE rn <= 2
    ),
    lut AS (
      SELECT sub.vec_id AS query_id, sub.m_idx, c1.cid AS code,
             CAST({_L2.format(a='sub.sv', b='c1.ce')} AS DECIMAL(18,6)) AS d2
      FROM sub JOIN c1 ON sub.m_idx = c1.m_idx
      WHERE sub.vec_id % 100 = 0
    ),
    sc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.d2) AS dist
      FROM codes c
      JOIN cassign ca ON c.vec_id = ca.vec_id
      JOIN qb ON ca.bucket = qb.bucket
      JOIN lut l ON c.m_idx = l.m_idx AND c.code = l.code
                AND l.query_id = qb.query_id
      WHERE qb.query_id <> c.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS approx_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS rn
      FROM sc
    ) WHERE rn <= 5
    """,
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    ix = _pq_shared_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return ivfpq_topk(
        ix["codes"], ix["coarse_assign"], q, ix["books"],
        ix["coarse_books"], dim=64, m=4, k=5, nprobe=2,
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (Sennrich 2016).  The iterative
# argmax-merge loop IS SQL-expressible when unrolled: each of the 8
# iterations is a (pair-count, total-order argmax, greedy merge) CTE
# triple, with the greedy left-to-right non-overlapping merge written
# positionally — adjacent match positions only occur when left == right,
# and within each maximal run of consecutive matches the greedy fold
# merges at run offsets 0, 2, 4, ... (row_number-within-run odd).  The
# same unrolled SQL trains AND segments, so both entries carry a full
# value-hash oracle; the merge sequence is additionally pinned against a
# pure-Python reference in tests/test_bpe.py.
# ---------------------------------------------------------------------------
_BPE_N_MERGES = 8


def _bpe_merge_step_sql(k: int) -> str:
    """One unrolled BPE iteration: p{k} pair counts over w{k-1}, b{k} the
    (count desc, left asc, right asc) argmax, w{k} the vocabulary after
    applying that merge greedily (see section comment for why the
    positional run-parity form equals the sequential carry fold)."""
    return f"""
    p{k} AS (
      SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM (
        SELECT cnt, syms[i] AS a, syms[i+1] AS b FROM (
          SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM w{k - 1}
        )
      ) GROUP BY a, b
    ),
    b{k} AS (
      SELECT CAST({k} AS INT) AS rnk, a, b, a || b AS m, pc
      FROM p{k} ORDER BY pc DESC, a ASC, b ASC LIMIT 1
    ),
    w{k} AS (
      SELECT w, cnt, list(CASE WHEN mstart THEN m ELSE s END ORDER BY i) AS syms
      FROM (
        SELECT *, coalesce(lag(mstart) OVER (PARTITION BY w ORDER BY i),
                           FALSE) AS consumed
        FROM (
          SELECT *, CASE WHEN mt THEN
              (row_number() OVER (PARTITION BY w, grp ORDER BY i)) % 2 = 1
            ELSE FALSE END AS mstart
          FROM (
            SELECT *, CASE WHEN mt THEN
                i - row_number() OVER (PARTITION BY w, mt ORDER BY i)
              ELSE CAST(-1 AS BIGINT) END AS grp
            FROM (
              SELECT w, cnt, i, syms[i] AS s, bb.m AS m,
                     (i < len(syms) AND syms[i] = bb.a
                      AND syms[i+1] = bb.b) AS mt
              FROM (SELECT w, cnt, syms,
                           unnest(range(1, len(syms) + 1)) AS i
                    FROM w{k - 1})
              CROSS JOIN b{k} bb
            )
          )
        )
      )
      WHERE NOT consumed
      GROUP BY w, cnt
    )"""


def _bpe_train_ctes() -> str:
    steps = ",".join(
        _bpe_merge_step_sql(k) for k in range(1, _BPE_N_MERGES + 1)
    )
    return f"""
    w0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt, string_split(w, '') AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % 8 = 0)
      WHERE w <> '' GROUP BY w
    ),{steps}"""


def _bpe_merges_oracle() -> str:
    union = " UNION ALL ".join(
        f"SELECT rnk, a, b, m, pc FROM b{k}"
        for k in range(1, _BPE_N_MERGES + 1)
    )
    return f"""
    WITH {_bpe_train_ctes()}
    SELECT rnk AS rank, a AS "left", b AS "right", m AS merged,
           pc AS pair_count
    FROM ({union})
    """


def _bpe_segment_oracle() -> str:
    # w{N}'s syms column IS the final segmentation of each distinct word
    # (training corpus == segmentation corpus here); flatten per document
    # in (word position, token position) order with a 0-based pos.
    n = _BPE_N_MERGES
    return f"""
    WITH {_bpe_train_ctes()},
    dw AS (
      SELECT doc_id, wi, ws[wi] AS w FROM (
        SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS wi
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE doc_id % 8 = 0)
      )
    ),
    dt AS (
      SELECT dw.doc_id, dw.wi, unnest(range(1, len(wn.syms) + 1)) AS ti,
             wn.syms AS syms
      FROM dw JOIN w{n} wn ON dw.w = wn.w
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY wi, ti) - 1 AS INT) AS pos,
           syms[ti] AS token
    FROM dt
    """


def _bpe_shared_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the registry's BPE model once per (session, sf_dir) and share
    the checkpointed 8-row merges frame between the two BPE entries —
    segmentation must not re-run the training loop (the model is an
    artifact, trained once, applied many times)."""
    from .operators.tokenize import bpe_train_merges

    return artifact(
        spark, sf_dir, "bpe",
        lambda: bpe_train_merges(
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 8 == 0)
            .select("text"),
            n_merges=_BPE_N_MERGES,
        ),
    )


@query("bpe_train_merges", _bpe_merges_oracle())
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_shared_merges(spark, sf_dir)


@query("bpe_segment_tokens", _bpe_segment_oracle())
def bpe_segment_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tokenize import bpe_segment
    from .session import ensure_min_parallelism

    # the 1/8 slice compiles to ONE scan partition at test scale, and
    # the 8-rule fold chain is the CPU cost — fan out first (no-op at
    # scale, where the scan already has a partition per slot)
    docs = ensure_min_parallelism(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 8 == 0)
    )
    merges = _bpe_shared_merges(spark, sf_dir)
    # registry rows must be hashable scalars: flatten the per-word token
    # arrays and posexplode to (doc_id, pos, token) — the operator API in
    # operators/tokenize.py keeps the array form
    return bpe_segment(docs.select("doc_id", "text"), merges).select(
        "doc_id", F.posexplode(F.flatten("tokens")).alias("pos", "token")
    )


# ---------------------------------------------------------------------------
# Curriculum staging by exact score quantiles (broadcast cutpoints, no
# global window) — easy-to-hard corpus ordering for curriculum training.
# ---------------------------------------------------------------------------
@query(
    "curriculum_stages",
    """
    WITH c AS (
      SELECT round(quantile_cont(n_chars, 0.25), 6) AS c0,
             round(quantile_cont(n_chars, 0.5), 6)  AS c1,
             round(quantile_cont(n_chars, 0.75), 6) AS c2
      FROM documents
    )
    SELECT d.doc_id, d.n_chars,
           CAST(CASE WHEN d.n_chars <= c.c0 THEN 1
                     WHEN d.n_chars <= c.c1 THEN 2
                     WHEN d.n_chars <= c.c2 THEN 3
                     WHEN d.n_chars IS NOT NULL THEN 4
                     ELSE NULL END AS INT) AS stage
    FROM documents d, c
    """,
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import curriculum_plan

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curriculum_plan(docs, "n_chars")


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key over (custkey, totalprice) — the
# multi-dimensional data-skipping layout; the oracle re-derives the bit
# interleave with DuckDB shift operators.
# ---------------------------------------------------------------------------
def _zorder_oracle(bits: int = 8) -> str:
    qs = []
    for c in ("o_custkey", "o_totalprice"):
        qs.append(
            f"CAST(least({(1 << bits) - 1}, floor(coalesce("
            f"(CAST({c} AS DOUBLE) - mn_{c}) / nullif(mx_{c} - mn_{c}, 0),"
            f" 0) * {1 << bits})) AS BIGINT)"
        )
    parts = []
    for b in range(bits):
        for i, q in enumerate(qs):
            parts.append(f"((({q} >> {b}) & 1) << {b * 2 + i})")
    key = " + ".join(parts)
    return f"""
    WITH bounds AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS mn_o_custkey,
             CAST(max(o_custkey) AS DOUBLE) AS mx_o_custkey,
             CAST(min(o_totalprice) AS DOUBLE) AS mn_o_totalprice,
             CAST(max(o_totalprice) AS DOUBLE) AS mx_o_totalprice
      FROM orders
    )
    SELECT o_orderkey, {key} AS zorder_key
    FROM orders, bounds
    """


@query("zorder_layout_key", _zorder_oracle())
def zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bucketing import zorder_by

    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return zorder_by(od, ["o_custkey", "o_totalprice"], bits=8).select(
        "o_orderkey", "zorder_key"
    )


# ---------------------------------------------------------------------------
# Sketch-accelerated operators (operators/sketch.py): Bloom-pruned semi-join,
# count-min heavy-hitter pruning, two-level exact distinct.  Each sketch is
# one-sided (no false negatives) and followed by an exact step, so results
# are bit-identical to the naive plan — only the 100 TB shuffle volume
# changes.  Oracles are the plain exact formulations.
# ---------------------------------------------------------------------------
@query(
    "bloom_semijoin_revenue",
    """
    SELECT l.l_returnflag,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderkey = l.l_orderkey
        AND o.o_orderpriority = '1-URGENT'
        AND o.o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
    )
    GROUP BY l.l_returnflag
    """,
)
def bloom_semijoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to recent urgent orders, with the
    fact side Bloom-pruned map-side before the exact semi-join — the rows
    that cannot match never enter a shuffle or broadcast probe."""
    from .operators.sketch import bloom_semijoin

    li, od = _t(spark, sf_dir, "lineitem", "orders")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    build = od.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2001-06-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey")
    kept = bloom_semijoin(
        li.select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"),
        build,
        "l_orderkey",
        "o_orderkey",
    )
    return kept.groupBy("l_returnflag").agg(
        F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
        .cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "heavy_hitter_parts",
    """
    SELECT l_partkey, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(*) >= 0.0007e0 * (SELECT COUNT(*) FROM lineitem)
    """,
)
def heavy_hitter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-selling parts above a relative frequency floor, found by
    count-min candidate pruning: three map-side broadcast bucket-count
    joins drop cold keys in place, and only candidate-heavy rows shuffle
    into the exact count."""
    from .operators.sketch import cms_heavy_hitters

    li = _t(spark, sf_dir, "lineitem")
    return cms_heavy_hitters(li, "l_partkey", threshold_frac=0.0007)


@query(
    "distinct_users_by_type",
    """
    SELECT event_type,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_day,
           COUNT(DISTINCT user_id) AS n_distinct
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily active users per event type via two-level re-aggregation
    — the first shuffle spreads on (group, user) so a hot group cannot
    OOM one reducer, the second carries one row per distinct pair.
    event_day surfaces as a STRING: DuckDB's pandas export widens DATE to
    datetime64 while Spark keeps date objects, so a raw date column
    hash-mismatches in the driver even when values agree.  user_id NULLs
    are pre-filtered: the operator counts NULL as a distinct value
    (pinned in test_distinct_two_level_counts_null_as_a_value) where
    COUNT(DISTINCT) ignores it."""
    from .operators.sketch import distinct_exact_two_level

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ev = ev.withColumn(
        "event_day", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    )
    return distinct_exact_two_level(
        ev, ["event_type", "event_day"], "user_id", out_col="n_distinct"
    )


# ---------------------------------------------------------------------------
# Analytics pack II: the remaining TPC-H-shaped SQL surface expressible over
# the driver tables — nation-pair volume (Q7), market share via CASE-ratio
# aggregation (Q8), promo ratio (Q14), scalar-subquery max (Q15), correlated
# per-key average (Q17), HAVING + semi-join (Q18), scalar-average +
# NOT-EXISTS anti-join (Q22).  All money math accumulates in DECIMAL and
# casts to DOUBLE at the end so both engines agree bitwise; ratios divide
# the two already-identical doubles.
# ---------------------------------------------------------------------------
@query(
    "nation_pair_trade",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      EXTRACT(year FROM l.l_shipdate) AS ship_year,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, od, cu, su, na = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    pair = na.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    # both dimension probes broadcast; the pair predicate is applied after
    # both nations are attached, but each side is pre-filtered to the two
    # nations so the fact rows that survive the first broadcast join are
    # already a tiny slice of lineitem
    supp = su.join(
        F.broadcast(pair), su.s_nationkey == pair.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = cu.join(
        F.broadcast(pair), cu.c_nationkey == pair.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li_f = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey).select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount", "supp_nation"
    )
    od_c = od.join(cust, od.o_custkey == cust.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    return (
        li_f.join(od_c, li_f.l_orderkey == od_c.o_orderkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "market_share_yearly",
    """
    SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
      CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
               THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_volume,
      CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
               THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'AMERICA'
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
)
def market_share_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a supplier nation's share of regional market volume
    per year, as one CASE-conditional aggregation over a star join whose
    dimension probes all broadcast."""
    li, od, cu, su, na, re, pa = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation", "region", "part",
    )
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    econ = pa.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    supp_nat = su.join(
        F.broadcast(na.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        su.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    america_cust = cu.join(
        F.broadcast(
            na.join(
                F.broadcast(re.filter(F.col("r_name") == "AMERICA")),
                na.n_regionkey == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        cu.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    od_f = (
        od.filter(
            (F.col("o_orderdate") >= ts("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1998-01-01 00:00:00"))
        )
        .join(america_cust, od.o_custkey == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    vol = d2("l_extendedprice") * (F.lit(1) - d2("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    fact = (
        li.join(F.broadcast(econ), li.l_partkey == econ.p_partkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .join(od_f, li.l_orderkey == od_f.o_orderkey)
        .select("o_year", "supp_nation",
                vol.alias("vol"))
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(zero)
    ).cast("double")
    total_vol = F.sum(F.col("vol")).cast("double")
    return fact.groupBy("o_year").agg(
        nation_vol.alias("nation_volume"),
        total_vol.alias("total_volume"),
        (nation_vol / total_vol).alias("mkt_share"),
    )


@query(
    "promo_revenue_monthly",
    """
    SELECT strftime(DATE_TRUNC('month', l.l_shipdate), '%Y-%m-%d') AS ship_month,
      CAST(SUM(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ship_month
    """,
)
def promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share by ship month; the part
    dimension broadcasts, the date filter prunes the scan."""
    li, pa = _t(spark, sf_dir, "lineitem", "part")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    vol = d2("l_extendedprice") * (F.lit(1) - d2("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    fact = (
        li.filter(
            (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1998-01-01 00:00:00"))
        )
        .join(F.broadcast(pa.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.date_format(F.trunc("l_shipdate", "month"), "yyyy-MM-dd")
            .alias("ship_month"),
            "p_type", vol.alias("vol"),
        )
    )
    return fact.groupBy("ship_month").agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("vol")).otherwise(zero))
        .cast("double").alias("promo_revenue"),
        F.sum("vol").cast("double").alias("total_revenue"),
    )


@query(
    "top_supplier_by_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the quarter's maximum
    revenue.  The scalar MAX subquery becomes a 1-row aggregate joined on
    a constant key (BroadcastHashJoin, not a window over everything —
    no single-partition sort of the whole revenue table)."""
    li, su = _t(spark, sf_dir, "lineitem", "supplier")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    rev = (
        li.filter(
            (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1997-04-01 00:00:00"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double").alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("__max_rev")).withColumn(
        "__k", F.lit(1)
    )
    winners = (
        rev.withColumn("__k", F.lit(1))
        .join(F.broadcast(mx), "__k")
        .filter(F.col("total_rev") == F.col("__max_rev"))
        .select("l_suppkey", "total_rev")
    )
    return su.join(
        F.broadcast(winners), su.s_suppkey == winners.l_suppkey
    ).select("s_suppkey", "s_name", "total_rev")


@query(
    "small_qty_revenue_share",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0e0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2e0 * (SUM(l2.l_quantity) / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def small_qty_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-average-quantity orders of one
    brand.  The correlated per-part average decorrelates into a per-part
    aggregate over only the brand's parts (semi-join prune FIRST, so the
    100 TB aggregation input shrinks to the brand slice), broadcast back
    onto the fact rows.  l_quantity is integral so its double sum is
    order-independent."""
    li, pa = _t(spark, sf_dir, "lineitem", "part")
    brand_parts = pa.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    li_b = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"), "left_semi"
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = li_b.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("__avg_qty")
    )
    kept = li_b.join(
        F.broadcast(per_part), li_b.l_partkey == F.col("__pk")
    ).filter(F.col("l_quantity") < F.lit(0.2) * F.col("__avg_qty"))
    return kept.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
         / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "large_order_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250e0
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with very large orders.  The HAVING
    subquery aggregates lineitem once; the qualifying (tiny) key set
    broadcasts into semi-joins on both fact tables so neither re-shuffles
    on a speculative join."""
    li, od, cu = _t(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    od_f = od.join(
        F.broadcast(big), od.o_orderkey == big.l_orderkey
    ).select("o_orderkey", "o_custkey", "o_orderdate",
             F.col("o_totalprice").cast("double").alias("o_totalprice"),
             "total_qty")
    return od_f.join(cu, od_f.o_custkey == cu.c_custkey).select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        "total_qty",
    )


@query(
    "idle_rich_customers",
    """
    WITH stats AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0.0e0
    )
    SELECT n.n_name AS nation, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    CROSS JOIN stats
    WHERE c.c_acctbal > stats.s / stats.n
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY n.n_name
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, by nation.  The scalar average is a 1-row constant-key
    BroadcastHashJoin (sum/count in DECIMAL, divided as identical
    doubles on both engines); recency is an anti-join against the
    date-pruned orders scan."""
    cu, od, na = _t(spark, sf_dir, "customer", "orders", "nation")
    stats = (
        cu.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn("__k", F.lit(1))
    )
    recent = od.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    ).select("o_custkey")
    rich = (
        cu.withColumn("__k", F.lit(1))
        .join(F.broadcast(stats), "__k")
        .filter(F.col("c_acctbal") > F.col("__s") / F.col("__n"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.join(
            F.broadcast(na.select("n_nationkey", F.col("n_name").alias("nation"))),
            idle.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Analytics pack III: the remaining classic decision-support join/subquery
# shapes (TPC-H Q11/Q13/Q16/Q19/Q20/Q21), re-parameterized onto the driver
# tables (no partsupp table exists, so lineitem serves as the supplier-part
# fact where the original uses partsupp).  These exercise the Catalyst
# patterns the earlier packs did not: group-vs-global HAVING with a scalar
# broadcast (Q11), outer-join count distribution (Q13), NOT-IN rewritten as
# a broadcast anti-join under a two-level exact distinct (Q16), disjunctive
# mixed-side predicate pushdown (Q19), nested semi-joins over a HAVING
# subquery (Q20), and the EXISTS + NOT-EXISTS self-join (Q21) collapsed
# into one order-level aggregate instead of two extra fact shuffles.
# ---------------------------------------------------------------------------
@query(
    "important_parts_value",
    """
    WITH nat_li AS (
      SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(18,2)) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_5'
    ),
    per_part AS (
      SELECT l_partkey, SUM(v) AS vd FROM nat_li GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(vd) AS td FROM per_part)
    SELECT p.l_partkey AS partkey, CAST(p.vd AS DOUBLE) AS part_value
    FROM per_part p CROSS JOIN tot
    WHERE CAST(p.vd AS DOUBLE) > CAST(tot.td AS DOUBLE) * 0.001e0
    """,
)
def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one nation's
    suppliers exceeds a fraction of that nation's total shipped value.
    The global total is a second-level aggregate of the (already tiny)
    per-part frame, attached as a 1-row broadcast on a constant key; the
    fraction test compares two DOUBLEs derived from exact DECIMAL sums so
    both engines agree bitwise.  Reference shape:
    scripts/flinksql_from_sttm_v4_5.py emits no subquery HAVING — this is
    an extension operator."""
    li, su, na = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    nat_supp = su.join(
        F.broadcast(na.filter(F.col("n_name") == "NATION_5")),
        su.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__vd"))
    )
    per_part = track(per_part.persist())
    tot = per_part.agg(F.sum("__vd").alias("__td")).withColumn("__k", F.lit(1))
    return (
        per_part.withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
        .filter(
            F.col("__vd").cast("double") > F.col("__td").cast("double") * F.lit(0.001)
        )
        .select("partkey", F.col("__vd").cast("double").alias("part_value"))
    )


@query(
    "cust_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, with the
    join predicate (not a post-filter) excluding one priority class so
    customers whose only orders are excluded still land in the zero
    bucket.  Both aggregations are exact integer counts; the second input
    is one row per customer, so the distribution agg is trivially
    bounded."""
    cu, od = _t(spark, sf_dir, "customer", "orders")
    od_f = od.filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cu.select("c_custkey")
        .join(od_f, cu.c_custkey == od_f.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "part_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per part attribute group,
    excluding a complained-about supplier list.  NOT IN becomes a
    broadcast anti-join (s_suppkey is never NULL, so the semantics
    coincide), the part dimension probe broadcasts, and the distinct
    count runs as the two-level exact aggregation from
    :mod:`operators.sketch` so no reducer ever holds a whole group's
    supplier set."""
    from .operators.sketch import distinct_exact_two_level

    li, pa, su = _t(spark, sf_dir, "lineitem", "part", "supplier")
    bad = su.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pa_f = pa.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    fact = (
        # NULL keys pre-filtered: the two-level operator counts NULL as a
        # distinct value per group where COUNT(DISTINCT) ignores it (the
        # generated l_suppkey is never NULL, but the oracle pairing must
        # hold for any input)
        li.select("l_partkey", "l_suppkey")
        .filter(F.col("l_suppkey").isNotNull())
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(pa_f), F.col("l_partkey") == pa_f.p_partkey)
    )
    return distinct_exact_two_level(
        fact, ["p_brand", "p_type", "p_size"], "l_suppkey", out_col="supplier_cnt"
    )


@query(
    "discounted_revenue_disjunctive",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def discounted_revenue_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction whose arms mix
    build-side (brand, size) and probe-side (quantity) conjuncts.  The
    part-only envelope of the disjunction is applied to the build side
    BEFORE the broadcast join (Catalyst cannot always derive it from a
    mixed OR), so only candidate parts ship with the broadcast; the full
    mixed predicate then runs post-join inside codegen."""
    li, pa = _t(spark, sf_dir, "lineitem", "part")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    part_env = pa.filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 40))
    ).select("p_partkey", "p_brand", "p_size")
    arm = lambda b, s0, s1, q0, q1: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(s0, s1)
        & F.col("l_quantity").between(q0, q1)
    )
    return (
        li.join(F.broadcast(part_env), li.l_partkey == F.col("p_partkey"))
        .filter(
            arm("Brand#1", 1, 10, 1, 20)
            | arm("Brand#2", 5, 20, 10, 30)
            | arm("Brand#3", 10, 40, 20, 50)
        )
        .agg(
            F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "excess_shipped_suppliers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_2'
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 40
    )
    """,
)
def excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers of one nation who shipped a large
    quantity of promo parts in one year — nested semi-joins over a
    HAVING subquery.  Shape: broadcast-semi part filter prunes the
    date-pruned lineitem scan, a (supp, part) decimal-sum agg applies the
    HAVING, and the surviving supplier keys semi-join the supplier dim
    with the nation probe broadcast."""
    li, su, na, pa = _t(spark, sf_dir, "lineitem", "supplier", "nation", "part")
    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    promo = pa.filter(F.col("p_type") == "PROMO").select("p_partkey")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1998-01-01 00:00:00"))
        )
        .join(F.broadcast(promo), li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 40)
        .select("l_suppkey")
    )
    nat = na.filter(F.col("n_name") == "NATION_2").select("n_nationkey")
    return (
        su.join(F.broadcast(nat), su.s_nationkey == nat.n_nationkey, "left_semi")
        .join(heavy, su.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(
    "waiting_orders_blame",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    """,
)
def waiting_orders_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for late lines on
    multi-supplier finished orders.  The EXISTS + NOT-EXISTS pair over
    the fact table is collapsed into ONE order-level aggregate: per
    order, distinct suppliers, distinct LATE suppliers, the late LINE
    count, and (well-defined exactly when one late supplier exists) the
    late supplier's key.  Semantics parity with the literal subquery
    plan: EXISTS(other supplier) == n_supp >= 2; NOT EXISTS(other late
    supplier) for an already-late row == n_late_supp == 1, in which
    case EVERY late line in the order belongs to that one supplier, so
    joining late ROWS back is unnecessary — the blame frame is
    order-level.

    Scale shape (round-8 rework of the round-6 probe's 0.55x row): the
    per-order line multiset is TINY (<= 7 lines in the TPC-H shape), so
    lineitem folds to one row per orderkey BEFORE the orders join —
    ``collect_list(struct(suppkey, shipdate))`` in the single fact
    shuffle, multi-supplier filter applied pre-join — and the join then
    carries order-level rows on BOTH sides.  Lateness against the
    order's threshold is evaluated JVM-side with higher-order array
    functions (filter/transform/array_distinct), no second fact-row
    shuffle and no UDF."""
    li, od, su, na = _t(spark, sf_dir, "lineitem", "orders", "supplier", "nation")
    ord_f = od.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    per_order = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_suppkey").alias("s"),
                    F.col("l_shipdate").alias("d"),
                )
            ).alias("__lines")
        )
        # EXISTS(other supplier): >= 2 distinct suppliers, decided from
        # the collected list (no mixed-distinct agg -> no Expand)
        .filter(
            F.size(F.array_distinct(F.transform("__lines", lambda x: x["s"])))
            >= 2
        )
    )
    late = F.filter(
        F.col("__lines"),
        lambda x: x["d"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    blame = (
        per_order.join(ord_f, per_order.l_orderkey == ord_f.o_orderkey)
        .withColumn(
            "__late_supps",
            F.array_distinct(F.transform(late, lambda x: x["s"])),
        )
        .filter(F.size("__late_supps") == 1)
        .select(
            # F.get, not [0]: ANSI mode throws on out-of-bounds and codegen
            # may evaluate the projection before the size filter
            F.get("__late_supps", 0).alias("l_suppkey"),
            F.size(late).alias("__n_late"),
        )
    )
    nat = na.filter(F.col("n_name") == "NATION_1").select("n_nationkey")
    supp = su.join(
        F.broadcast(nat), su.s_nationkey == nat.n_nationkey, "left_semi"
    ).select("s_suppkey", "s_name")
    return (
        blame.join(F.broadcast(supp), blame.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("__n_late").cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Data-skipping family (operators/skipping.py), split into its two real
# lifecycle phases so each is timed honestly: ``zorder_rewrite`` is the
# one-off clustering OPTIMIZE (write the Z-ordered layout + build the
# file-level min/max stats index — paid once per table, amortized over
# every later query), and ``skipscan_events_range`` is the steady-state
# read path (planning-time file pruning over the ALREADY-BUILT layout).
# The layout is a shared session artifact, like the BPE model: built once
# by whichever entry runs first.
# ---------------------------------------------------------------------------


def _ensure_base_blooms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASE layout's per-file Bloom index, built once per
    (session, sf_dir) and checkpointed — the steady-state posture: a
    deployment maintains the point-lookup index next to the table and
    REFRESHES it per append/compaction; only the arriving generation is
    ever re-scanned.  (bloom_skipscan_pointlookup deliberately rebuilds
    inline — that row demonstrates the whole build+probe lifecycle; this
    artifact serves the rows whose subject is index MAINTENANCE, where
    rebuilding the base would charge a linear floor to every run.)"""
    from .operators.skipping import collect_file_blooms

    return artifact(
        spark, sf_dir, "bloom",
        lambda: collect_file_blooms(
            spark, _ensure_skipscan_layout(spark, sf_dir)[0], "event_id"
        ).localCheckpoint(),
    )


def _ensure_skipscan_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    """Write the Z-order-clustered events layout and its file-stats index
    once per (session, sf_dir); return (layout_path, stats frame).  The
    stats frame is checkpointed — file-count-sized, one row per file.
    Eviction frees the stats checkpoint; the layout DIRECTORY stays
    (app-scoped /tmp scratch, reclaimed at application exit) and a
    rebuild overwrites it in place."""
    return artifact(
        spark, sf_dir, "skipscan",
        lambda: _build_skipscan_layout(spark, sf_dir),
    )


def _build_skipscan_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    import os as _os

    from .operators.bucketing import zorder_by
    from .operators.skipping import collect_file_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # scratch path scoped by the session's application id: two concurrent
    # harness runs over the same scale factor must not race on one layout
    layout = _os.path.join(
        "/tmp",
        f"cdis_{spark.sparkContext.applicationId}",
        f"skipscan_{_os.path.basename(sf_dir.rstrip('/'))}",
    )
    (
        zorder_by(ev, ["user_id", "value"], bits=12)
        .repartitionByRange(16, F.col("zorder_key"))
        .sortWithinPartitions("zorder_key")
        .drop("zorder_key")
        .write.mode("overwrite")
        .parquet(layout)
    )
    stats = collect_file_stats(
        spark, layout, ["user_id", "value"]
    ).localCheckpoint()
    return layout, stats


@query(
    "zorder_rewrite",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events
    """,
)
def zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-off clustering rewrite: Z-order the events table on
    (user_id, value), write the range-partitioned layout, build the
    file-level stats index, and read the layout back — the oracle is the
    identity projection, pinning the rewrite as LOSSLESS (clustering must
    reorder rows, never change them)."""
    layout, _ = _ensure_skipscan_layout(spark, sf_dir)
    return spark.read.parquet(layout).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "skipscan_events_range",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events
    WHERE user_id BETWEEN 100 AND 300
      AND value BETWEEN 0.0e0 AND 50.0e0
    """,
)
def skipscan_events_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state 2-D range query served through the file-level stats
    index over the pre-built Z-order-clustered layout: files whose
    [min, max] envelope is disjoint from the predicate on EITHER
    dimension are never opened (pruning is planning-time and one-sided;
    the exact filter re-runs on survivors, so the answer is bit-identical
    to the full scan).  The layout build is ``zorder_rewrite``'s job —
    registered immediately before this row, so a registry sweep times
    write and read separately."""
    from .operators.skipping import skip_scan

    layout, stats = _ensure_skipscan_layout(spark, sf_dir)
    return skip_scan(
        spark,
        layout,
        {"user_id": (100, 300), "value": (0.0, 50.0)},
        stats=stats,
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "bloom_skipscan_pointlookup",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id IN (123, 4567, 987654)
    """,
)
def bloom_skipscan_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on a column the layout does NOT cluster: the shared
    layout is Z-ordered on (user_id, value), so every file's event_id
    [min, max] envelope spans the whole domain and min/max skipping
    prunes nothing — the per-file Bloom index
    (operators/skipping.py collect_file_blooms) still answers "could
    this file contain id v" and the scan opens only the maybe-files
    (one-sided: false positives re-filter away, false negatives are
    impossible, so the answer is bit-identical to the full scan).  The
    row carries the whole lifecycle: one index-build aggregation over
    the layout + metadata-sized probe + pruned exact read."""
    from .operators.skipping import bloom_skip_scan, collect_file_blooms

    layout, _stats = _ensure_skipscan_layout(spark, sf_dir)
    blooms = collect_file_blooms(spark, layout, "event_id")
    return bloom_skip_scan(
        spark, layout, "event_id", [123, 4567, 987654], blooms=blooms
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "zorder_incremental",
    """
    WITH combined AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events
      UNION ALL
      SELECT event_id + 100000000, user_id, event_type,
             CAST(value AS DOUBLE) AS value
      FROM events WHERE event_id % 7 = 0
    )
    SELECT event_id, user_id, event_type, value
    FROM combined
    WHERE user_id BETWEEN 100 AND 300
      AND value BETWEEN 0.0e0 AND 50.0e0
    """,
)
def zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-incremental OPTIMIZE: an append batch (1/7 of events,
    ids offset so the rows are genuinely new) is Z-order-clustered WITHIN
    ITSELF and landed as new files; its file stats merge into the
    existing index; the same 2-D range query then prunes across BOTH
    generations' files.  Base files are untouched — referenced in place,
    the Delta/Iceberg log shape — so the maintenance cost scales with the
    batch, never the table (tools/scale_probe_dedup.py pins the ratio vs
    the full rewrite).  The oracle is the range query over base ∪ batch:
    incremental clustering must change WHERE rows live, never the
    answer."""
    import os as _os

    from .operators.skipping import skip_scan, zorder_append

    layout, stats = _ensure_skipscan_layout(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    batch = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(100000000)
    )
    gen1 = _os.path.join(_os.path.dirname(layout.rstrip("/")),
                         _os.path.basename(layout.rstrip("/")) + "_gen1")
    merged = zorder_append(spark, batch, ["user_id", "value"], gen1, stats)
    return skip_scan(
        spark,
        layout,
        {"user_id": (100, 300), "value": (0.0, 50.0)},
        stats=merged,
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "compaction_lifecycle",
    """
    WITH combined AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events
      UNION ALL
      SELECT event_id + 200000000, user_id, event_type,
             CAST(value AS DOUBLE) AS value
      FROM events WHERE event_id % 5 = 0
    )
    SELECT event_id, user_id, event_type, value
    FROM combined
    WHERE user_id BETWEEN 100 AND 300
      AND value BETWEEN 0.0e0 AND 50.0e0
    """,
)
def compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full small-file layout lifecycle, end to end: an append batch
    (1/5 of events, ids offset) lands Z-order-clustered as 16 deliberately
    undersized files (streaming ingest's shape); the FFD compaction
    planner bins them (metadata-only — file sizes via the Hadoop FS API,
    no data read); ``apply_compaction`` rewrites each bin as one file and
    stages the whole generation behind one atomic rename; the file-stats
    index is rebuilt over the compacted generation and merged with the
    base index; the standard 2-D range query then skip-scans across BOTH
    generations.  The oracle is the range query over base ∪ batch:
    every layout maintenance step must move bytes, never change answers.
    At 100 TB this is the OPTIMIZE loop that keeps per-file open/footer
    costs from eating the scan — cost scales with the small-file
    backlog, never the table."""
    import os as _os
    from urllib.parse import urlparse as _urlparse

    from .operators.skipping import (
        apply_compaction,
        collect_file_stats,
        compaction_plan,
        skip_scan,
        zorder_append,
    )

    layout, stats = _ensure_skipscan_layout(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    batch = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(200000000)
    )
    genc = layout + "_genc"
    merged = zorder_append(
        spark, batch, ["user_id", "value"], genc, stats, n_files=16
    )
    # recover the arriving generation's directory from the index itself
    # (metadata-sized anti-join: the index is the source of truth for
    # where files live, the Delta/Iceberg log shape)
    new_files = [
        r["file"]
        for r in merged.join(stats, "file", "left_anti")
        .select("file")
        .collect()
    ]
    batch_dir = new_files[0].rsplit("/", 1)[0]
    plan = compaction_plan(spark, batch_dir, target_bytes=8 << 20)
    comp = (_urlparse(batch_dir).path or batch_dir) + "_compact"
    apply_compaction(spark, batch_dir, plan, comp)
    final = stats.unionByName(
        collect_file_stats(spark, comp, ["user_id", "value"])
    ).localCheckpoint()
    return skip_scan(
        spark,
        layout,
        {"user_id": (100, 300), "value": (0.0, 50.0)},
        stats=final,
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "join_advisor_strategy",
    """
    SELECT scenario, strategy, CAST(salt AS INT) AS salt
    FROM (VALUES
      ('dim_lookup',  'broadcast_right', 1),
      ('fact_fact',   'shuffle',         1),
      ('hot_key',     'salted',          32)
    ) AS t(scenario, strategy, salt)
    """,
)
def join_advisor_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-statistics join advisor (operators/advisor.py) over
    three planted scenarios, asserted against a deterministic oracle
    table: a dimension lookup (supplier fits the broadcast budget →
    broadcast_right), a balanced fact-fact join (lineitem ⨝ orders on
    orderkey, ≤7 rows per key → plain shuffle; the count-mean-min noise
    floor keeps sketch collisions from masquerading as skew), and a
    planted hot key (70% of lineitem on one key → salted at the max_salt
    cap).  The broadcast budget scales with the data (orders/3) so the
    classification is scale-invariant — the advisor's inputs are two
    sketch-sized aggregations per side, never a key-space
    materialization.  Each distinct (input, key) side is profiled ONCE
    and the profile reused across scenarios (the orders side serves
    two); the five profiles run as concurrent Spark jobs — at 100 TB a
    what-if planner never re-scans a fact per candidate join.  Non-SQL
    by nature (the DECISION is the output); the oracle pins the
    expected strategy table literally."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators.advisor import join_advice, side_stats

    li, od, su = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    skewed = li.withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(-1).cast("long"))
        .otherwise(F.col("l_orderkey").cast("long")),
    )
    sides = {
        "li_supp": (li, "l_suppkey"),
        "li_ok": (li, "l_orderkey"),
        "skew": (skewed, "skew_key"),
        "od": (od, "o_orderkey"),
        "su": (su, "s_suppkey"),
    }
    with ThreadPoolExecutor(max_workers=len(sides)) as ex:
        futs = {n: ex.submit(side_stats, df, k) for n, (df, k) in sides.items()}
        st = {n: f.result() for n, f in futs.items()}
    thresh = st["od"].rows // 3  # scale-relative broadcast budget
    scenarios = [
        ("dim_lookup", (li, "l_suppkey", "li_supp"), (su, "s_suppkey", "su")),
        ("fact_fact", (li, "l_orderkey", "li_ok"), (od, "o_orderkey", "od")),
        ("hot_key", (skewed, "skew_key", "skew"), (od, "o_orderkey", "od")),
    ]
    rows = []
    for name, (ldf, lk, ln), (rdf, rk, rn) in scenarios:
        adv = join_advice(
            ldf, rdf, lk, rk, broadcast_rows=thresh,
            left_stats=st[ln], right_stats=st[rn],
        )
        rows.append((name, adv.strategy, adv.salt))
    return spark.createDataFrame(
        rows, "scenario string, strategy string, salt int"
    )


@query(
    "salted_join_hotkey",
    """
    WITH hot AS (SELECT min(o_orderkey) AS k FROM orders),
    sk AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS quantity,
             CASE WHEN l_orderkey % 10 < 7 THEN (SELECT k FROM hot)
                  WHEN l_orderkey % 10 = 9 THEN -l_orderkey - 1
                  ELSE l_orderkey END AS skew_key
      FROM lineitem
    )
    SELECT sk.skew_key, sk.l_orderkey, sk.l_linenumber, sk.quantity,
           o.o_orderstatus, o.o_orderpriority
    FROM sk LEFT JOIN orders o ON sk.skew_key = o.o_orderkey
    """,
)
def salted_join_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The advisor's planted hot-key scenario EXECUTED through the
    salted join (operators/skew.py): 70% of lineitem is rekeyed onto
    ONE order key (min(o_orderkey)) and 10% onto keys that match
    nothing, then joined LEFT to orders through salted_join with
    n_salt=32 — the strategy join_advisor_strategy RECOMMENDS for this
    exact histogram.  The oracle is the PLAIN equi-join: salting must
    be lossless — every matched row appears exactly once (the hot
    key's rows spread over 32 reducers but each finds its single
    replica partner) and every unmatched left row appears exactly
    once with NULL order columns (the left-outer contract the
    replicated right side must not break).  At 100 TB this is the
    difference between one reducer holding 70 TB and 32 reducers
    holding ~2 TB each; the salt is hashed from the full row tuple,
    never the key (reference xref-queries.sql:86-88 theta joins are
    where this histogram shows up)."""
    from .operators.skew import salted_join

    li, od = _t(spark, sf_dir, "lineitem", "orders")
    # scalar hot key: one 1-row aggregate collect (metadata-sized, the
    # same pattern the advisor row uses for its broadcast budget)
    hot = od.agg(F.min("o_orderkey")).collect()[0][0]
    sk = li.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(hot))
        .when(F.col("l_orderkey") % 10 == 9, -F.col("l_orderkey") - 1)
        .otherwise(F.col("l_orderkey"))
        .cast("bigint").alias("skew_key"),
    )
    # the operator's premise is a right side too big to BROADCAST (a
    # broadcast join has no reducer skew to fix); at sf0.01 the exploded
    # orders side still fits Spark's broadcast budget, so pin the
    # scale-path plan with a merge hint — the SMJ on (skew_key, salt)
    # IS the 100 TB shape, and the guard asserts the salt reaches its
    # join keys
    right = od.select(
        F.col("o_orderkey").alias("skew_key"),
        "o_orderstatus", "o_orderpriority",
    ).hint("merge")
    return salted_join(sk, right, ["skew_key"], how="left", n_salt=32).select(
        "skew_key", "l_orderkey", "l_linenumber", "quantity",
        "o_orderstatus", "o_orderpriority",
    )


@query(
    "bloom_compaction_lifecycle",
    """
    WITH combined AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events
      UNION ALL
      SELECT event_id + 300000000, user_id, event_type,
             CAST(value AS DOUBLE) AS value
      FROM events WHERE event_id % 5 = 0
    )
    SELECT event_id, user_id, event_type, value
    FROM combined
    WHERE event_id IN (123, 4567, 300000005, 300000125, 987654321)
    """,
)
def bloom_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-index twin of compaction_lifecycle: per-file Bloom
    filters must SURVIVE a compaction rewrite the way min/max stats do.
    An append batch (1/5 of events, ids offset) lands as 16 undersized
    files; a Bloom index is built over the arriving generation; the FFD
    planner compacts the small files into full-size ones;
    refresh_file_blooms then reconciles the index against the compacted
    directory — dropped input files leave the index, each rewritten
    file gets a freshly-scanned bitset, untouched entries are NOT
    re-read (the incremental contract), and the build parameters are
    validated from the index frame's own metadata so a drifted rebuild
    raises instead of mispruning.  The point lookup then prunes across
    BOTH generations (base layout's index ∪ the refreshed batch index)
    and must stay lossless: the oracle is the plain IN-filter over
    base ∪ batch.  At 100 TB this is the OPTIMIZE loop for point-lookup
    indexes: rebuild cost scales with the compacted backlog, never the
    table, and a lookup is flat across generations."""
    from .operators.skipping import (
        apply_compaction,
        bloom_skip_scan,
        collect_file_blooms,
        compaction_plan,
        merge_bloom_indexes,
        refresh_file_blooms,
        zorder_append,
    )

    layout, stats = _ensure_skipscan_layout(spark, sf_dir)
    # the base table's Bloom index is independent of the whole batch
    # chain (append -> plan -> compact -> refresh): build it from a
    # second driver thread so its scan backfills the batch jobs'
    # stragglers (guide §2.6); joined right before the merge below
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    base_blooms_f = pool.submit(_ensure_base_blooms, spark, sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    batch = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(300000000)
    )
    genb = layout + "_genb"
    # land the batch Z-ordered as 16 deliberately undersized files;
    # recover the arriving generation's directory from the stats index
    # (metadata-sized anti-join — the index is the source of truth for
    # where files live) and Bloom-index its event_ids
    merged = zorder_append(
        spark, batch, ["user_id", "value"], genb, stats, n_files=16
    )
    new_files = [
        r["file"]
        for r in merged.join(stats, "file", "left_anti")
        .select("file").collect()
    ]
    batch_dir = new_files[0].rsplit("/", 1)[0]
    batch_blooms = collect_file_blooms(spark, batch_dir, "event_id")
    plan = compaction_plan(spark, batch_dir, target_bytes=8 << 20)
    import os as _os
    from urllib.parse import urlparse as _urlparse

    comp = (_urlparse(batch_dir).path or batch_dir) + "_compact"
    if not _os.path.exists(comp):  # re-run in one session: layout is kept
        apply_compaction(spark, batch_dir, plan, comp)
    # reconcile the index with the compacted generation: inputs drop,
    # rewritten files scan fresh, parameters validate from metadata
    comp_blooms = refresh_file_blooms(spark, comp, batch_blooms, "event_id")
    # the base table's index is the MAINTAINED artifact (built once per
    # session/sf_dir, checkpointed) — steady-state cost of this whole row
    # is proportional to the batch, never the table (SCALE.md r13 probe:
    # d2 0.82 -> 0.11 with the rebuild removed); built concurrently above
    try:
        base_blooms = base_blooms_f.result()
    finally:
        pool.shutdown(wait=False)
    blooms = merge_bloom_indexes(base_blooms, comp_blooms)
    return bloom_skip_scan(
        spark, layout, "event_id",
        [123, 4567, 300000005, 300000125, 987654321],
        blooms=blooms,
    ).select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation shapes: CUBE (Expand-operator plan, one
# shuffle for all 2^n grouping combinations) and PIVOT (wide conditional
# aggregation with a pinned column set).  corpus_mix_report already covers
# ROLLUP; these complete the grouping-analytics family.
# ---------------------------------------------------------------------------
@query(
    "revenue_cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS gross_revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def revenue_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross revenue over every subset of (returnflag, linestatus).

    The naive ``li.cube(...)`` puts Expand UNDER the aggregate, so every
    fact row fans out 4x before partial aggregation — at 100 TB that
    quadruples the rows entering the aggregate.  Catalyst does not push
    a partial aggregate below Expand, so we do it by hand: collapse the
    fact table to the (flag, status) grain FIRST (exact-decimal partials,
    a few-row frame), then CUBE the partials — Expand multiplies
    GROUP-COUNT rows, not fact rows.  Decimal partial sums re-sum
    exactly, so the result is bit-identical to the single-pass cube."""
    li = _t(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__rev__"),
        F.count(F.lit(1)).alias("__n__"),
    )
    return pre.cube("l_returnflag", "l_linestatus").agg(
        F.sum("__rev__").cast("double").alias("gross_revenue"),
        F.sum("__n__").cast("long").alias("n_items"),
    )


@query(
    "event_type_pivot_daily",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_day,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup
    FROM events
    GROUP BY 1
    """,
)
def event_type_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type.  The
    pivot value list is PINNED (no discovery pass over the data, no
    schema drift when a new type appears upstream), which also keeps the
    plan a single hash aggregate with conditional counts — the exact
    shape of the oracle's FILTER clauses."""
    ev = _t(spark, sf_dir, "events")
    out = (
        # STRING day key (see distinct_users_by_type: raw date columns
        # hash-mismatch the DuckDB oracle's datetime64 export)
        ev.withColumn(
            "event_day", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
        )
        .groupBy("event_day")
        .pivot("event_type", ["click", "view", "purchase", "signup"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves absent combinations NULL; the FILTER oracle counts 0
    return out.select(
        "event_day",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ("click", "view", "purchase", "signup")],
    )


@query(
    "cheapest_supplier_per_part",
    """
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS vd,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qd
      FROM lineitem l
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    unit AS (
      SELECT l_partkey, l_suppkey,
             CAST(vd AS DOUBLE) / CAST(qd AS DOUBLE) AS unit_cost,
             MIN(CAST(vd AS DOUBLE) / CAST(qd AS DOUBLE))
               OVER (PARTITION BY l_partkey) AS best
      FROM cost
    )
    SELECT p.p_partkey, p.p_brand, u.l_suppkey AS s_suppkey,
           s.s_name, u.unit_cost
    FROM unit u
    JOIN part p ON p.p_partkey = u.l_partkey AND p.p_type = 'LARGE'
                AND p.p_size <= 5
    JOIN supplier s ON s.s_suppkey = u.l_suppkey
    WHERE u.unit_cost = u.best
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part in a filtered family, the supplier(s)
    with the minimum realized unit cost — the correlated
    aggregate-subquery (cost = MIN over suppliers of the same part)
    expressed as one (part, supp) aggregate plus a per-part MIN window
    over the already-aggregated (dimension-sized) frame; the raw fact
    table shuffles once.  Unit cost divides two exact DECIMAL sums as
    identical DOUBLEs, so the MIN and the equality select the same rows
    on both engines."""
    li, pa, su = _t(spark, sf_dir, "lineitem", "part", "supplier")
    from pyspark.sql import Window

    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__vd"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qd"),
        )
        .withColumn(
            "unit_cost", F.col("__vd").cast("double") / F.col("__qd").cast("double")
        )
    )
    best = cost.withColumn(
        "__best", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("unit_cost") == F.col("__best"))
    pa_f = pa.filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 5)).select(
        "p_partkey", "p_brand"
    )
    return (
        best.join(F.broadcast(pa_f), best.l_partkey == pa_f.p_partkey)
        .join(
            F.broadcast(su.select("s_suppkey", "s_name")),
            best.l_suppkey == F.col("s_suppkey"),
        )
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "unit_cost")
    )


# ---------------------------------------------------------------------------
# Exact fuzzy matching (operators/fuzzy.py): SymSpell deletion-neighborhood
# equi-join + exact levenshtein verify.  The oracle is the brute-force
# cross join — fine at sf0.01, exactly the plan the operator exists to
# avoid at scale.
# ---------------------------------------------------------------------------
@query(
    "fuzzy_supplier_pairs",
    """
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
    FROM supplier a
    JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def fuzzy_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-name pairs within edit distance 1 — entity-resolution
    candidates — via the deletion-neighborhood equi-join (one shuffle on
    short variant keys, ~len+1 keys per row) instead of the oracle's
    quadratic self-join; the exact levenshtein post-filter makes the
    answers identical."""
    from .operators.fuzzy import fuzzy_pairs_d1

    su = _t(spark, sf_dir, "supplier")
    return fuzzy_pairs_d1(su, "s_suppkey", "s_name").withColumn(
        "dist", F.col("dist").cast("int")
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained rollup (streaming/rollup.py): the events table
# arrives as three batches folded into the materialized state one at a
# time; the oracle is the one-shot GROUP BY over everything.  Equality
# proves the mergeable-partial maintenance (count/sum/min/max in exact
# DECIMAL partials) — no raw-history rescan happens on the Spark side.
# ---------------------------------------------------------------------------
@query(
    "rollup_incremental_events",
    """
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def rollup_incremental_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type aggregates maintained INCREMENTALLY: the corpus is split
    into three microbatches, each folded into the rollup store at
    O(batch + state-groups) cost, and the final snapshot must equal the
    oracle's full-table GROUP BY exactly."""
    import os as _os
    import shutil as _shutil

    from .streaming.rollup import RollupStore

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # per-run scratch (see skipscan_events_range): the rmtree below would
    # corrupt a concurrent run sharing a fixed path
    path = _os.path.join(
        "/tmp",
        f"cdis_{spark.sparkContext.applicationId}",
        f"rollup_{_os.path.basename(sf_dir.rstrip('/'))}",
    )
    _shutil.rmtree(path, ignore_errors=True)
    store = RollupStore(
        path, ["event_type"],
        sum_cols=["value"], min_cols=["value"], max_cols=["value"],
    )
    for i in range(3):
        store.apply(ev.filter(F.pmod("event_id", F.lit(3)) == i), batch_id=i)
    return store.snapshot(spark).select(
        "event_type", "n_rows", "sum_value", "min_value", "max_value"
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (operators/sampling.dsir_weights): hashed
# bag-of-ngrams likelihood ratio between a target subset (every 17th doc)
# and the raw corpus — the Xie et al. 2023 data-selection scorer.  The
# oracle rebuilds both 256-bucket smoothed models and the per-doc log
# ratio sum with the same md5-bucket and ln arithmetic.
# ---------------------------------------------------------------------------
@query(
    "dsir_weights_docs",
    f"""
    WITH d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
    uni AS (SELECT doc_id, unnest(ts) AS f FROM tok),
    bi AS (
      SELECT doc_id, ts[i] || '_' || ts[i + 1] AS f
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 2
    ),
    hx AS (SELECT doc_id, md5(f) AS hx
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    feats AS (SELECT doc_id, {_duck_hex_num('hx', 1, 2)} AS bkt FROM hx),
    tc AS (SELECT bkt, COUNT(*) AS c FROM feats
           WHERE doc_id % 17 = 0 GROUP BY bkt),
    rc AS (SELECT bkt, COUNT(*) AS c FROM feats GROUP BY bkt),
    tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats
           WHERE doc_id % 17 = 0),
    rt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats),
    grid AS (SELECT unnest(generate_series(0, 255)) AS bkt),
    m AS (
      SELECT g.bkt,
             ln((COALESCE(tc.c, 0) + 1.0) / ((SELECT n FROM tt) + 256.0))
           - ln((COALESCE(rc.c, 0) + 1.0) / ((SELECT n FROM rt) + 256.0))
             AS llr
      FROM grid g LEFT JOIN tc ON g.bkt = tc.bkt
                  LEFT JOIN rc ON g.bkt = rc.bkt
    )
    SELECT f.doc_id, COUNT(*) AS n_feats,
           round(SUM(m.llr), 6) AS dsir_weight
    FROM feats f JOIN m ON f.bkt = m.bkt
    GROUP BY f.doc_id
    """,
)
def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document's target-likeness: target model = every 17th
    doc, raw model = the whole corpus, weight = summed bucket log ratio.
    The downstream move is resampling by these weights
    (weighted_sample_priority / sample_exact_n) to select pretraining
    data matched to a small high-quality target set."""
    from .operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    return dsir_weights(docs, target)


# reuse the weights oracle's model CTEs verbatim: cut at its final
# SELECT and graft a per-doc weight CTE in its place
_DSIR_WEIGHTS_CTE = ORACLES["dsir_weights_docs"].strip().rsplit(
    "SELECT f.doc_id", 1
)[0].rstrip().rstrip(")").rstrip() + """
    ),
    w AS (
      SELECT f.doc_id, round(SUM(m.llr), 6) AS dsir_weight
      FROM feats f JOIN m ON f.bkt = m.bkt
      GROUP BY f.doc_id
    )"""


# ---------------------------------------------------------------------------
# DSIR selection: the end of the pipeline — the 50 most target-like docs
# (total order: weight desc, doc_id asc).  Same model CTEs as the weights
# query; the Spark side must compile to TakeOrderedAndProject, never a
# global sort (guarded in tests/test_plan_guards.py's Take* pattern).
# ---------------------------------------------------------------------------
@query(
    "dsir_select_topk",
    _DSIR_WEIGHTS_CTE + """
    SELECT doc_id, dsir_weight FROM w
    ORDER BY dsir_weight DESC, doc_id ASC LIMIT 50
    """,
)
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the 50 docs most like the target subset — the actual data
    -selection act DSIR exists for.  orderBy+limit compiles to
    per-partition top-k heaps (TakeOrderedAndProject); nothing global
    sorts."""
    from .operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    return (
        dsir_weights(docs, target)
        .select("doc_id", "dsir_weight")
        .orderBy(F.col("dsir_weight").desc(), F.col("doc_id").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Incremental quantiles (streaming/rollup.py hist_cols): per-type p50/p90
# maintained as mergeable fixed-boundary histograms across three folds.
# The oracle reproduces the IDENTICAL bin + interpolation arithmetic over
# the full table (bounds 0..512, 64 bins, width exactly 8.0), so equality
# proves the merge path, not an approximation tolerance.
# ---------------------------------------------------------------------------
@query(
    "rollup_quantile_events",
    """
    WITH ev AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
    ),
    b AS (
      SELECT event_type,
             CASE WHEN v < 0.0 THEN 0
                  WHEN v >= 512.0 THEN 65
                  ELSE LEAST(1 + CAST(floor((v - 0.0) / 8.0) AS INT), 64)
             END AS bin
      FROM ev WHERE v IS NOT NULL
    ),
    c AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(cnt) AS DOUBLE) AS tot
          FROM c GROUP BY 1),
    cum AS (
      SELECT c.event_type, bin, CAST(cnt AS DOUBLE) AS cnt,
             CAST(SUM(cnt) OVER (PARTITION BY c.event_type
                                 ORDER BY bin) AS DOUBLE) AS cum,
             tot
      FROM c JOIN t ON c.event_type = t.event_type
    ),
    n AS (SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY 1),
    p50 AS (
      SELECT event_type,
             CASE WHEN bin = 0 THEN 0.0 WHEN bin = 65 THEN 512.0
                  ELSE 0.0 + 8.0 * (CAST(bin AS DOUBLE) - 1.0
                       + (0.5 * tot - (cum - cnt)) / cnt) END AS p50_value
      FROM cum WHERE cum >= 0.5 * tot AND (cum - cnt) < 0.5 * tot
    ),
    p90 AS (
      SELECT event_type,
             CASE WHEN bin = 0 THEN 0.0 WHEN bin = 65 THEN 512.0
                  ELSE 0.0 + 8.0 * (CAST(bin AS DOUBLE) - 1.0
                       + (0.9 * tot - (cum - cnt)) / cnt) END AS p90_value
      FROM cum WHERE cum >= 0.9 * tot AND (cum - cnt) < 0.9 * tot
    )
    SELECT n.event_type, n.n_rows, p50.p50_value, p90.p90_value
    FROM n
    JOIN p50 ON n.event_type = p50.event_type
    JOIN p90 ON n.event_type = p90.event_type
    """,
)
def rollup_quantile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p50/p90 maintained INCREMENTALLY: three microbatches fold
    into per-group bin-count arrays (64 interior bins over [0, 512), width
    exactly 8.0 so the double arithmetic is engine-reproducible), merged
    by elementwise sum; the snapshot interpolates inside the rank bin.
    State per group is 66 longs — O(groups), never O(history) — which is
    how a 100 TB stream answers latency/length percentiles without a raw
    rescan."""
    import os as _os
    import shutil as _shutil

    from .streaming.rollup import RollupStore

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _os.path.join(
        "/tmp",
        f"cdis_{spark.sparkContext.applicationId}",
        f"rollup_q_{_os.path.basename(sf_dir.rstrip('/'))}",
    )
    _shutil.rmtree(path, ignore_errors=True)
    store = RollupStore(
        path, ["event_type"],
        hist_cols={"value": (0.0, 512.0, 64)},
        quantiles=[0.5, 0.9],
    )
    for i in range(3):
        store.apply(ev.filter(F.pmod("event_id", F.lit(3)) == i), batch_id=i)
    return store.snapshot(spark).select(
        "event_type", "n_rows", "p50_value", "p90_value"
    )


# ---------------------------------------------------------------------------
# Incremental KMV value sample (streaming/rollup.py sample_cols): per-type
# bottom-8 distinct user_ids by salted md5, maintained across three folds.
# Deterministic — the oracle ranks the same distinct values by the same
# salted hash over the full table.
# ---------------------------------------------------------------------------
@query(
    "rollup_sample_events",
    """
    WITH d AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY md5('s|' || v), v) AS rk
      FROM d
    )
    SELECT event_type, CAST(rk AS INT) AS rank, v AS sampled_value
    FROM r WHERE rk <= 8
    """,
)
def rollup_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type uniform sample of 8 distinct user ids maintained
    INCREMENTALLY (KMV bottom-k by salted md5, merged by
    union+sort+trim): the store's answer after three folds must equal
    ranking the full table's distinct values by the same hash — the
    'show example values per group' panel at O(groups * k) state."""
    import os as _os
    import shutil as _shutil

    from .streaming.rollup import RollupStore

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    path = _os.path.join(
        "/tmp",
        f"cdis_{spark.sparkContext.applicationId}",
        f"rollup_s_{_os.path.basename(sf_dir.rstrip('/'))}",
    )
    _shutil.rmtree(path, ignore_errors=True)
    store = RollupStore(path, ["event_type"], sample_cols={"user_id": 8})
    for i in range(3):
        store.apply(ev.filter(F.pmod("event_id", F.lit(3)) == i), batch_id=i)
    return (
        store.snapshot(spark)
        .select(
            "event_type",
            F.posexplode("sample_user_id").alias("pos", "sampled_value"),
        )
        .select(
            "event_type",
            (F.col("pos") + 1).cast("int").alias("rank"),
            "sampled_value",
        )
    )


# ---------------------------------------------------------------------------
# Robust statistics (operators/stats.py): per-group median + MAD — the
# outlier-proof location/scale pair for corpus quality thresholds.
# Medians round to 6 dp before the deviation pass so both engines (R-7
# interpolation on both sides) derive identical deviations and MADs.
# ---------------------------------------------------------------------------
@query(
    "value_mad_by_type",
    """
    WITH m AS (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS med_value,
             COUNT(*) AS n_rows
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_type, m.med_value, m.n_rows,
             abs(e.value - m.med_value) AS dev
      FROM events e JOIN m USING (event_type)
    )
    SELECT event_type, any_value(n_rows) AS n_rows,
           any_value(med_value) AS med_value,
           round(quantile_cont(dev, 0.5), 6) AS mad_value
    FROM d GROUP BY event_type
    """,
)
def value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median and MAD of the value column per event type — robust
    location/scale for outlier gating (compose with anomaly_zscore's
    shape, replacing mean/stddev when tails are heavy)."""
    from .operators.stats import robust_stats

    ev = _t(spark, sf_dir, "events")
    return robust_stats(ev, ["event_type"], "value")


# ---------------------------------------------------------------------------
# Round-13 additions beyond the verdict items: pipeline-monitoring and
# supervision operators — snapshot drift (PSI), multi-annotator label
# resolution + agreement, and per-entity temporal holdout.  All three
# follow the repo's float-parity contract (exact counts; single IEEE
# divisions; ln/ratios rounded to 6 dp; cross-bucket sums as exact
# DECIMALs) so the DuckDB oracle hashes bit-identically.
# ---------------------------------------------------------------------------
@query(
    "drift_psi_snapshots",
    """
    WITH base AS (SELECT * FROM events WHERE user_id % 3 <> 0),
    cur AS (SELECT * FROM events WHERE user_id % 3 = 0),
    bm AS (
      SELECT feature, bucket, count(*) AS base_n FROM (
        SELECT 'event_type' AS feature,
               COALESCE(event_type, '∅') AS bucket FROM base
        UNION ALL
        SELECT 'value', COALESCE(CAST(CAST(floor(value / 10.0) AS BIGINT)
                                      AS VARCHAR), '∅') FROM base
      ) GROUP BY 1, 2
    ),
    cm AS (
      SELECT feature, bucket, count(*) AS cur_n FROM (
        SELECT 'event_type' AS feature,
               COALESCE(event_type, '∅') AS bucket FROM cur
        UNION ALL
        SELECT 'value', COALESCE(CAST(CAST(floor(value / 10.0) AS BIGINT)
                                      AS VARCHAR), '∅') FROM cur
      ) GROUP BY 1, 2
    ),
    j AS (
      SELECT COALESCE(bm.feature, cm.feature) AS feature,
             COALESCE(bm.bucket, cm.bucket) AS bucket,
             COALESCE(base_n, 0) AS base_n, COALESCE(cur_n, 0) AS cur_n
      FROM bm FULL JOIN cm
        ON bm.feature = cm.feature AND bm.bucket = cm.bucket
    ),
    t AS (
      SELECT feature, base_n, cur_n,
             sum(base_n) OVER (PARTITION BY feature) AS base_t,
             sum(cur_n) OVER (PARTITION BY feature) AS cur_t
      FROM j
    ),
    terms AS (
      SELECT feature, base_t, cur_t,
        CAST(round(
          (CAST(cur_n AS DOUBLE) / cur_t - CAST(base_n AS DOUBLE) / base_t)
          * round(ln((CAST(cur_n AS DOUBLE) / cur_t + 1e-6)
                     / (CAST(base_n AS DOUBLE) / base_t + 1e-6)), 6),
          6) AS DECIMAL(18,6)) AS term
      FROM t
    )
    SELECT feature, CAST(sum(term) AS DOUBLE) AS psi,
           count(*) AS n_buckets,
           CAST(first(base_t) AS BIGINT) AS base_rows,
           CAST(first(cur_t) AS BIGINT) AS cur_rows
    FROM terms GROUP BY feature
    """,
)
def drift_psi_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift between two corpus snapshots
    (operators/stats.psi_drift_report) — the gate a recurring pipeline
    runs before trusting a new dump against the one the last model
    trained on.  Snapshots here are a deterministic 2:1 user split of
    events; features: event_type (categorical) and value in width-10
    bins.  One scan per side regardless of feature count (all features
    melt from the same pass); the join + PSI arithmetic run on the
    (features x buckets) metadata frame."""
    from .operators.stats import psi_drift_report

    ev = _t(spark, sf_dir, "events")
    return psi_drift_report(
        ev.filter(F.col("user_id") % 3 != 0),
        ev.filter(F.col("user_id") % 3 == 0),
        cat_cols=["event_type"],
        num_cols={"value": 10.0},
    )


_ANN_SQL = """
      SELECT event_id,
             CASE WHEN (event_id * 7 + {k} * 13) % 10 < 7 THEN event_type
                  WHEN (event_id + {k}) % 17 = 0 THEN NULL
                  ELSE CASE (event_id + {k}) % 5
                       WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                       WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                       ELSE 'view' END
             END AS a{k}
"""


def _annotated_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic synthetic annotators over events: each keeps
    the true event_type 70% of the time (by pure event_id arithmetic —
    portable across engines, unlike hash()), skips ~6% (NULL), and
    otherwise votes a pseudo-random label from the fixed domain."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    noisy = F.array(
        F.lit("click"), F.lit("error"), F.lit("purchase"),
        F.lit("signup"), F.lit("view"),
    )
    out = ev
    for k in (1, 2, 3):
        out = out.withColumn(
            f"a{k}",
            F.when(
                (F.col("event_id") * 7 + k * 13) % 10 < 7,
                F.col("event_type"),
            ).when(
                (F.col("event_id") + k) % 17 == 0, F.lit(None)
            ).otherwise(
                F.element_at(noisy, ((F.col("event_id") + k) % 5 + 1)
                             .cast("int"))
            ),
        )
    return out.select("event_id", "a1", "a2", "a3")


_ANN_CTE = "ann AS (SELECT event_id, event_type FROM events)"
_ANN_WIDE = (
    "wide AS (SELECT e.event_id,"
    + ",".join(
        _ANN_SQL.format(k=k).split("SELECT event_id,")[1] for k in (1, 2, 3)
    )
    + " FROM events e)"
)


@query(
    "label_majority_vote",
    """
    WITH """ + _ANN_WIDE + """,
    votes AS (
      SELECT event_id, lab, count(*) AS v FROM (
        SELECT event_id, a1 AS lab FROM wide
        UNION ALL SELECT event_id, a2 FROM wide
        UNION ALL SELECT event_id, a3 FROM wide
      ) WHERE lab IS NOT NULL GROUP BY 1, 2
    ),
    top AS (
      SELECT event_id, lab, v,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY v DESC, lab ASC) AS rn,
             sum(v) OVER (PARTITION BY event_id) AS nv
      FROM votes
    )
    SELECT event_id, lab AS label, CAST(v AS BIGINT) AS votes,
           CAST(nv AS BIGINT) AS n_votes, v = nv AS unanimous
    FROM top WHERE rn = 1
    """,
)
def label_majority_vote_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label resolution (operators/labels.majority_label)
    over three synthetic annotators: deterministic lexical tie-break,
    NULL votes don't count, all-skip items absent.  Scale: explode k
    columns (k map-side rows per item) + one window on the item key."""
    from .operators.labels import majority_label

    return majority_label(
        _annotated_events(spark, sf_dir), "event_id", ["a1", "a2", "a3"]
    )


@query(
    "annotator_pairwise_kappa",
    """
    WITH """ + _ANN_WIDE + """,
    pairs AS (
      SELECT 'a1' AS rater_a, 'a2' AS rater_b, a1 AS la, a2 AS lb
      FROM wide WHERE a1 IS NOT NULL AND a2 IS NOT NULL
      UNION ALL
      SELECT 'a1', 'a3', a1, a3 FROM wide
      WHERE a1 IS NOT NULL AND a3 IS NOT NULL
      UNION ALL
      SELECT 'a2', 'a3', a2, a3 FROM wide
      WHERE a2 IS NOT NULL AND a3 IS NOT NULL
    ),
    joint AS (
      SELECT rater_a, rater_b, la, lb, count(*) AS n
      FROM pairs GROUP BY 1, 2, 3, 4
    ),
    s AS (
      SELECT rater_a, rater_b, CAST(sum(n) AS BIGINT) AS n_items,
             CAST(sum(CASE WHEN la = lb THEN n ELSE 0 END) AS BIGINT)
               AS agree
      FROM joint GROUP BY 1, 2
    ),
    ma AS (SELECT rater_a, rater_b, la, sum(n) AS na FROM joint
           GROUP BY 1, 2, 3),
    mb AS (SELECT rater_a, rater_b, lb, sum(n) AS nb FROM joint
           GROUP BY 1, 2, 3),
    e AS (
      SELECT ma.rater_a, ma.rater_b,
             CAST(sum(na * nb) AS BIGINT) AS prod_sum
      FROM ma JOIN mb ON ma.rater_a = mb.rater_a
                     AND ma.rater_b = mb.rater_b AND ma.la = mb.lb
      GROUP BY 1, 2
    ),
    po AS (
      SELECT s.rater_a, s.rater_b, s.n_items,
             round(CAST(agree AS DOUBLE) / s.n_items, 6)
               AS observed_agreement,
             round(CAST(prod_sum AS DOUBLE)
                   / (CAST(s.n_items AS DOUBLE) * s.n_items), 6)
               AS expected_agreement
      FROM s JOIN e ON s.rater_a = e.rater_a AND s.rater_b = e.rater_b
    )
    SELECT rater_a, rater_b, n_items, observed_agreement,
           expected_agreement,
           CASE WHEN expected_agreement < 1.0
                THEN round((observed_agreement - expected_agreement)
                           / (1.0 - expected_agreement), 6)
           END AS kappa
    FROM po
    """,
)
def annotator_pairwise_kappa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for every annotator pair
    (operators/labels.pairwise_kappa): chance-corrected agreement from
    ratios of exact counts, pairwise NULL deletion, 6-dp parity
    rounding.  Scale: one label-set-sized aggregation per pair."""
    from .operators.labels import pairwise_kappa

    return pairwise_kappa(
        _annotated_events(spark, sf_dir), ["a1", "a2", "a3"]
    )


@query(
    "temporal_holdout_events",
    """
    WITH r AS (
      SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN rn <= greatest(CAST(floor(n * 0.8) AS BIGINT), 1)
                THEN 'train' ELSE 'test' END AS split
    FROM r
    """,
)
def temporal_holdout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity temporal holdout
    (operators/sampling.temporal_holdout_split): each user's earliest
    80% of events (by ts, event_id tie-break) train, the rest test —
    within every user no test row precedes a train row, the
    forecasting-eval contract a hash split cannot give.  One shuffle
    on the entity key; count and rank ride the same window."""
    from .operators.sampling import temporal_holdout_split

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return temporal_holdout_split(
        ev, "user_id", "ts", "event_id", train_frac=0.8
    ).select("event_id", "user_id", "split")


@query(
    "hard_negative_mining",
    f"""
    WITH v AS (SELECT vec_id, label,
                      CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    a AS (SELECT * FROM v WHERE vec_id % 53 = 0),
    scored AS (
      SELECT a.vec_id AS query_id, a.label AS query_label,
             v.vec_id AS neighbor_id, v.label AS neighbor_label,
             {_COS.format(a='a.e', b='v.e')} AS cosine
      FROM a JOIN v ON a.vec_id <> v.vec_id AND a.label <> v.label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored WHERE cosine <= 0.95
    ) WHERE rn <= 5
    """,
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining
    (operators/similarity.hard_negative_mining): for each anchor (a 2%
    deterministic sample) the 5 most-similar DIFFERENT-label vectors,
    near-duplicates excluded (cos > 0.95 = labeling conflict, not
    signal).  Brute-force baseline with broadcast anchors — the same
    declared pattern as similarity_cosine_topk; at scale, compose with
    IVF cell assignment per the docstring."""
    from .operators.similarity import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb, emb.filter(F.col("vec_id") % 53 == 0), k=5
    )


@query(
    "dawid_skene_labels",
    """
    WITH """ + _ANN_WIDE + """,
    votes AS (
      SELECT event_id AS i, 'a1' AS r, a1 AS l FROM wide WHERE a1 IS NOT NULL
      UNION ALL
      SELECT event_id, 'a2', a2 FROM wide WHERE a2 IS NOT NULL
      UNION ALL
      SELECT event_id, 'a3', a3 FROM wide WHERE a3 IS NOT NULL
    ),
    classes AS (SELECT DISTINCT l AS j FROM votes),
    nv AS (SELECT i, count(*) AS n_votes FROM votes GROUP BY i),
    counts AS (SELECT i, l AS j, count(*) AS c FROM votes GROUP BY 1, 2),
    grid AS (SELECT nv.i, nv.n_votes, classes.j FROM nv CROSS JOIN classes),
    T_0 AS (
      SELECT grid.i, grid.j,
             CAST(round((COALESCE(c, 0) + 0.01)
                        / (n_votes + 0.05), 6) AS DECIMAL(7,6)) AS t
      FROM grid LEFT JOIN counts
        ON counts.i = grid.i AND counts.j = grid.j
    ),
    prior_1 AS (
      SELECT j, CAST(round(ln(CAST(mass AS DOUBLE) / CAST(total AS DOUBLE)),
                           6) AS DECIMAL(11,6)) AS logp
      FROM (SELECT j, sum(t) AS mass FROM T_0 GROUP BY j) pm
      CROSS JOIN (SELECT sum(t) AS total FROM T_0) pt
    ),
    joint_1 AS (
      SELECT v.r, T.j, v.l, sum(T.t) AS m
      FROM votes v JOIN T_0 T ON v.i = T.i
      GROUP BY 1, 2, 3
    ),
    rowm_1 AS (SELECT r, j, sum(m) AS rm FROM joint_1 GROUP BY 1, 2),
    logpi_1 AS (
      SELECT jt.r, jt.j, jt.l,
             CAST(round(ln((CAST(m AS DOUBLE) + 0.01)
                           / (CAST(rm AS DOUBLE) + 0.05)),
                        6) AS DECIMAL(11,6)) AS logpi
      FROM joint_1 jt JOIN rowm_1 USING (r, j)
    ),
    lognum_1 AS (
      SELECT sv.i, sv.j, sv.s + pr.logp AS ln_num
      FROM (
        SELECT v.i, lp.j, sum(lp.logpi) AS s
        FROM votes v JOIN logpi_1 lp ON v.r = lp.r AND v.l = lp.l
        GROUP BY 1, 2
      ) sv JOIN prior_1 pr ON sv.j = pr.j
    ),
    T_1 AS (
      SELECT i, j, CAST(round(CAST(e AS DOUBLE) / CAST(den AS DOUBLE), 6)
                        AS DECIMAL(7,6)) AS t
      FROM (
        SELECT i, j, e, sum(e) OVER (PARTITION BY i) AS den FROM (
          SELECT i, j,
                 CAST(round(exp(CAST(ln_num - mx AS DOUBLE)), 12)
                      AS DECIMAL(20,12)) AS e
          FROM (SELECT i, j, ln_num,
                       max(ln_num) OVER (PARTITION BY i) AS mx
                FROM lognum_1) z
        ) y
      ) x
    ),
    prior_2 AS (
      SELECT j, CAST(round(ln(CAST(mass AS DOUBLE) / CAST(total AS DOUBLE)),
                           6) AS DECIMAL(11,6)) AS logp
      FROM (SELECT j, sum(t) AS mass FROM T_1 GROUP BY j) pm
      CROSS JOIN (SELECT sum(t) AS total FROM T_1) pt
    ),
    joint_2 AS (
      SELECT v.r, T.j, v.l, sum(T.t) AS m
      FROM votes v JOIN T_1 T ON v.i = T.i
      GROUP BY 1, 2, 3
    ),
    rowm_2 AS (SELECT r, j, sum(m) AS rm FROM joint_2 GROUP BY 1, 2),
    logpi_2 AS (
      SELECT jt.r, jt.j, jt.l,
             CAST(round(ln((CAST(m AS DOUBLE) + 0.01)
                           / (CAST(rm AS DOUBLE) + 0.05)),
                        6) AS DECIMAL(11,6)) AS logpi
      FROM joint_2 jt JOIN rowm_2 USING (r, j)
    ),
    lognum_2 AS (
      SELECT sv.i, sv.j, sv.s + pr.logp AS ln_num
      FROM (
        SELECT v.i, lp.j, sum(lp.logpi) AS s
        FROM votes v JOIN logpi_2 lp ON v.r = lp.r AND v.l = lp.l
        GROUP BY 1, 2
      ) sv JOIN prior_2 pr ON sv.j = pr.j
    ),
    T_2 AS (
      SELECT i, j, CAST(round(CAST(e AS DOUBLE) / CAST(den AS DOUBLE), 6)
                        AS DECIMAL(7,6)) AS t
      FROM (
        SELECT i, j, e, sum(e) OVER (PARTITION BY i) AS den FROM (
          SELECT i, j,
                 CAST(round(exp(CAST(ln_num - mx AS DOUBLE)), 12)
                      AS DECIMAL(20,12)) AS e
          FROM (SELECT i, j, ln_num,
                       max(ln_num) OVER (PARTITION BY i) AS mx
                FROM lognum_2) z
        ) y
      ) x
    )
    SELECT i AS event_id, j AS label, CAST(t AS DOUBLE) AS confidence,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM (
      SELECT i, j, t,
             row_number() OVER (PARTITION BY i
                                ORDER BY t DESC, j ASC) AS rn
      FROM T_2
    ) f JOIN nv USING (i)
    WHERE rn = 1
    """,
)
def dawid_skene_labels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dawid-Skene EM label resolution (operators/labels.dawid_skene)
    over the three synthetic annotators: two EM rounds of per-rater
    confusion matrices from a smoothed vote-share init — the rater that
    votes noise gets downweighted, unlike majority_label.  The oracle
    UNROLLS both EM rounds into pure SQL (the BPE-training pattern):
    every cross-row sum is an exact DECIMAL, each ln/exp is rounded and
    checkpointed, so DuckDB reproduces the posterior bit-for-bit.
    Scale: the votes arrive wide (one column per annotator), so the
    per-item vote pattern is a projection; with 3 raters and 5 labels
    there are at most 6^3 = 216 distinct patterns at any scale, so
    ``dawid_skene_wide`` runs the EM driver-side over them and the
    answer broadcast-joins back."""
    from .operators.labels import dawid_skene_wide

    return dawid_skene_wide(
        _annotated_events(spark, sf_dir),
        item_col="event_id", rater_cols=["a1", "a2", "a3"],
        iterations=2, smoothing=0.01,
    )


@query(
    "resample_gapfill_events",
    """
    WITH obs AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS vsum
      FROM events GROUP BY 1, 2
    ),
    nxt AS (
      SELECT *, lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd
      FROM obs
    ),
    g AS (
      SELECT user_id,
             unnest(generate_series(day, coalesce(nd - INTERVAL 1 DAY, day),
                                    INTERVAL 1 DAY)) AS gday,
             day, n, vsum
      FROM nxt
    )
    SELECT user_id, strftime(CAST(gday AS DATE), '%Y-%m-%d') AS day,
           CAST(CASE WHEN CAST(gday AS DATE) = day THEN n ELSE 0 END
                AS BIGINT) AS n_events,
           CAST(gday AS DATE) <> day AS filled,
           CAST(vsum AS DOUBLE) AS value_sum_locf
    FROM g
    """,
)
def resample_gapfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily gap-fill resampling with LOCF
    (operators/temporal.gapfill_locf): every user gets a row for EVERY
    day of their active span; zero-traffic days carry the preceding
    day's exact value sum forward — the hypertable ``time_bucket_gapfill
    + locf`` primitive per-day features and forecasting joins need.
    Gap rows are GENERATED map-side from each observed day's lead, not
    joined against a calendar: two shuffles total ((user, day) aggregate
    + per-user window), no grid join, no fill window."""
    from .operators.temporal import gapfill_locf

    ev = _t(spark, sf_dir, "events")
    out = gapfill_locf(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "filled",
        "value_sum_locf",
    )


@query(
    "krippendorff_alpha_events",
    """
    WITH """ + _ANN_WIDE + """,
    votes AS (
      SELECT u, lab, count(*) AS n_uc FROM (
        SELECT event_id AS u, a1 AS lab FROM wide
        UNION ALL SELECT event_id, a2 FROM wide
        UNION ALL SELECT event_id, a3 FROM wide
      ) WHERE lab IS NOT NULL GROUP BY 1, 2
    ),
    pairable AS (
      SELECT u, lab, n_uc, sum(n_uc) OVER (PARTITION BY u) AS m_u
      FROM votes QUALIFY m_u >= 2
    ),
    unit AS (
      SELECT u, first(m_u) AS m_u, sum(n_uc * n_uc) AS s2_u
      FROM pairable GROUP BY u
    ),
    do_t AS (
      -- floor-quantized, not round(double, 6): engine-portable (the
      -- ols_trend divergence class; exact halves only up to 3 raters)
      SELECT count(*) AS n_units,
             sum(CAST(floor((CAST(m_u * m_u - s2_u AS DOUBLE) / (m_u - 1))
                            * 1000000.0 + 0.5) / 1000000.0
                      AS DECIMAL(18,6))) AS do_total
      FROM unit
    ),
    marg AS (
      SELECT count(*) AS n_labels, sum(n_c) AS n, sum(n_c * n_c) AS s2_c
      FROM (SELECT lab, sum(n_uc) AS n_c FROM pairable GROUP BY lab)
    )
    SELECT CAST(n_units AS BIGINT) AS n_units,
           CAST(n AS BIGINT) AS n_votes,
           CAST(n_labels AS BIGINT) AS n_labels,
           floor((CAST(do_total AS DOUBLE) / n) * 1000000.0 + 0.5)
             / 1000000.0 AS observed_disagreement,
           floor((CAST(n * n - s2_c AS DOUBLE) / (n * (n - 1)))
                 * 1000000.0 + 0.5) / 1000000.0 AS expected_disagreement,
           CASE WHEN n * n - s2_c > 0 THEN
             floor((1.0 - (n - 1) * CAST(do_total AS DOUBLE)
                    / (n * n - s2_c)) * 1000000.0 + 0.5) / 1000000.0
           END AS alpha
    FROM do_t, marg
    """,
)
def krippendorff_alpha_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) over the three synthetic
    annotators (operators/labels.krippendorff_alpha) — the
    missing-data-tolerant agreement coefficient next to pairwise kappa:
    one number for the whole annotator pool, units with a skipped vote
    still contribute their pairable information.  All counts exact, the
    per-unit disagreement terms are exact halves in DECIMAL, alpha is
    one ratio rounded at 6 dp.  Scale: one (item, label) aggregation +
    two metadata-sized reductions; the 1x1 final combine is the
    allowlisted single-row cross join."""
    from .operators.labels import krippendorff_alpha

    return krippendorff_alpha(
        _annotated_events(spark, sf_dir), "event_id", ["a1", "a2", "a3"],
        assume_unique_units=True,  # event_id is the events PK
    )


@query(
    "retrieval_eval_metrics",
    """
    WITH toks AS (
      SELECT doc_id AS id, w AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    postings AS (SELECT term, id, count(*) AS tf FROM toks GROUP BY term, id),
    doclen AS (SELECT id, sum(tf) AS dl FROM postings GROUP BY id),
    nd AS (SELECT count(*) AS n FROM documents),
    avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
    tt AS (SELECT term, sum(tf) AS c FROM postings GROUP BY term),
    top AS (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
      FROM tt ORDER BY c DESC, term ASC LIMIT 15
    ),
    q AS (SELECT CAST((rn - 1) // 3 AS BIGINT) AS query_id, term FROM top),
    dfq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    hits AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                   6) AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term
      JOIN doclen d2 ON d2.id = p.id, nd, avg
    ),
    sc AS (SELECT query_id, id AS doc_id, sum(c) AS s
           FROM hits GROUP BY 1, 2),
    run AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id ASC) AS rank
        FROM sc) WHERE rank <= 10
    ),
    langs AS (
      SELECT lang, row_number() OVER (ORDER BY lang ASC) - 1 AS query_id
      FROM (SELECT DISTINCT lang FROM documents)
    ),
    jg AS (
      SELECT l.query_id, d.doc_id,
             CAST(1 + d.n_chars % 3 AS BIGINT) AS grade
      FROM documents d JOIN langs l ON d.lang = l.lang
    ),
    scored AS (
      SELECT r.query_id, r.doc_id, r.rank, jg.grade
      FROM run r LEFT JOIN jg ON r.query_id = jg.query_id
                             AND r.doc_id = jg.doc_id
    ),
    perq AS (
      SELECT query_id,
             sum(CASE WHEN coalesce(grade, 0) >= 2 THEN 1 ELSE 0 END)
               AS hits_k,
             min(CASE WHEN coalesce(grade, 0) >= 2 THEN rank END)
               AS first_rel,
             sum(CAST(round((pow(2.0, coalesce(grade, 0)) - 1.0)
                            / log2(rank + 1.0), 6) AS DECIMAL(18,6)))
               AS dcg
      FROM scored GROUP BY 1
    ),
    ideal AS (
      SELECT query_id,
             sum(CAST(round((pow(2.0, grade) - 1.0)
                            / log2(irank + 1.0), 6) AS DECIMAL(18,6)))
               AS idcg
      FROM (SELECT query_id, grade, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY grade DESC, doc_id ASC)
                     AS irank
            FROM jg) WHERE irank <= 10 GROUP BY 1
    ),
    nr AS (SELECT query_id, count(*) AS n_rel FROM jg
           WHERE grade >= 2 GROUP BY 1)
    SELECT p.query_id,
           CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
           CAST(hits_k AS BIGINT) AS hits_k,
           round(CAST(hits_k AS DOUBLE) / 10, 6) AS precision_k,
           CASE WHEN coalesce(n_rel, 0) > 0
                THEN round(CAST(hits_k AS DOUBLE) / n_rel, 6) END
             AS recall_k,
           coalesce(round(1.0 / first_rel, 6), 0.0) AS rr_k,
           CASE WHEN coalesce(idcg, 0) > 0
                THEN round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
           END AS ndcg_k
    FROM perq p LEFT JOIN ideal ON p.query_id = ideal.query_id
                LEFT JOIN nr ON p.query_id = nr.query_id
    """,
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the BM25 run
    (operators/retrieval.retrieval_eval): precision/recall@10, MRR and
    graded nDCG@10 against judgments that come from an INDEPENDENT
    signal (each query_id is a document language; grade 1-3 from a
    deterministic n_chars hash) — the external-labels shape real
    retrieval eval has, and the reason the metrics spread instead of
    saturating (every top-15 corpus term matches ~77% of this synthetic
    corpus).  Reuses the session BM25 index; the metric pipeline joins
    run x judgments on the query key only — evaluation-sized, no corpus
    rescan."""
    from pyspark.sql import Window

    from .operators.retrieval import bm25_topk, retrieval_eval

    idx, q = _ensure_bm25_index(spark, sf_dir)
    run = bm25_topk(idx, q, k=10)
    docs = _t(spark, sf_dir, "documents")
    wl = Window.orderBy(F.col("lang").asc())
    langs = (
        docs.select("lang").distinct()
        .select("lang", (F.row_number().over(wl) - 1)
                .cast("bigint").alias("query_id"))
    )
    judgments = docs.join(langs, "lang").select(
        "query_id",
        "doc_id",
        (F.lit(1) + F.col("n_chars") % 3).cast("bigint").alias("grade"),
    )
    return retrieval_eval(run, judgments, k=10, rel_threshold=2)


@query(
    "markov_stationary_events",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ),
    t AS (SELECT prev AS prev_state, event_type AS next_state,
                 count(*) AS n
          FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    -- floor-quantization, NOT round(double, 6): Spark rounds the
    -- double's shortest decimal string, DuckDB the exact binary value
    -- (the ols_trend divergence class) — floor on the same double is
    -- identical in every engine
    tm AS (
      SELECT prev_state, next_state,
             CAST(floor((CAST(n AS DOUBLE)
                         / sum(n) OVER (PARTITION BY prev_state))
                        * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS prob
      FROM t
    ),
    states AS (SELECT DISTINCT prev_state AS state FROM tm),
    p0 AS (SELECT state,
                  CAST(floor((1.0 / (SELECT count(*) FROM states))
                             * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(18,6)) AS p
           FROM states),
    p1 AS (SELECT next_state AS state,
                  CAST(round(sum(p * prob), 6) AS DECIMAL(18,6)) AS p
           FROM p0 JOIN tm ON p0.state = tm.prev_state GROUP BY 1),
    p2 AS (SELECT next_state AS state,
                  CAST(round(sum(p * prob), 6) AS DECIMAL(18,6)) AS p
           FROM p1 JOIN tm ON p1.state = tm.prev_state GROUP BY 1),
    p3 AS (SELECT next_state AS state,
                  CAST(round(sum(p * prob), 6) AS DECIMAL(18,6)) AS p
           FROM p2 JOIN tm ON p2.state = tm.prev_state GROUP BY 1)
    SELECT p0.state, CAST(p0.p AS DOUBLE) AS p_uniform,
           CAST(p3.p AS DOUBLE) AS p_stationary
    FROM p0 LEFT JOIN p3 ON p0.state = p3.state
    """,
)
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov dynamics of user event sequences
    (operators/temporal.markov_transitions + markov_stationary): the
    row-normalized transition matrix of consecutive event types per
    user, then THREE power-iteration steps from uniform — where
    behavior settles.  The oracle unrolls the iterations as CTEs (the
    dawid_skene pattern); every step is exact-DECIMAL multiply-sum
    rounded at 6 dp, so join order and engine cannot change a bit.
    Scale: one per-user lag window over the corpus; everything after is
    alphabet-squared metadata (persisted once, broadcast to each
    step)."""
    from .operators.temporal import markov_stationary, markov_transitions

    ev = _t(spark, sf_dir, "events")
    trans = markov_transitions(ev, "user_id", "ts", "event_type", "event_id")
    out = markov_stationary(trans, steps=3)
    return out.select(
        "state",
        F.col("p_uniform").cast("double").alias("p_uniform"),
        F.col("p_stationary").cast("double").alias("p_stationary"),
    )


@query(
    "dup_provenance_sources",
    f"""
    WITH {_SHINGLE_SQL},
    csh AS (SELECT doc_id, s FROM sh
            QUALIFY count(*) OVER (PARTITION BY s) <= 500),
    sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM csh a JOIN csh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc_id
      JOIN sizes sb ON inter.doc_b = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
    )
    SELECT least(a.source, b.source) AS source_a,
           greatest(a.source, b.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs JOIN documents a ON pairs.doc_a = a.doc_id
               JOIN documents b ON pairs.doc_b = b.doc_id
    GROUP BY 1, 2
    """,
)
def dup_provenance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-flow matrix
    (operators/dedup.duplicate_provenance): near-duplicate pairs at
    exact 5-gram Jaccard >= 0.8 (the posting-list pairing, df-capped)
    rolled up to unordered (source, source) cells — which feeds mirror
    each other, the triage a dedup-order policy between crawls needs.
    The pair list is tiny after thresholding; the rollup's state is the
    sources-squared matrix.  Within-source duplication appears on the
    diagonal."""
    from .operators.dedup import duplicate_provenance, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, n=5, threshold=0.8, persist_shingles=True,
        shingles=_doc_shingles(spark, sf_dir),
    )
    return duplicate_provenance(
        pairs.select("doc_a", "doc_b"), docs.select("doc_id", "source")
    )


@query(
    "vocab_oov_rate",
    """
    WITH toks AS (
      SELECT lang AS grp, w AS tok, count(*) AS n
      FROM (SELECT lang, unnest(string_split(coalesce(text, ''), ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1, 2
    ),
    tt AS (SELECT tok, sum(n) AS c FROM toks GROUP BY 1),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
        FROM tt
      ) WHERE rn <= 16
    )
    SELECT grp AS lang, CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN n ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(sum(CASE WHEN v.tok IS NULL THEN n ELSE 0 END)
                      AS DOUBLE) / sum(n), 6) AS oov_rate
    FROM toks LEFT JOIN vocab v ON toks.tok = v.tok
    GROUP BY 1
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV-rate report against the corpus-global top-16
    token types (operators/text.vocab_coverage) — the tokenizer-budget
    and per-language drift probe.  One corpus tokenization feeds both
    the vocab-bounded type table and the per-(lang, token) counts; the
    16-row vocab broadcasts; nothing corpus-sized shuffles."""
    from .operators.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, 16, "text", "lang")


@query(
    "doremi_mixture_weights",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE len(term) >= 1 GROUP BY doc_id, term
    ),
    vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    lp AS (
      SELECT term,
             CAST(round(ln(CAST(cnt AS DOUBLE) / total), 6)
                  AS DECIMAL(18,6)) AS logp
      FROM vocab, tot
    ),
    dl AS (
      SELECT tf.doc_id,
             -round(CAST(sum(tf.tf * lp.logp) AS DOUBLE)
                    / CAST(sum(tf.tf) AS DOUBLE), 6) AS loss
      FROM tf JOIN lp USING (term) GROUP BY tf.doc_id
    ),
    per AS (
      SELECT d.source AS grp, count(*) AS n_docs,
             CAST(round(CAST(sum(CAST(loss AS DECIMAL(18,6))) AS DOUBLE)
                        / count(*), 6) AS DECIMAL(18,6)) AS avg_loss
      FROM dl JOIN documents d USING (doc_id) GROUP BY 1
    ),
    ex AS (
      SELECT grp, n_docs, avg_loss,
             avg_loss - min(avg_loss) OVER () AS excess
      FROM per
    ),
    f AS (
      SELECT *, CAST(round(exp(1.0 * CAST(excess AS DOUBLE)), 12)
                     AS DECIMAL(20,12)) AS fac
      FROM ex
    )
    SELECT grp AS source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(avg_loss AS DOUBLE) AS avg_loss,
           CAST(excess AS DOUBLE) AS excess,
           round(0.75 * (CAST(fac AS DOUBLE)
                         / CAST(sum(fac) OVER () AS DOUBLE))
                 + 0.25 / count(*) OVER (), 6) AS weight
    FROM f
    """,
)
def doremi_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting step
    (operators/sampling.doremi_reweight): per-source proxy loss = the
    negated corpus-unigram log-probability (the cheap stand-in for the
    reference model's loss), one exponentiated-gradient update from the
    excess over the easiest domain, smoothed 25% toward uniform.  The
    corpus-scale cost is the loss table (one tokenization, the
    unigram_logprob_score machinery); the reweighting itself is
    domains-sized windows.  Smoothing 0.25 and eta 1.0 are exact binary
    literals so both engines compute identical arithmetic."""
    from .operators.sampling import doremi_reweight
    from .operators.text import unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    losses = (
        unigram_logprob_score(docs.select("doc_id", "text"))
        .select("doc_id", (-F.col("avg_logprob")).alias("loss"))
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    return doremi_reweight(
        losses, group_col="source", loss_col="loss", eta=1.0, smoothing=0.25
    )


@query(
    "asof_forward_conversion",
    """
    WITH s AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'signup'),
    p AS (SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'purchase'),
    m AS (
      SELECT s.event_id, p.event_id AS pid, p.ts AS pts, p.value AS pval,
             row_number() OVER (PARTITION BY s.event_id
                                ORDER BY p.ts ASC, p.event_id ASC) AS rn
      FROM s JOIN p ON s.user_id = p.user_id AND p.ts >= s.ts
    )
    SELECT s.event_id, s.user_id,
           m.pid AS next_purchase_id,
           CAST(date_diff('microsecond', s.ts, m.pts) AS BIGINT) AS wait_us,
           m.pval AS next_value
    FROM s LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      ON s.event_id = m.event_id
    """,
)
def asof_forward_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/temporal.asof_join,
    direction='forward'): for every signup event, the user's earliest
    at-or-after purchase and the wait in microseconds — the
    time-to-conversion join.  Same single-pass plan as the backward row
    (`asof_join_latest_order`): union-tagged stream, ONE key shuffle,
    one per-partition sort traversed in reverse — never a range join.
    The oracle is the naive range join + row_number, which is the
    semantics; the operator is the scale-shaped plan."""
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event"),
        F.col("value").alias("p_value"),
    )
    j = asof_join(
        signups,
        purchases,
        left_on="user_id",
        right_on="p_user",
        left_time="ts",
        right_time="p_ts",
        value_cols=["p_event", "p_ts", "p_value"],
        tie_col="p_event",
        direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("asof_p_event").alias("next_purchase_id"),
        (
            F.unix_micros(F.col("asof_p_ts").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).cast("bigint").alias("wait_us"),
        F.col("asof_p_value").alias("next_value"),
    )


@query(
    "connected_components_chain",
    """
    WITH r AS (
      SELECT event_id,
             count(*) OVER (PARTITION BY user_id) AS cnt,
             min(event_id) OVER (PARTITION BY user_id) AS mn
      FROM events
    )
    SELECT event_id AS doc_id, mn AS cluster_id FROM r WHERE cnt >= 2
    """,
)
def connected_components_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase star contraction on a CHAIN-shaped graph
    (operators/cluster.connected_components, algorithm='star'): edges
    link each user's consecutive events, so every component is a path
    whose diameter is the user's event count (~67 at sf0.01) — the
    shape where min-label propagation needs O(diameter) rounds and the
    large-star/small-star algorithm (Kiveris et al.) converges in
    O(log n).  This row executes the star path against planted
    long-diameter components; the oracle states the ground truth
    directly (every user's chain collapses to the user's min event_id;
    single-event users have no edges and are absent)."""
    from pyspark.sql import Window

    from .operators.cluster import connected_components

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    edges = (
        ev.withColumn("__prev__", F.lag("event_id").over(w))
        .filter(F.col("__prev__").isNotNull())
        .select(
            F.col("__prev__").alias("doc_a"),
            F.col("event_id").alias("doc_b"),
        )
    )
    return connected_components(
        edges, algorithm="star", pairs_distinct=True
    )


@query(
    "retrieval_rank_agreement",
    """
    WITH toks AS (
      SELECT doc_id AS id, w AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    postings AS (SELECT term, id, count(*) AS tf FROM toks GROUP BY term, id),
    doclen AS (SELECT id, sum(tf) AS dl FROM postings GROUP BY id),
    nd AS (SELECT count(*) AS n FROM documents),
    avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
    ctot AS (SELECT CAST(sum(dl) AS DOUBLE) AS c_tot FROM doclen),
    tt AS (SELECT term, sum(tf) AS c FROM postings GROUP BY term),
    top AS (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
      FROM tt ORDER BY c DESC, term ASC LIMIT 15
    ),
    q AS (SELECT CAST((rn - 1) // 3 AS BIGINT) AS query_id, term FROM top),
    dfq AS (SELECT term, count(*) AS df, sum(tf) AS cf
            FROM postings GROUP BY term),
    bm_hits AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                   6) AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term
      JOIN doclen d2 ON d2.id = p.id, nd, avg
    ),
    bm_best AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM (SELECT query_id, id AS doc_id, sum(c) AS s
            FROM bm_hits GROUP BY query_id, id)
    ),
    nq AS (SELECT query_id, count(*) AS nq FROM q GROUP BY query_id),
    ql_contrib AS (
      SELECT q.query_id, p.id,
        CAST(round(ln(1.0 + p.tf / (100.0 * cf / c_tot)), 6)
             AS DECIMAL(18,6)) AS c
      FROM postings p JOIN q ON p.term = q.term
      JOIN dfq ON dfq.term = p.term, ctot
    ),
    ql_best AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM (
        SELECT s.query_id, s.doc_id,
               CAST(round(-nq.nq * ln(d.dl + 100.0), 6) AS DECIMAL(18,6))
               + s.cs AS s
        FROM (SELECT query_id, id AS doc_id, sum(c) AS cs
              FROM ql_contrib GROUP BY query_id, id) s
        JOIN doclen d ON d.id = s.doc_id
        JOIN nq ON nq.query_id = s.query_id
      )
    ),
    a AS (SELECT query_id, doc_id, rank AS ra FROM bm_best
          WHERE rank <= 10),
    b AS (SELECT query_id, doc_id, rank AS rb FROM ql_best
          WHERE rank <= 10),
    u AS (
      SELECT coalesce(a.query_id, b.query_id) AS qid,
             coalesce(a.doc_id, b.doc_id) AS doc, ra, rb
      FROM a FULL JOIN b ON a.query_id = b.query_id
                        AND a.doc_id = b.doc_id
    ),
    sets AS (
      SELECT qid, count(*) AS n_union,
             sum(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_common
      FROM u GROUP BY 1
    ),
    c AS (SELECT qid, doc, ra, rb FROM u
          WHERE ra IS NOT NULL AND rb IS NOT NULL),
    t AS (
      SELECT x.qid,
             sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                      THEN 1 ELSE -1 END) AS cd,
             count(*) AS np
      FROM c x JOIN c y ON x.qid = y.qid AND x.doc < y.doc
      GROUP BY 1
    )
    SELECT s.qid AS query_id,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / n_union, 6) AS jaccard_k,
           CASE WHEN np >= 1
                THEN round(CAST(cd AS DOUBLE) / np, 6) END AS kendall_tau
    FROM sets s LEFT JOIN t ON s.qid = t.qid
    """,
)
def retrieval_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank agreement between the BM25 and Dirichlet query-likelihood
    runs over the shared index (operators/retrieval.rank_agreement):
    Jaccard@10 of the retrieved sets + exact Kendall's tau over the
    common documents — the A/B diagnostic a retriever swap needs.
    Both runs reuse the per-(session, sf_dir) index; the agreement math
    joins rank lists on the query key only (k(k-1)/2 pairs per query),
    corpus-independent."""
    from .operators.retrieval import bm25_topk, lm_qlik_topk, rank_agreement

    idx, q = _ensure_bm25_index(spark, sf_dir)
    bm = bm25_topk(idx, q, k=10)
    ql = lm_qlik_topk(idx, q, k=10, mu=100.0)
    return rank_agreement(bm, ql, k=10)


@query(
    "similarity_matryoshka_recall",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    t AS (SELECT vec_id, e[1:32] AS e FROM v),
    qf AS (SELECT * FROM v WHERE vec_id % 100 = 0),
    qt AS (SELECT * FROM t WHERE vec_id % 100 = 0),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a='q.e', b='v.e')} DESC, v.vec_id)
                 AS rn
        FROM qf q JOIN v ON q.vec_id <> v.vec_id
      ) WHERE rn <= 5
    ),
    tr_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a='q.e', b='t.e')} DESC, t.vec_id)
                 AS rn
        FROM qt q JOIN t ON q.vec_id <> t.vec_id
      ) WHERE rn <= 5
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           round(CAST(count(t.neighbor_id) AS DOUBLE) / 5, 6)
             AS recall_at_k
    FROM full_top f LEFT JOIN tr_top t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY 1
    """,
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-truncation recall audit
    (operators/similarity.truncation_recall): exact cosine top-5 over
    the first 32 of 64 components vs the full vectors — the
    Matryoshka-deployment question "how much neighborhood does the
    cheaper index keep?".  On these unstructured synthetic embeddings
    the answer is ~0.36 (MRL-trained embeddings would score high) —
    which is exactly why the audit runs BEFORE shipping a truncation.
    Both passes are the declared brute-force baseline (broadcast
    queries); the audit join is rank-list-sized."""
    from .operators.similarity import truncation_recall

    emb = _t(spark, sf_dir, "embeddings")
    return truncation_recall(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=5, dims=32
    )


@query(
    "trend_slope_per_user",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS y
      FROM events GROUP BY 1, 2
    ),
    -- ols_trend's null contract: a point with a missing coordinate is
    -- dropped before the sums (here only y can be NULL — an all-NULL
    -- value day); mirrored from the operator
    pts AS (SELECT user_id,
                   date_diff('day', DATE '2024-01-01', day) AS x, y
            FROM daily WHERE y IS NOT NULL),
    s AS (
      SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pts GROUP BY 1
    ),
    d AS (
      SELECT user_id, n, sx, sy,
        CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
      FROM s
    ),
    -- floor-quantization, NOT round(double, 6): Spark's round() goes
    -- through the shortest decimal string while DuckDB rounds the exact
    -- binary value — they disagree when a quotient lands within an ulp
    -- of a .5 boundary (observed at sf0.1).  floor on the same double
    -- is identical in every engine.
    sl AS (SELECT *, CASE WHEN denx > 0 THEN
                       floor((num / denx) * 1000000.0 + 0.5) / 1000000.0
                     END AS slope FROM d)
    SELECT user_id, CAST(n AS BIGINT) AS n_points, slope,
           CASE WHEN slope IS NOT NULL
                THEN floor(((CAST(sy AS DOUBLE) - slope * sx) / n)
                           * 1000000.0 + 0.5) / 1000000.0 END
             AS intercept,
           CASE WHEN denx > 0 AND deny > 0
                THEN floor((pow(num, 2) / (denx * deny))
                           * 1000000.0 + 0.5) / 1000000.0 END AS r2
    FROM sl
    """,
)
def trend_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS spend trend (operators/stats.ols_trend): slope,
    intercept and r² of the daily value sum over the day offset — the
    per-entity drift detector that turns a month of history into one
    monitorable number.  The five sufficient sums accumulate exactly
    (integral x, DECIMAL y), combine in deterministic double
    arithmetic, and the whole operator is two hash aggregations — scan
    shaped, no window, no join."""
    from .operators.stats import ols_trend

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("y")
    )
    pts = daily.select(
        "user_id",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .alias("x"),
        "y",
    )
    return ols_trend(pts, "user_id", "x", "y")


@query(
    "pagerank_event_graph",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ),
    t AS (SELECT prev AS prev_state, event_type AS next_state,
                 count(*) AS n
          FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    -- floor-quantization, NOT round(double, 6): Spark rounds the
    -- double's shortest decimal string, DuckDB the exact binary value
    -- (the ols_trend divergence class) — floor on the same double is
    -- identical in every engine
    tm AS (
      SELECT prev_state, next_state,
             CAST(floor((CAST(n AS DOUBLE)
                         / sum(n) OVER (PARTITION BY prev_state))
                        * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS prob
      FROM t
    ),
    states AS (SELECT DISTINCT prev_state AS state FROM tm),
    ns AS (SELECT count(*) AS s FROM states),
    p0 AS (SELECT state,
                  CAST(floor((1.0 / (SELECT s FROM ns))
                             * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(18,6)) AS p
           FROM states),
    i1 AS (SELECT next_state AS state,
                  CAST(round(sum(p * prob), 6) AS DECIMAL(18,6)) AS p
           FROM p0 JOIN tm ON p0.state = tm.prev_state GROUP BY 1),
    p1 AS (SELECT s.state,
                  CAST(floor((0.125 / (SELECT s FROM ns)
                              + 0.875 * CAST(coalesce(i1.p, 0) AS DOUBLE))
                             * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(18,6)) AS p
           FROM states s LEFT JOIN i1 ON s.state = i1.state),
    i2 AS (SELECT next_state AS state,
                  CAST(round(sum(p * prob), 6) AS DECIMAL(18,6)) AS p
           FROM p1 JOIN tm ON p1.state = tm.prev_state GROUP BY 1),
    p2 AS (SELECT s.state,
                  CAST(floor((0.125 / (SELECT s FROM ns)
                              + 0.875 * CAST(coalesce(i2.p, 0) AS DOUBLE))
                             * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(18,6)) AS p
           FROM states s LEFT JOIN i2 ON s.state = i2.state),
    i3 AS (SELECT next_state AS state,
                  CAST(round(sum(p * prob), 6) AS DECIMAL(18,6)) AS p
           FROM p2 JOIN tm ON p2.state = tm.prev_state GROUP BY 1),
    p3 AS (SELECT s.state,
                  CAST(floor((0.125 / (SELECT s FROM ns)
                              + 0.875 * CAST(coalesce(i3.p, 0) AS DOUBLE))
                             * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(18,6)) AS p
           FROM states s LEFT JOIN i3 ON s.state = i3.state)
    SELECT p0.state, CAST(p0.p AS DOUBLE) AS p_uniform,
           CAST(p3.p AS DOUBLE) AS p_stationary
    FROM p0 LEFT JOIN p3 ON p0.state = p3.state
    """,
)
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph
    (operators/temporal.markov_stationary with damping=0.875): the
    damped power iteration — teleport share (1-d)/S to every state each
    round, so unreachable states don't starve and the chain is
    irreducible (Brin & Page, public method).  Damping 0.875 = 7/8 is
    an exact binary literal, so Python's ``1 - damping`` equals the
    oracle's 0.125 bit-for-bit.  Same scale shape as the undamped
    markov row: matrix persisted once and broadcast; each round adds
    one alphabet-sized teleport re-join."""
    from .operators.temporal import markov_stationary, markov_transitions

    ev = _t(spark, sf_dir, "events")
    trans = markov_transitions(ev, "user_id", "ts", "event_type", "event_id")
    out = markov_stationary(trans, steps=3, damping=0.875)
    return out.select(
        "state",
        F.col("p_uniform").cast("double").alias("p_uniform"),
        F.col("p_stationary").cast("double").alias("p_stationary"),
    )


@query(
    "resample_interp_events",
    """
    WITH obs AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS vsum
      FROM events GROUP BY 1, 2
    ),
    nxt AS (
      SELECT *,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd,
             lead(vsum) OVER (PARTITION BY user_id ORDER BY day) AS nv
      FROM obs
    ),
    g AS (
      SELECT user_id,
             unnest(generate_series(day, coalesce(nd - INTERVAL 1 DAY, day),
                                    INTERVAL 1 DAY)) AS gday,
             day, nd, n, vsum, nv
      FROM nxt
    )
    SELECT user_id, strftime(CAST(gday AS DATE), '%Y-%m-%d') AS day,
           CAST(CASE WHEN CAST(gday AS DATE) = day THEN n ELSE 0 END
                AS BIGINT) AS n_events,
           CAST(gday AS DATE) <> day AS filled,
           CASE WHEN CAST(gday AS DATE) = day THEN CAST(vsum AS DOUBLE)
                ELSE floor((CAST(vsum AS DOUBLE)
                      + (CAST(nv AS DOUBLE) - CAST(vsum AS DOUBLE))
                        * CAST(date_diff('day', day, CAST(gday AS DATE))
                               AS DOUBLE)
                        / CAST(date_diff('day', day, nd) AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0
           END AS value_sum_interp
    FROM g
    """,
)
def resample_interp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily gap-fill with linear interpolation
    (operators/temporal.gapfill_interpolate) — TimescaleDB's
    ``interpolate()`` next to the LOCF row: gap days take the straight
    line between the surrounding observed days' exact daily sums.  Same
    lead-generated-grid plan as the LOCF row (two shuffles, no join);
    the interpolation quotient quantizes via floor (the ols_trend
    cross-engine rounding fix)."""
    from .operators.temporal import gapfill_interpolate

    ev = _t(spark, sf_dir, "events")
    out = gapfill_interpolate(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "filled",
        "value_sum_interp",
    )


@query(
    "contract_validation_orders",
    """
    WITH m AS (
      SELECT
        count(*) AS n,
        sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS nn_ck,
        count(DISTINCT o_orderkey) AS d_ok,
        sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS nn_ok,
        min(o_totalprice) AS min_tp,
        sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
          AS in_st,
        sum(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) AS nn_st,
        sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                 THEN 1 ELSE 0 END) AS m_pr,
        sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END) AS nn_pr
      FROM orders
    ),
    fk AS (
      SELECT
        (SELECT count(*) FROM orders o
         WHERE o.o_custkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)) AS orph,
        (SELECT count(o_custkey) FROM orders) AS tot
    ),
    rep AS (
      SELECT 'not_null' AS "check", 'o_custkey' AS "column",
             floor((CAST(nn_ck AS DOUBLE) / greatest(n, 1))
                   * 1000000.0 + 0.5) / 1000000.0 AS observed,
             1.0 AS threshold, 'ge' AS dir
      FROM m
      UNION ALL
      SELECT 'unique', 'o_orderkey',
             floor((CAST(d_ok AS DOUBLE) / greatest(nn_ok, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0, 'ge'
      FROM m
      UNION ALL
      SELECT 'min', 'o_totalprice', CAST(min_tp AS DOUBLE), 0.0, 'ge' FROM m
      UNION ALL
      SELECT 'in_set', 'o_orderstatus',
             floor((CAST(in_st AS DOUBLE) / greatest(nn_st, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0, 'ge'
      FROM m
      UNION ALL
      SELECT 'matches', 'o_orderpriority',
             floor((CAST(m_pr AS DOUBLE) / greatest(nn_pr, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0, 'ge'
      FROM m
      UNION ALL
      SELECT 'foreign_key', 'o_custkey',
             floor((CAST(orph AS DOUBLE) / greatest(tot, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             0.0, 'le'
      FROM fk
    )
    SELECT "check", "column", observed, threshold,
           CASE WHEN (dir = 'ge' AND observed >= threshold)
                  OR (dir = 'le' AND observed <= threshold)
                THEN 'pass' ELSE 'fail' END AS status
    FROM rep
    """,
)
def contract_validation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract over ``orders``
    (operators/contracts.validate_contract) — the deequ-style ingest
    gate: completeness, key uniqueness, a value bound, set membership,
    priority-format regex, and customer referential integrity, all
    verified in ONE scan plus one anti-join, reported as
    constraint-count-sized rows CI can fail on.  The reference
    validates its STTM workbooks structurally before generating SQL
    (``scripts/sttm_validations_v22.py:77-219``); this is the same
    contract idea pointed at the DATA its pipelines move."""
    from .operators.contracts import validate_contract

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    return validate_contract(
        t["orders"],
        [
            {"check": "not_null", "column": "o_custkey"},
            {"check": "unique", "column": "o_orderkey"},
            {"check": "min", "column": "o_totalprice", "value": 0.0},
            {"check": "in_set", "column": "o_orderstatus",
             "values": ["O", "F", "P"]},
            {"check": "matches", "column": "o_orderpriority",
             "pattern": "^[1-5]-"},
            {"check": "foreign_key", "column": "o_custkey",
             "ref": "customer", "ref_column": "c_custkey"},
        ],
        refs={"customer": t["customer"]},
    )


@query(
    "bitext_mutual_margin",
    f"""
    WITH va AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS ae
                FROM embeddings WHERE vec_id % 2 = 0),
    vb AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS be
           FROM embeddings WHERE vec_id % 2 = 1),
    siga AS (SELECT a_id, ae, {{sig_a}} AS s FROM va),
    sigb AS (SELECT b_id, be, {{sig_b}} AS s FROM vb),
    bnda AS (SELECT a_id, ae, g AS band, (s >> (g * 4)) & 15 AS key
             FROM siga, unnest(generate_series(0, 3)) AS u(g)),
    bndb AS (SELECT b_id, be, g AS band, (s >> (g * 4)) & 15 AS key
             FROM sigb, unnest(generate_series(0, 3)) AS u(g)),
    cand AS (
      SELECT DISTINCT a_id, b_id, ae, be
      FROM bnda JOIN bndb USING (band, key)
    ),
    s AS (
      SELECT a_id, b_id,
             CAST({_COS.format(a='ae', b='be')} AS DECIMAL(18,6)) AS cos
      FROM cand
    ),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY a_id
                           ORDER BY cos DESC, b_id ASC) AS ra,
        ROW_NUMBER() OVER (PARTITION BY b_id
                           ORDER BY cos DESC, a_id ASC) AS rb
      FROM s
    ),
    ta AS (SELECT a_id, sum(cos) AS sa, count(*) AS ca
           FROM r WHERE ra <= 4 GROUP BY 1),
    tb AS (SELECT b_id, sum(cos) AS sb, count(*) AS cb
           FROM r WHERE rb <= 4 GROUP BY 1),
    m AS (
      SELECT r.a_id, r.b_id, CAST(cos AS DOUBLE) AS cosine,
             floor((CAST(cos AS DOUBLE)
                    / ((CAST(sa AS DOUBLE) / ca + CAST(sb AS DOUBLE) / cb)
                       * 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS margin
      FROM r JOIN ta USING (a_id) JOIN tb USING (b_id)
      WHERE ra = 1 AND rb = 1
    )
    SELECT a_id, b_id, cosine, margin FROM m WHERE margin >= 1.0
    """.format(
        sig_a=_LSH_SIG_SQL.format(e="ae"), sig_b=_LSH_SIG_SQL.format(e="be")
    ),
)
def bitext_mutual_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mutual nearest-neighbor matching between the two
    vec_id-parity halves of the embeddings table
    (operators/similarity.mutual_margin_pairs) — the standard
    bitext-mining / cross-corpus alignment scorer (Artetxe & Schwenk
    2019, public method): mutual top-1 pairs whose cosine clears the
    ratio margin against BOTH local neighborhoods (k=4), which kills
    hub vectors that are close to everything.  This row runs the
    operator the way a 100x corpus must: candidates from
    random-hyperplane LSH band collisions with the signature width
    AUTO-SCALED by the measured log-corpus law
    (similarity.lsh_auto_width — one cheap count, width 4 at this
    corpus so the planes are exactly the pinned 16-bit/4-band
    literals, width 8 by 250k vectors), margin statistics over the
    candidate neighborhoods, every downstream stage pair-sized.  The
    brute-force cross product is NOT in any driver-visible plan — it
    survives as the operator's documented exactness baseline
    (candidates=None) and a pytest recall cross-check
    (tests/test_round15_ops.py).  Next to bitext_lsh_candidates, which
    pins the same pipeline at FIXED width (a deployment that froze its
    planes), this row pins the self-tuning default."""
    from .operators.similarity import (
        lsh_auto_width,
        lsh_candidate_pairs,
        mutual_margin_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    # corpus size memoized per (session, sf_dir): without n_hint the
    # operator would run a.count() + b.count() — two full-scan jobs per
    # invocation at cluster scale (r15 verdict low).  The parity halves
    # partition the table, so one cached emb.count() is their exact sum.
    n = artifact(spark, sf_dir, "emb_count", emb.count)
    # the DuckDB oracle hard-pins the 16-bit/4-band plane literals; if
    # the corpus ever grows past the width-4 regime (~16k vectors) the
    # auto law would pick a wider signature and parity would break as a
    # silent hash mismatch — fail loudly here instead (r15 ADVICE).
    if lsh_auto_width(n) != 4:
        raise AssertionError(
            f"bitext_mutual_margin: corpus of {n} vectors auto-tunes to "
            f"width {lsh_auto_width(n)}, but the pinned oracle scores "
            "width-4 planes — re-pin the oracle's band keys"
        )
    cand = lsh_candidate_pairs(a, b, planes=None, bands=4, dim=64, n_hint=n)
    # lsh_candidate_pairs ends in a distinct — skip the scorer's
    # defensive re-dedup (a second full shuffle of the pair list)
    return mutual_margin_pairs(
        a, b, k=4, margin_threshold=1.0, candidates=cand,
        candidates_distinct=True,
    )


@query(
    "token_budget_waterfill",
    """
    WITH dom AS (
      SELECT source AS domain,
             sum(len(string_split(coalesce(text, ''), ' '))) AS avail
      FROM documents GROUP BY 1
    ),
    st AS (
      SELECT domain, avail,
             row_number() OVER (ORDER BY avail ASC, domain ASC) AS rn,
             sum(avail) OVER (ORDER BY avail ASC, domain ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - avail AS prefix,
             count(*) OVER () AS n
      FROM dom
    ),
    c AS (SELECT *, (25000.0 - CAST(prefix AS DOUBLE)) / (n - rn + 1)
                    AS cand
          FROM st),
    lv AS (SELECT min(CASE WHEN cand < CAST(avail AS DOUBLE)
                           THEN rn END) AS qrn FROM c),
    lev AS (SELECT max(CASE WHEN rn = (SELECT qrn FROM lv)
                            THEN cand END) AS level FROM c)
    SELECT domain,
           CAST(avail AS BIGINT) AS tokens_available,
           CASE WHEN (SELECT level FROM lev) IS NOT NULL
                  AND CAST(avail AS DOUBLE) > (SELECT level FROM lev)
                THEN floor((SELECT level FROM lev) * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE CAST(avail AS DOUBLE) END AS tokens_alloc,
           ((SELECT level FROM lev) IS NOT NULL
            AND CAST(avail AS DOUBLE) > (SELECT level FROM lev)) AS capped,
           floor((SELECT level FROM lev) * 1000000.0 + 0.5) / 1000000.0
             AS level
    FROM c
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfilling token-budget allocation across document sources
    (operators/sampling.token_budget_waterfill) — "train on 25k tokens,
    no source may contribute more than it has": the max-min fair
    allocation where every source gets min(available, level) and the
    level exactly exhausts the budget.  Complements mixture_plan
    (target-share mixing) and cap_per_group (hard caps) with the
    fair-share construction.  Domain-alphabet-sized after one map-side
    token-count aggregation; the level derives from exact integer
    prefix sums in one floor-quantized double division."""
    from .operators.sampling import token_budget_waterfill as waterfill

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("source"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .alias("n_tok"),
    )
    return waterfill(toks, "source", "n_tok", budget=25000)


@query(
    "ewma_residual_users",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS x
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT user_id,
             count(*) AS n_days,
             max(day) AS last_day,
             list(CAST(x AS DOUBLE) ORDER BY day ASC) AS xs
      FROM daily GROUP BY 1
    )
    SELECT user_id,
           CAST(n_days AS BIGINT) AS n_days,
           strftime(last_day, '%Y-%m-%d') AS last_day,
           xs[n_days] AS last_value,
           CASE WHEN n_days >= 2 THEN
             floor(list_reduce(list_slice(xs, 1, n_days - 1),
                               (acc, x) -> 0.25 * x + 0.75 * acc)
                   * 1000000.0 + 0.5) / 1000000.0
           END AS ewma_prev,
           CASE WHEN n_days >= 2 THEN
             floor((0.25 * xs[n_days]
                    + 0.75 * list_reduce(list_slice(xs, 1, n_days - 1),
                                         (acc, x) -> 0.25 * x + 0.75 * acc))
                   * 1000000.0 + 0.5) / 1000000.0
           ELSE xs[n_days] END AS ewma_last,
           CASE WHEN n_days >= 2 THEN
             floor((xs[n_days]
                    - list_reduce(list_slice(xs, 1, n_days - 1),
                                  (acc, x) -> 0.25 * x + 0.75 * acc))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS residual
    FROM ser
    """,
)
def ewma_residual_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA control chart over daily spend
    (operators/stats.ewma_residual, alpha=1/4 exact binary): the
    recency-weighted drift detector next to ols_trend (whole-window
    slope) and event_anomaly_zscore (global z) — the report carries the
    smoothed baseline BEFORE the newest day and the newest day's
    residual against it.  The recursion runs as an explicit left fold
    over the day-ordered array (DuckDB's list_reduce folds in the same
    order), so the doubles agree bit-for-bit across engines — a
    windowed running sum would leave addition order to each engine."""
    from .operators.stats import ewma_residual

    ev = _t(spark, sf_dir, "events")
    out = ewma_residual(ev, "user_id", "ts", "value", alpha=0.25)
    return out.select(
        "user_id",
        "n_days",
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        "last_value",
        "ewma_prev",
        "ewma_last",
        "residual",
    )


@query(
    "group_kfold_events",
    """
    SELECT event_id, user_id,
      CASE WHEN substr(md5('cv' || '|' || CAST(user_id AS VARCHAR)), 1, 8)
                < '33333333' THEN 0
           WHEN substr(md5('cv' || '|' || CAST(user_id AS VARCHAR)), 1, 8)
                < '66666666' THEN 1
           WHEN substr(md5('cv' || '|' || CAST(user_id AS VARCHAR)), 1, 8)
                < '99999999' THEN 2
           WHEN substr(md5('cv' || '|' || CAST(user_id AS VARCHAR)), 1, 8)
                < 'cccccccc' THEN 3
           ELSE 4 END AS fold
    FROM events
    """,
)
def group_kfold_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-atomic 5-fold cross-validation assignment over events by
    user (operators/sampling.group_kfold — scikit-learn GroupKFold
    semantics, public method): all of a user's events share a fold, so
    no entity straddles a train/validation boundary.  Pure per-row
    md5-range projection (the hash_split idiom): zero shuffles, zero
    joins, reproducible by any engine from the same md5 math."""
    from .operators.sampling import group_kfold

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return group_kfold(ev, "user_id", k=5, seed="cv")


@query(
    "dedup_allpairs_prefix",
    f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
               JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.4
    """,
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 5-gram Jaccard >= 0.4 via AllPairs/PPJoin prefix
    filtering (operators/dedup.allpairs_jaccard) — the third pairing
    strategy in the dedup family: exact like the inverted index, pruned
    like LSH, with the no-miss guarantee as a theorem.  Only each
    document's rarest ``|x| - ceil(0.4|x|) + 1`` shingles generate
    candidates; the oracle is the CAPLESS brute-force inverted index,
    so the gate proves the pruned plan loses nothing."""
    from .operators.dedup import allpairs_jaccard

    docs = _t(spark, sf_dir, "documents")
    return allpairs_jaccard(
        docs, n=5, threshold=0.4, shingles=_doc_shingles(spark, sf_dir)
    )


@query(
    "bitext_lsh_candidates",
    f"""
    WITH va AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS ae
                FROM embeddings WHERE vec_id % 2 = 0),
    vb AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS be
           FROM embeddings WHERE vec_id % 2 = 1),
    siga AS (SELECT a_id, ae, {_LSH_SIG_SQL.format(e='ae')} AS s FROM va),
    sigb AS (SELECT b_id, be, {_LSH_SIG_SQL.format(e='be')} AS s FROM vb),
    bnda AS (SELECT a_id, ae, g AS band, (s >> (g * 4)) & 15 AS key
             FROM siga, unnest(generate_series(0, 3)) AS u(g)),
    bndb AS (SELECT b_id, be, g AS band, (s >> (g * 4)) & 15 AS key
             FROM sigb, unnest(generate_series(0, 3)) AS u(g)),
    cand AS (
      SELECT DISTINCT a_id, b_id, ae, be
      FROM bnda JOIN bndb USING (band, key)
    ),
    s AS (
      SELECT a_id, b_id,
             CAST({_COS.format(a='ae', b='be')} AS DECIMAL(18,6)) AS cos
      FROM cand
    ),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY a_id
                           ORDER BY cos DESC, b_id ASC) AS ra,
        ROW_NUMBER() OVER (PARTITION BY b_id
                           ORDER BY cos DESC, a_id ASC) AS rb
      FROM s
    ),
    ta AS (SELECT a_id, sum(cos) AS sa, count(*) AS ca
           FROM r WHERE ra <= 4 GROUP BY 1),
    tb AS (SELECT b_id, sum(cos) AS sb, count(*) AS cb
           FROM r WHERE rb <= 4 GROUP BY 1),
    m AS (
      SELECT r.a_id, r.b_id, CAST(cos AS DOUBLE) AS cosine,
             floor((CAST(cos AS DOUBLE)
                    / ((CAST(sa AS DOUBLE) / ca + CAST(sb AS DOUBLE) / cb)
                       * 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS margin
      FROM r JOIN ta USING (a_id) JOIN tb USING (b_id)
      WHERE ra = 1 AND rb = 1
    )
    SELECT a_id, b_id, cosine, margin FROM m WHERE margin >= 1.0
    """,
)
def bitext_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitext scorer's documented SCALE PATH, oracle-checked
    end-to-end: random-hyperplane LSH band collisions
    (operators/similarity.lsh_candidate_pairs, the similarity_lsh_topk
    plane literals) generate the candidate pairs, and
    mutual_margin_pairs scores ONLY those — mutual top-1 + ratio margin
    over the candidate neighborhoods.  Next to bitext_mutual_margin
    (brute force over the same halves) this pins that the pruned
    pipeline is itself exactly reproducible, not just the baseline."""
    from .operators.similarity import lsh_candidate_pairs, mutual_margin_pairs

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    cand = lsh_candidate_pairs(a, b, _LSH_PLANES, bands=4)
    # distinct candidates by construction — skip the defensive re-dedup
    return mutual_margin_pairs(
        a, b, k=4, margin_threshold=1.0, candidates=cand,
        candidates_distinct=True,
    )


@query(
    "asof_nearest_alignment",
    """
    WITH s AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'signup'),
    p AS (SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'purchase'),
    m AS (
      SELECT s.event_id, p.event_id AS pid, p.ts AS pts, p.value AS pval,
             row_number() OVER (
               PARTITION BY s.event_id
               ORDER BY abs(date_diff('microsecond', p.ts, s.ts)) ASC,
                        CASE WHEN p.ts <= s.ts THEN 0 ELSE 1 END ASC,
                        CASE WHEN p.ts <= s.ts THEN -p.event_id
                             ELSE p.event_id END ASC
             ) AS rn
      FROM s JOIN p ON s.user_id = p.user_id
    )
    SELECT s.event_id, s.user_id,
           m.pid AS nearest_purchase_id,
           CAST(date_diff('microsecond', s.ts, m.pts) AS BIGINT)
             AS offset_us,
           m.pval AS nearest_value
    FROM s LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      ON s.event_id = m.event_id
    """,
)
def asof_nearest_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (operators/temporal.asof_join,
    direction='nearest' — pandas merge_asof nearest semantics, equal
    gaps resolve backward): for every signup, the user's closest
    purchase on EITHER side of the timestamp and the signed offset —
    the sensor-alignment join completing the backward/forward family.
    Same union-tagged plan, ONE key shuffle, two per-partition sorts
    (both windows share the hash partitioning) — never a range join;
    the oracle is the naive both-sides rank, which is the semantics."""
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event"),
        F.col("value").alias("p_value"),
    )
    j = asof_join(
        signups,
        purchases,
        left_on="user_id",
        right_on="p_user",
        left_time="ts",
        right_time="p_ts",
        value_cols=["p_event", "p_ts", "p_value"],
        tie_col="p_event",
        direction="nearest",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("asof_p_event").alias("nearest_purchase_id"),
        (F.unix_micros(F.col("asof_p_ts").cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp")))
        .cast("bigint").alias("offset_us"),
        F.col("asof_p_value").alias("nearest_value"),
    )


@query(
    "contract_incremental_orders",
    """
    WITH m AS (
      SELECT
        count(*) AS n,
        sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS nn_ck,
        min(o_totalprice) AS min_tp,
        max(o_totalprice) AS max_tp,
        sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
          AS in_st,
        sum(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) AS nn_st
      FROM orders
    ),
    fk AS (
      SELECT
        (SELECT count(*) FROM orders o
         WHERE o.o_custkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)) AS orph,
        (SELECT count(o_custkey) FROM orders) AS tot
    ),
    rep AS (
      SELECT 'not_null' AS "check", 'o_custkey' AS "column",
             floor((CAST(nn_ck AS DOUBLE) / greatest(n, 1))
                   * 1000000.0 + 0.5) / 1000000.0 AS observed,
             1.0 AS threshold, 'ge' AS dir
      FROM m
      UNION ALL
      SELECT 'min', 'o_totalprice', CAST(min_tp AS DOUBLE), 0.0, 'ge' FROM m
      UNION ALL
      SELECT 'max', 'o_totalprice', CAST(max_tp AS DOUBLE), 600000.0, 'le'
      FROM m
      UNION ALL
      SELECT 'in_set', 'o_orderstatus',
             floor((CAST(in_st AS DOUBLE) / greatest(nn_st, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0, 'ge'
      FROM m
      UNION ALL
      SELECT 'foreign_key', 'o_custkey',
             floor((CAST(orph AS DOUBLE) / greatest(tot, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             0.0, 'le'
      FROM fk
    )
    SELECT "check", "column", observed, threshold,
           CASE WHEN (dir = 'ge' AND observed >= threshold)
                  OR (dir = 'le' AND observed <= threshold)
                THEN 'pass' ELSE 'fail' END AS status
    FROM rep
    """,
)
def contract_incremental_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data contract verified INCREMENTALLY
    (operators/contracts.contract_counters / merge_contract_counters /
    report_from_counters): orders arrives as three deliveries, each
    contributing one 1-row mergeable counter partial (sums add, mins/
    maxes combine) at O(batch) cost, and the cumulative report must
    equal the one-shot full-scan report exactly — the rollup-store
    property (snapshot == one-shot aggregation at quiescence) applied
    to the quality gate, so a recurring ingest never re-scans history
    to re-verify.  `unique` is deliberately absent: distinctness does
    not decompose into counters (that is what the incremental dedup
    index is for) and contract_counters rejects it."""
    from .operators.contracts import (
        contract_counters,
        merge_contract_counters,
        report_from_counters,
    )

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    checks = [
        {"check": "not_null", "column": "o_custkey"},
        {"check": "min", "column": "o_totalprice", "value": 0.0},
        {"check": "max", "column": "o_totalprice", "value": 600000.0},
        {"check": "in_set", "column": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"check": "foreign_key", "column": "o_custkey",
         "ref": "customer", "ref_column": "c_custkey"},
    ]
    refs = {"customer": t["customer"]}
    acc = None
    for i in range(3):
        batch = t["orders"].filter(F.pmod("o_orderkey", F.lit(3)) == i)
        part = contract_counters(batch, checks, refs)
        acc = part if acc is None else merge_contract_counters(acc, part)
    return report_from_counters(acc, checks)


@query(
    "streaming_contract_monitor",
    """
    WITH m AS (
      SELECT
        count(*) AS n,
        sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS nn_uid,
        min(value) AS min_v,
        max(value) AS max_v,
        sum(CASE WHEN event_type IN
              ('view','click','purchase','signup','error')
            THEN 1 ELSE 0 END) AS in_et,
        sum(CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END) AS nn_et,
        sum(CASE WHEN regexp_matches(event_type, '^[a-z]+$')
            THEN 1 ELSE 0 END) AS m_et
      FROM events
    ),
    rep AS (
      SELECT 'not_null' AS "check", 'user_id' AS "column",
             floor((CAST(nn_uid AS DOUBLE) / greatest(n, 1))
                   * 1000000.0 + 0.5) / 1000000.0 AS observed,
             1.0 AS threshold, 'ge' AS dir
      FROM m
      UNION ALL
      SELECT 'min', 'value', CAST(min_v AS DOUBLE), 0.0, 'ge' FROM m
      UNION ALL
      SELECT 'max', 'value', CAST(max_v AS DOUBLE), 1000.0, 'le' FROM m
      UNION ALL
      SELECT 'in_set', 'event_type',
             floor((CAST(in_et AS DOUBLE) / greatest(nn_et, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0, 'ge'
      FROM m
      UNION ALL
      SELECT 'matches', 'event_type',
             floor((CAST(m_et AS DOUBLE) / greatest(nn_et, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0, 'ge'
      FROM m
    )
    SELECT "check", "column", observed, threshold,
           CASE WHEN (dir = 'ge' AND observed >= threshold)
                  OR (dir = 'le' AND observed <= threshold)
                THEN 'pass' ELSE 'fail' END AS status
    FROM rep
    """,
)
def streaming_contract_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data contract monitored UNDER Structured Streaming
    (streaming/contracts.ContractMonitor): events arrive as a file
    stream in multiple microbatches (maxFilesPerTrigger=1), each batch
    folds one 1-row counter partial in its foreachBatch at O(batch)
    cost (idempotent per-batch overwrite — replay-safe like the rollup
    store), and the quiescence snapshot must equal the oracle's
    one-shot full-feed report exactly — streaming == batch for the
    quality gate, the same property every streaming row here pins.
    Scan checks only: ONE aggregation per microbatch, no joins."""
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.audit import STREAMING_PLANS
    from .streaming.contracts import ContractMonitor

    ev = _t(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="cdis-scm-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-scm-log-")
    ckpt = tempfile.mkdtemp(prefix="cdis-scm-ckpt-")
    ev.select(
        F.to_json(F.struct(
            "event_id", "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type", "value",
        )).alias("value")
    ).repartition(3).write.mode("overwrite").text(src_dir)

    stream = file_envelope_stream(spark, src_dir).select(
        F.get_json_object("val", "$.user_id").cast("bigint")
        .alias("user_id"),
        F.get_json_object("val", "$.event_type").alias("event_type"),
        F.get_json_object("val", "$.value").cast("double").alias("value"),
    )
    checks = [
        {"check": "not_null", "column": "user_id"},
        {"check": "min", "column": "value", "value": 0.0},
        {"check": "max", "column": "value", "value": 1000.0},
        {"check": "in_set", "column": "event_type",
         "values": ["view", "click", "purchase", "signup", "error"]},
        {"check": "matches", "column": "event_type",
         "pattern": "^[a-z]+$"},
    ]
    mon = ContractMonitor(out_dir, checks)
    q = (
        stream.writeStream.foreachBatch(mon.apply)
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    STREAMING_PLANS["streaming_contract_monitor"] = (
        "== foreachBatch stage: contract_counters ==\n"
        + (mon.last_batch_plan or "<no microbatch ran>")
    )
    return mon.snapshot(spark)


@query(
    "streaming_contract_unique",
    """
    WITH m AS (
      SELECT
        count(DISTINCT event_id) AS d_eid,
        sum(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END) AS nn_eid,
        count(DISTINCT user_id) AS d_uid,
        sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS nn_uid
      FROM events
    ),
    rep AS (
      SELECT 'unique' AS "check", 'event_id' AS "column",
             floor((CAST(d_eid AS DOUBLE) / greatest(nn_eid, 1))
                   * 1000000.0 + 0.5) / 1000000.0 AS observed,
             1.0 AS threshold
      FROM m
      UNION ALL
      SELECT 'unique', 'user_id',
             floor((CAST(d_uid AS DOUBLE) / greatest(nn_uid, 1))
                   * 1000000.0 + 0.5) / 1000000.0,
             1.0
      FROM m
    )
    SELECT "check", "column", observed, threshold,
           CASE WHEN observed >= threshold THEN 'pass' ELSE 'fail' END
             AS status
    FROM rep
    """,
)
def streaming_contract_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contract check counters CANNOT carry — cross-batch
    ``unique`` — monitored under Structured Streaming
    (streaming/contracts.UniqueKeyMonitor): events arrive as a file
    stream in multiple microbatches, each batch upserts its distinct
    md5-digest partial (operators/dedup.build_dedup_index's digest
    frame — the persisted 32-byte key index) plus a 1-row non-null
    counter partial, both idempotent under replay.  The quiescence
    snapshot's unique rate (distinct / non-null; duplicate rate is its
    complement) must equal the oracle's one-shot count(DISTINCT) over
    the full feed — distinct-of-union == union-of-per-batch-distinct.
    event_id is a real key (rate 1.0, pass); user_id repeats across
    events (rate << 1, fail at min_rate 1.0) — one green and one red
    report row, both exact."""
    import tempfile

    from .streaming import file_envelope_stream
    from .streaming.audit import STREAMING_PLANS
    from .streaming.contracts import UniqueKeyMonitor

    ev = _t(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="cdis-scu-src-")
    out_dir = tempfile.mkdtemp(prefix="cdis-scu-idx-")
    ckpt = tempfile.mkdtemp(prefix="cdis-scu-ckpt-")
    ev.select(
        F.to_json(F.struct("event_id", "user_id")).alias("value")
    ).repartition(3).write.mode("overwrite").text(src_dir)

    stream = file_envelope_stream(spark, src_dir).select(
        F.get_json_object("val", "$.event_id").cast("bigint")
        .alias("event_id"),
        F.get_json_object("val", "$.user_id").cast("bigint")
        .alias("user_id"),
    )
    mon = UniqueKeyMonitor(out_dir, ["event_id", "user_id"])
    q = (
        stream.writeStream.foreachBatch(mon.apply)
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    STREAMING_PLANS["streaming_contract_unique"] = (
        "== foreachBatch stage: build_dedup_index digest upsert ==\n"
        + (mon.last_batch_plan or "<no microbatch ran>")
    )
    return mon.snapshot(spark)


@query(
    "corpus_diversity_ngrams",
    """
    WITH t AS (
      SELECT source,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS ts
      FROM documents
    ),
    u AS (SELECT source, unnest(ts) AS g FROM t),
    b AS (
      SELECT source, ts[i] || ' ' || ts[i+1] AS g
      FROM t, unnest(generate_series(1, len(ts) - 1)) AS s(i)
    ),
    ua AS (SELECT source, count(*) AS n_tokens,
                  count(DISTINCT g) AS distinct_tokens
           FROM u GROUP BY 1),
    ba AS (SELECT source, count(*) AS n_bigrams,
                  count(DISTINCT g) AS distinct_bigrams
           FROM b GROUP BY 1),
    d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
    SELECT d.source, n_docs, n_tokens, distinct_tokens,
           round(CAST(distinct_tokens AS DOUBLE) / nullif(n_tokens, 0), 6)
             AS ttr,
           -- a source whose docs all have <2 tokens has unigram rows but
           -- no bigram CTE row: the engine aggregates such a group to 0,
           -- so coalesce the missing ba row to 0 whenever the group DID
           -- aggregate (n_tokens present); all-empty sources stay NULL
           CASE WHEN n_tokens IS NULL THEN NULL
                ELSE coalesce(n_bigrams, 0) END AS n_bigrams,
           CASE WHEN n_tokens IS NULL THEN NULL
                ELSE coalesce(distinct_bigrams, 0) END AS distinct_bigrams,
           round(CAST(distinct_bigrams AS DOUBLE) / nullif(n_bigrams, 0), 6)
             AS distinct2
    FROM d LEFT JOIN ua USING (source) LEFT JOIN ba USING (source)
    """,
)
def corpus_diversity_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity report
    (operators/text.ngram_diversity): exact corpus-level type-token
    ratio and distinct-bigram ratio (distinct-n, Li et al. 2016) — the
    monitoring row that catches a templated crawl or a collapsing
    synthetic-data generator as a falling distinct-2 per source, long
    before perplexity shifts.  One scan explodes unigrams+bigrams under
    a kind tag; a single per-source hash aggregation computes both
    totals and both EXACT distinct counts (Expand + partial aggregation
    — state bounded by the per-source live vocabulary); the doc-count
    agg joins back broadcast.  Complements vocab_oov_rate (coverage vs
    a global top-V) and text_repetition_stats (per-document repetition)
    with the corpus-level diversity view."""
    from .operators.text import ngram_diversity

    return ngram_diversity(
        _t(spark, sf_dir, "documents"), group_col="source"
    )


# ---------------------------------------------------------------------------
# Registry ordering.  The correctness harness records at most the first 50
# registry entries per run, so ordering decides which operators get an
# externally-recorded oracle row.  Round-17 window (VERDICT r16's rotation
# plan): the 23 rows whose newest driver record is r12
# (pii_scrub .. bloom_skipscan_pointlookup) lead, with the two shared-
# artifact builders lifted directly in front of their first in-window
# consumer (dedup_simhash_pairs before dedup_clusters / dedup_apply_pipeline
# / dedup_keep_best_quality, zorder_rewrite before
# bloom_skipscan_pointlookup) so each family's build cost stays charged to
# the row named for it; then the round's TWO new rows
# (dedup_containment_excerpts, dedup_winnow_pairs — an external record
# their first round out); then the headline 9 (they anchor the benchmark
# baseline); then the 14 alphabetically-first rows of the r13-record
# cohort (bigram_logprob_score .. event_funnel, dsir_weights_docs kept
# before dsir_select_topk).
# Positions 50+ lead with the REMAINING 26 r13-record rows
# (exact_quantiles_events .. weighted_sample_priority) so the r18 rotation
# stays a prefix shift; everything after keeps the prior relative order
# (bm25_topk_docs before the hybrid/eval consumers, similarity_pq_topk
# before pq_rerank/ivfpq, bpe_train_merges before bpe_segment_tokens,
# bitext_mutual_margin before bitext_lsh_candidates).  After a green r17
# run the stalest records anywhere are those 25 r13 rows — they lead the
# r18 rotation, topped up from the r14 cohort.
# ---------------------------------------------------------------------------
_PRIORITY_ORDER = [
    "pii_scrub", "quality_filter_gate", "range_join_event_pairs",
    "session_window_agg", "sessionize_events", "shard_assignment_balanced",
    "similarity_cosine_topk", "similarity_ivf_nprobe", "similarity_ivf_topk",
    "similarity_lsh_topk", "stratified_sample_lang", "sttm_pipeline_e2e",
    "temperature_resample_mix", "text_quality_features",
    "text_repetition_stats", "token_count_bpe", "train_test_split",
    "dedup_ngram_jaccard", "dedup_simhash_pairs", "dedup_clusters",
    "dedup_apply_pipeline", "dedup_keep_best_quality", "dedup_incremental",
    "zorder_rewrite", "bloom_skipscan_pointlookup",
    "dedup_containment_excerpts", "dedup_winnow_pairs",
    "view_json_envelope", "view_csv_positional",
    "xref_latest_by_key", "xref_latest_soft_delete", "fgac_enrich_mask",
    "quarantine_antijoin", "union_arms_null_fill", "ordered_multi_join",
    "pricing_summary", "bigram_logprob_score", "bigram_logprob_vocab",
    "bloom_compaction_lifecycle", "char_entropy_scores", "concat_chunks_plan",
    "corpus_length_quantiles", "corpus_sample_exact_n", "dedup_lsh_verified",
    "domain_cap_exact", "domain_cap_rate", "dsir_weights_docs",
    "dsir_select_topk", "epoch_shuffle_assign", "event_funnel", "exact_quantiles_events", "forecast_revenue_change", "hash_embed_vectors",
    "hopping_window_agg", "kmeans_refine_assign", "multimodal_embed_topk",
    "normalize_text_stage", "quality_cutoff_per_lang", "repeated_spans_cdc",
    "revenue_cube_flag_status", "rolling_event_stats", "rollup_sample_events",
    "salted_join_hotkey", "scrub_boilerplate_docs", "semantic_dedup",
    "skipscan_events_range", "span_decontaminate", "streaming_dedup_events",
    "streaming_interval_join", "streaming_interval_join_full",
    "streaming_statement_set", "streaming_xref_upsert", "training_prep_e2e",
    "tumbling_window_agg", "unigram_logprob_score",
    "weighted_sample_priority", "mixture_plan", "nation_pair_trade",
    "order_priority_semijoin", "part_supplier_counts", "profile_documents",
    "promo_revenue_monthly", "retention_cohorts_weekly", "returned_item_topk",
    "rollup_incremental_events", "scd2_asof_enrich", "scd2_incremental_apply",
    "scd2_user_history", "ship_latency_distribution",
    "small_qty_revenue_share", "snapshot_diff_orders",
    "top_supplier_by_revenue", "value_mad_by_type", "waiting_orders_blame",
    "zorder_layout_key", "asof_join_latest_order", "colspec_quarantine_arms",
    "corpus_mix_report", "dedup_ngram_containment",
    "dedup_containment_verified", "corpus_diversity_ngrams",
    "k_anonymity_generalized", "streaming_interval_join_outer",
    "decontaminate_ngrams", "dedup_embedding_cosine", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dlq_corrupt_split",
    "doc_chunk_overlap", "doc_fingerprint", "embedding_quantize_int8",
    "flatten_nested_json", "keyword_topk", "language_id_heuristic",
    "multimodal_frame_sample", "pack_sequences", "contract_validation_orders",
    "bitext_mutual_margin", "token_budget_waterfill", "ewma_residual_users",
    "group_kfold_events", "dedup_allpairs_prefix", "bitext_lsh_candidates",
    "asof_nearest_alignment", "contract_incremental_orders",
    "streaming_contract_monitor", "streaming_contract_unique",
    "event_anomaly_zscore", "bpe_train_merges", "bpe_segment_tokens",
    "curriculum_stages", "bloom_semijoin_revenue", "distinct_users_by_type",
    "cust_order_distribution", "discounted_revenue_disjunctive",
    "zorder_incremental", "cheapest_supplier_per_part",
    "rollup_quantile_events", "bm25_topk_docs", "compaction_lifecycle",
    "join_advisor_strategy", "hybrid_rrf_retrieval", "hybrid_dense_sparse",
    "bm25_incremental_index", "nb_language_classify", "k_anonymity_suppress",
    "l_diversity_report", "event_type_pivot_daily",
    "excess_shipped_suppliers", "fuzzy_supplier_pairs", "gopher_quality_gate",
    "heavy_hitter_parts", "idle_rich_customers", "important_parts_value",
    "large_order_customers", "market_share_yearly", "drift_psi_snapshots",
    "label_majority_vote", "annotator_pairwise_kappa",
    "temporal_holdout_events", "hard_negative_mining", "dawid_skene_labels",
    "resample_gapfill_events", "krippendorff_alpha_events",
    "retrieval_eval_metrics", "markov_stationary_events",
    "dup_provenance_sources", "vocab_oov_rate", "doremi_mixture_weights",
    "asof_forward_conversion", "connected_components_chain",
    "retrieval_rank_agreement", "similarity_matryoshka_recall",
    "trend_slope_per_user", "pagerank_event_graph", "resample_interp_events",
    "leakage_safe_split", "regional_revenue", "shipping_priority_topk",
    "knn_classify_labels", "collocation_pmi", "dedup_cluster_sizes",
    "contamination_report", "decontaminate_semantic", "similarity_int8_topk",
    "streaming_event_funnel", "brand_nation_revenue", "winsorize_doc_lengths",
    "dedup_exact_normalized", "packing_fill_report", "top_docs_per_source",
    "chunk_boilerplate_ratio", "similarity_pq_topk", "similarity_pq_rerank",
    "similarity_ivfpq_topk",
]


def _reorder_registry() -> None:
    missing = [n for n in _PRIORITY_ORDER if n not in QUERIES]
    if missing:  # registration drift — fail loudly at import, not in a harness
        raise RuntimeError(f"priority order references unknown queries: {missing}")
    order = _PRIORITY_ORDER + [n for n in QUERIES if n not in set(_PRIORITY_ORDER)]
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in order if n in snapshot})


_reorder_registry()
