"""Table-evolution operators: SCD Type 2 history build, keyed snapshot
diff, and one-pass column profiling.

These extend the reference's changelog surface (XREF latest-by-key /
upsert materialization, ``resources/architecture/sttm-requirements.md:
106-134``) from "current row per key" to the other three things a
warehouse does with a changelog: keep the full validity-interval history
(SCD2), audit what changed between two snapshots (diff), and profile a
landed table before wiring it into a pipeline.

Scale notes:
 - ``scd2_from_changelog`` is ONE hash shuffle on the business key; every
   derivation (change detection, validity intervals, current flag) is a
   window function over that same partitioning, so Catalyst plans a
   single Exchange feeding a chain of Window operators — no re-shuffle.
 - ``table_diff`` is one sort-merge join on the key; both sides project
   only (key, compared columns) before the join, and the change test
   compares a single concatenated string per side instead of N column
   equalities, so the join carries two narrow values no matter how wide
   the table is.
 - ``profile_columns`` is one aggregation pass.  Multiple exact
   COUNT(DISTINCT) aggregates compile to a single Expand + two-stage
   hash aggregate (rows x columns intermediate), which is the correct
   trade at profile time; pass ``approx=True`` to swap in HLL sketches
   (``approx_count_distinct``) when profiling a 100 TB table where a
   +-2% distinct count is fine and the Expand blow-up is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# separator for change-detection fingerprints: a control char that cannot
# appear in the parquet-borne text columns; NULL is encoded distinctly from
# the empty string so (NULL -> '') transitions are detected.
_SEP = "\x1f"
_NULL = "\x00"


def _fingerprint(cols: list[str]) -> F.Column:
    return F.concat_ws(
        _SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    )


def scd2_from_changelog(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    tracked: list[str],
    *,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history from an event changelog.

    Input: one row per observed (key, ts, attributes) event.  Output: one
    row per VERSION — consecutive events whose ``tracked`` attributes are
    unchanged collapse into the earliest such event — with
    ``effective_from`` (the version's first ts), ``effective_to`` (the
    next version's ts, NULL while current) and ``is_current``.

    Semantics (half-open intervals): a version is live for
    ``[effective_from, effective_to)``; an as-of lookup at time t is
    ``effective_from <= t AND (effective_to IS NULL OR t < effective_to)``.
    Change detection compares the tracked columns as strings with NULL
    distinct from '' (so NULL -> '' transitions version).  Events with
    identical (key, ts) are ordered by ``tie_breakers`` (default: the
    tracked columns themselves) so the version sequence is total.

    Columns kept: keys + tracked + effective_from/effective_to/is_current.
    """
    ties = tie_breakers or tracked
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in ties]
    w = Window.partitionBy(*keys).orderBy(*order)
    fp = _fingerprint(tracked)
    kept = list(dict.fromkeys([*keys, ts_col, *tracked, *ties]))
    versioned = (
        df.select(*kept)
        .withColumn("__fp__", fp)
        .withColumn("__prev__", F.lag("__fp__").over(w))
        # a version starts where the fingerprint differs from the previous
        # event's (or at the key's first event)
        .filter(
            F.col("__prev__").isNull() | (F.col("__fp__") != F.col("__prev__"))
        )
    )
    w_ver = Window.partitionBy(*keys).orderBy(*order)
    return (
        versioned.withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead("effective_from").over(w_ver))
        .withColumn("is_current", F.col("effective_to").isNull())
        .select(*keys, *tracked, "effective_from", "effective_to", "is_current")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    *,
    include_unchanged: bool = False,
) -> DataFrame:
    """Keyed diff of two snapshots: one row per key present in either,
    with ``diff_status`` in ('added', 'removed', 'changed', 'unchanged')
    and the compared columns from BOTH sides (``<col>_old`` /
    ``<col>_new``).

    ``compare_cols`` defaults to every shared non-key column.  The change
    test is a single fingerprint-string comparison per side (NULL encoded
    distinctly from ''), so the full-outer join carries (key, fingerprint,
    compared cols) only — table width does not widen the shuffle beyond
    the columns the caller asked to see.

    This is the snapshot-drift audit for a changelog materialization: diff
    yesterday's landed table against today's and alert on unexpected
    'removed' rows (a broken soft-delete feed) or a 'changed' storm (an
    upstream backfill).
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    o = old.select(
        *[F.col(k) for k in keys],
        _fingerprint(compare_cols).alias("__fp_o__"),
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k) for k in keys],
        _fingerprint(compare_cols).alias("__fp_n__"),
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
    )
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("__fp_o__").isNull(), F.lit("added"))
        .when(F.col("__fp_n__").isNull(), F.lit("removed"))
        .when(F.col("__fp_o__") != F.col("__fp_n__"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.withColumn("diff_status", status).drop("__fp_o__", "__fp_n__")
    if not include_unchanged:
        out = out.filter(F.col("diff_status") != "unchanged")
    cols = (
        keys
        + ["diff_status"]
        + [f"{c}_old" for c in compare_cols]
        + [f"{c}_new" for c in compare_cols]
    )
    return out.select(*cols)


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    approx: bool = False,
) -> DataFrame:
    """One-pass column profile: per column a row of
    (column, n_rows, n_nulls, n_distinct, min_value, max_value) with
    min/max rendered as strings so the output schema is uniform across
    column types.

    All metrics compute in a single aggregation (one job, one scan);
    ``approx=True`` swaps exact COUNT(DISTINCT) for HLL
    ``approx_count_distinct`` — at 100 TB the exact variant's Expand
    rewrite multiplies the shuffle by the column count, the sketch does
    not.  The tall shape comes from a post-aggregation ``stack`` unpivot
    of the 1-row wide aggregate — driver-free and constant-sized.
    """
    cols = cols or df.columns
    distinct = (
        F.approx_count_distinct if approx else F.countDistinct
    )
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n__")]
    # helper aliases are INDEX-based, so arbitrary column names (quotes,
    # backticks) never leak into generated identifiers; the display name
    # appears only as an escaped string literal in the stack() below
    # F.col() PARSES its argument (dots, backticks); quote the raw name so
    # any column name resolves as a single identifier
    ident = lambda c: F.col("`" + c.replace("`", "``") + "`")  # noqa: E731
    for i, c in enumerate(cols):
        aggs += [
            F.sum(ident(c).isNull().cast("bigint")).alias(f"__nulls_{i}__"),
            distinct(ident(c)).alias(f"__nd_{i}__"),
            F.min(ident(c)).cast("string").alias(f"__min_{i}__"),
            F.max(ident(c)).cast("string").alias(f"__max_{i}__"),
        ]
    wide = df.agg(*aggs)
    lit = lambda c: "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"  # noqa: E731
    stack_args = ", ".join(
        f"{lit(c)}, __nulls_{i}__, __nd_{i}__, __min_{i}__, __max_{i}__"
        for i, c in enumerate(cols)
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nulls, n_distinct, min_value, max_value)"
        ),
        F.col("__n__").alias("n_rows"),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def scd2_apply_batch(
    history: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str,
    tracked: list[str],
    *,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Incrementally apply a batch of new changelog events to an existing
    SCD2 history (produced by :func:`scd2_from_changelog`), returning the
    updated history WITHOUT recomputing untouched keys.

    Contract: per-key append-only — every batch event's ``ts_col`` must be
    >= the key's last ``effective_from`` (the normal streaming-ingest
    case; a global "batch starts where history ends" cut satisfies it).
    Under that contract the result is row-identical to rebuilding from the
    full changelog: version-start rows are a lossless compression of the
    history's change points, so re-running change detection over
    (version starts UNION new events) reproduces the full rebuild for the
    touched keys.  A LATE event (before the key's last change point)
    would need the dropped duplicate events to re-split versions — route
    late data through a full rebuild of its keys instead.

    Scale shape: the batch's distinct keys drive everything — untouched
    history rows pass through via an anti-join (no window, no state),
    touched keys re-version over (their handful of version starts + the
    new events).  Cost is proportional to the BATCH, not the table; on a
    Delta/Iceberg-backed table the same shape becomes a MERGE on the
    touched keys.
    """
    touched = batch.select(*keys).distinct()
    hist_touched = history.join(touched, keys, "left_semi")
    hist_kept = history.join(touched, keys, "left_anti")
    starts = hist_touched.select(
        *keys, F.col("effective_from").alias(ts_col), *tracked
    )
    merged = starts.unionByName(
        batch.select(*keys, ts_col, *tracked)
    )
    redone = scd2_from_changelog(
        merged, keys, ts_col, tracked, tie_breakers=None
    )
    return hist_kept.select(redone.columns).unionByName(redone)
