"""Multi-annotator label aggregation and agreement — the supervision
side of a training-data pipeline: several labelers (human raters, LLM
judges, weak heuristics) tag the same items, and the pipeline must (a)
resolve one training label per item and (b) measure whether the
annotators agree enough for the labels to mean anything.

The operators (majority vote, pairwise Cohen's kappa, Krippendorff's
alpha, Dawid-Skene EM) are pure DataFrame work over the wide
(item, annotator_1 .. annotator_k) frame or its long melt — label-set
sized shuffled state, no UDFs.  Agreement statistics are ratios of
exact counts rounded to 6 dp, so results are bit-identical across
engines and partitionings (the repo's standard float-parity contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def majority_label(
    df: DataFrame,
    id_col: str,
    annotator_cols: list[str],
    tie_break: str = "lexical",
) -> DataFrame:
    """One resolved label per item: the label most annotators chose.

    Ties break deterministically — ``lexical`` picks the smallest label
    string among the tied leaders (stable across partitionings and
    engines; a random or first-seen tie-break would make the training
    set nondeterministic).  NULL votes (annotator skipped the item)
    simply don't count.  Output:
    ``(id, label, votes, n_votes, unanimous)``; items EVERY annotator
    skipped are absent (no votes exist to resolve — a NULL-label row
    would put an unlabeled item into a training set).

    Scale: explode k annotator columns (k map-side rows per item),
    count per (item, label), one max_by per item — state is
    items x distinct-labels-voted, never the corpus text.
    """
    votes = (
        df.select(
            F.col(id_col),
            F.explode(F.array(*[F.col(c) for c in annotator_cols]))
            .alias("__lab__"),
        )
        .filter(F.col("__lab__").isNotNull())
        .groupBy(id_col, "__lab__")
        .agg(F.count(F.lit(1)).alias("__v__"))
    )
    if tie_break != "lexical":
        raise ValueError(f"unknown tie_break {tie_break!r}")
    # max_by with a composite (votes, reversed-label) key would need an
    # orderable struct; a window keeps it engine-portable and explicit
    w = Window.partitionBy(id_col).orderBy(
        F.col("__v__").desc(), F.col("__lab__").asc()
    )
    return (
        votes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .join(
            votes.groupBy(id_col).agg(F.sum("__v__").alias("n_votes")),
            id_col,
        )
        .select(
            F.col(id_col),
            F.col("__lab__").alias("label"),
            F.col("__v__").alias("votes"),
            "n_votes",
            (F.col("__v__") == F.col("n_votes")).alias("unanimous"),
        )
    )


def pairwise_kappa(
    df: DataFrame,
    annotator_cols: list[str],
) -> DataFrame:
    """Cohen's kappa for every annotator pair — chance-corrected
    agreement: ``kappa = (po - pe) / (1 - pe)`` with ``po`` the observed
    agreement rate and ``pe`` the agreement expected from each rater's
    marginal label distribution.  Items where either rater skipped
    (NULL) are excluded from that pair, the standard pairwise-deletion
    convention.  Output per pair:
    ``(rater_a, rater_b, n_items, observed_agreement,
    expected_agreement, kappa)`` — all three statistics rounded to 6 dp
    (ratios of exact counts: engine-portable).  ``kappa`` is NULL for a
    degenerate pair (``pe == 1``: both raters constant on one label —
    chance correction is undefined there, and reporting 0 would hide
    the degeneracy).

    Scale: ONE pipeline for all k*(k-1)/2 pairs — the wide frame melts
    into (rater_a, rater_b, label_a, label_b) rows (k*(k-1)/2 map-side
    rows per item, no extra scans), then every aggregation and join is
    keyed on the pair: the shuffled state is pairs x label-set^2, never
    the items, and adding annotators adds map-side rows rather than
    whole jobs.
    """
    if len(annotator_cols) < 2:
        raise ValueError("pairwise_kappa needs at least two annotators")
    melted = []
    for i, a in enumerate(annotator_cols):
        for b in annotator_cols[i + 1:]:
            melted.append(
                F.struct(
                    F.lit(a).alias("ra"), F.lit(b).alias("rb"),
                    F.col(a).alias("la"), F.col(b).alias("lb"),
                )
            )
    pairs = (
        df.select(F.explode(F.array(*melted)).alias("p"))
        .select("p.ra", "p.rb", "p.la", "p.lb")
        .filter(F.col("la").isNotNull() & F.col("lb").isNotNull())
    )
    joint = pairs.groupBy("ra", "rb", "la", "lb").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = joint.groupBy("ra", "rb").agg(
        F.sum("n").alias("n_items"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("n"))
              .otherwise(F.lit(0))).alias("agree"),
    )
    ma = joint.groupBy("ra", "rb", "la").agg(F.sum("n").alias("na"))
    mb = joint.groupBy("ra", "rb", "lb").agg(F.sum("n").alias("nb"))
    exp = (
        ma.join(
            mb,
            (ma["ra"] == mb["ra"]) & (ma["rb"] == mb["rb"])
            & (ma["la"] == mb["lb"]),
        )
        .groupBy(ma["ra"].alias("ra"), ma["rb"].alias("rb"))
        .agg(F.sum(F.col("na") * F.col("nb")).alias("prod_sum"))
    )
    return (
        stats.join(exp, ["ra", "rb"])
        .select(
            F.col("ra").alias("rater_a"),
            F.col("rb").alias("rater_b"),
            "n_items",
            F.round(F.col("agree") / F.col("n_items"), 6)
            .alias("observed_agreement"),
            F.round(
                F.col("prod_sum") / (F.col("n_items") * F.col("n_items")),
                6,
            ).alias("expected_agreement"),
        )
        .select(
            "rater_a", "rater_b", "n_items",
            "observed_agreement", "expected_agreement",
            F.when(
                F.col("expected_agreement") < 1.0,
                F.round(
                    (F.col("observed_agreement")
                     - F.col("expected_agreement"))
                    / (F.lit(1.0) - F.col("expected_agreement")),
                    6,
                ),
            ).alias("kappa"),
        )
    )


# fixed-point converters of the Dawid-Skene bigint representation:
# quantize exactly as the DECIMAL oracle does (round-half-up at the
# scale via the decimal cast), then carry the unscaled long.  decimal *
# int literal is exact, so the bigint IS the decimal's unscaled value.
def _micros(col, scale_cast):
    return (col.cast(scale_cast) * F.lit(1_000_000)).cast("bigint")


def _from_micros(col):
    # Decimal(m, 6).toDouble == m/1e6 in IEEE double: both are the
    # correctly-rounded quotient (m far below 2^53, 1e6 exact)
    return col.cast("double") / F.lit(1_000_000.0)


def _check_class_bound(n_classes: int) -> None:
    # exactness precondition of the bigint fixed-point E-step: the
    # softmax denominator sums <= n_classes pico-unit numerators
    # (each <= 1e12), and bigint->double stays 1-ulp-exact only
    # while n_classes * 1e12 < 2^53 (~9007).  Enforced, not just
    # commented — past the bound the quantized posteriors could
    # drift 1 ulp from the DECIMAL oracle silently.
    if n_classes >= 9000:
        raise ValueError(
            f"dawid_skene: {n_classes} classes exceeds the bigint "
            "fixed-point exactness bound (n_classes must be < 9000); "
            "shard the label space or use a DECIMAL-arithmetic variant"
        )


def dawid_skene(
    votes: DataFrame,
    item_col: str = "item",
    rater_col: str = "rater",
    label_col: str = "label",
    iterations: int = 2,
    smoothing: float = 0.01,
) -> DataFrame:
    """Dawid-Skene label resolution: EM over per-rater confusion
    matrices, so a reliable annotator's vote outweighs a noisy one's —
    the classic upgrade over majority vote when rater quality varies
    (Dawid & Skene 1979; the crowdsourcing standard).

    ``votes`` is LONG form (item, rater, label); missing votes are
    simply absent rows.  Fixed ``iterations`` of EM from a smoothed
    vote-share initialization; returns ``(item, label, confidence,
    n_votes)`` with ``label`` the posterior argmax (lexical tie-break)
    and ``confidence`` its 6-dp posterior.

    Engine-portable determinism (the BPE-training contract): every
    cross-row SUM runs over exact fixed-point integers — posteriors
    are checkpointed at 6 dp each round, log-probabilities at 6 dp
    (one ``ln`` per MATRIX/PRIOR cell, never per item), per-item
    log-posteriors accumulate as exact sums, and the softmax subtracts
    the exact per-item max before one ``exp`` per (item, class).  No
    step depends on partitioning or accumulation order, and an
    unrolled pure-SQL DECIMAL oracle reproduces it bit-for-bit.

    Representation (the round-15 constant shave): each quantized value
    is carried as a BIGINT in micro-units (posteriors/log-probs x 1e6,
    softmax numerators x 1e12) instead of a DECIMAL column.  The two
    are the same number — a DECIMAL(p,6) IS its unscaled long — but
    bigint sums/maxes stay inside whole-stage codegen while Decimal
    aggregation boxes every row, and the big frames here are
    votes x classes.  Every boundary where the old code crossed
    decimal->double (``Decimal.toDouble`` is the correctly-rounded
    quotient unscaled/10^scale, and int/1e6 in IEEE double is the same
    correctly-rounded quotient; all unscaled values stay far below
    2^53) produces the identical double, so results are bit-identical
    to the all-DECIMAL formulation the oracle still spells out.

    Scale: state is items x classes (posteriors) plus
    raters x classes^2 (confusion) — the matrices are metadata-sized
    and every join against them is broadcastable; per iteration the
    big frames are votes x classes rows, shuffled once on the item
    key.  ``iterations`` is a fixed small constant (2-3 converges in
    practice), so the whole resolver is O(iterations) shuffles of
    votes x classes.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    from ..caching import track

    a = float(smoothing)
    # votes feed two aggregations per EM round and the round-t posterior
    # feeds THREE round-(t+1) consumers (prior, joint, E-step).  Inside
    # one action Catalyst's ReusedExchange already dedupes the identical
    # subtrees (measured: persisting changes the sf0.1 wall < 5%), but
    # that reuse is a plan-shape accident, not a contract — persist the
    # two frames so a future plan change (or a caller running extra
    # actions against the returned lineage) cannot reintroduce
    # exponential recomputation.  Both are items-x-classes / votes-sized;
    # track() releases them under the registry's cache discipline.
    #
    # The votes shuffle on the ITEM key happens ONCE, here: every
    # downstream stage — n_votes/counts/grid aggregations, the
    # per-round joint join, the E-step groupBy(i, j) after the
    # broadcast matrix join, the softmax windows, the final argmax —
    # needs clustering on i (or on a superset key like (i, j), which
    # hash-partitioning on i already satisfies), so the persisted
    # partitioning flows through the whole EM loop and no round
    # re-shuffles anything votes- or items-sized.  Measured at sf0.1
    # this halves the exchange count and cuts ~40% of the wall; at
    # cluster scale it is the difference between O(1) and
    # O(iterations) shuffles of the vote log.
    v0 = votes.select(
        F.col(item_col).alias("i"),
        F.col(rater_col).alias("r"),
        F.col(label_col).alias("l"),
    ).filter(F.col("l").isNotNull())
    v = track(v0.repartition("i"))
    classes = v.select(F.col("l").alias("j")).distinct()
    n_classes = classes.count()  # label-set sized: metadata
    _check_class_bound(n_classes)
    aL = a * n_classes

    # one aggregation serves as BOTH the distinct-item inventory and the
    # per-item vote count (the old plan ran a distinct AND a count agg
    # over v, then joined the count back onto the grid — one agg and one
    # join more than needed; v's i-clustering makes this exchange-free)
    items = v.groupBy("i").agg(F.count(F.lit(1)).alias("n_votes"))
    # T0: smoothed vote shares over the full item x class grid
    counts = v.groupBy("i", F.col("l").alias("j")).agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = items.crossJoin(F.broadcast(classes))
    T = track(
        grid.join(counts, ["i", "j"], "left")
        .select(
            "i", "j",
            _micros(
                F.round(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(a))
                    / (F.col("n_votes") + F.lit(aL)),
                    6,
                ),
                "decimal(7,6)",
            ).alias("t"),
        )
    )

    for _ in range(iterations):
        # M: class priors from exact posterior mass (bigint micro sums)
        prior = (
            T.groupBy("j").agg(F.sum("t").alias("mass"))
            .withColumn("total", F.sum("mass").over(Window.partitionBy()))
            .select(
                "j",
                # DOUBLE division of the two decimal-equivalent doubles
                # (micros/1e6 each == Decimal.toDouble) — a single
                # int/int division would round differently
                _micros(
                    F.round(
                        F.log(
                            _from_micros(F.col("mass"))
                            / _from_micros(F.col("total"))
                        ),
                        6,
                    ),
                    "decimal(11,6)",
                ).alias("logp"),
            )
        )
        # M: per-rater confusion matrices from exact joint mass
        joint = (
            v.join(T, "i")
            .groupBy("r", "j", "l")
            .agg(F.sum("t").alias("m"))
        )
        row_mass = joint.groupBy("r", "j").agg(F.sum("m").alias("rm"))
        logpi = (
            joint.join(row_mass, ["r", "j"])
            .select(
                "r", "j", "l",
                _micros(
                    F.round(
                        F.log(
                            (_from_micros(F.col("m")) + F.lit(a))
                            / (_from_micros(F.col("rm")) + F.lit(aL))
                        ),
                        6,
                    ),
                    "decimal(11,6)",
                ).alias("logpi"),
            )
        )
        # E: per-(item, class) log-posterior = exact micro-int sum;
        # votes a rater never cast contribute nothing (absent rows).
        # A vote on a (rater, label) pair joins to ALL classes' matrix
        # entries.  (classes-per-vote fan-out: votes x L rows, one
        # shuffle on item)
        lognum = (
            v.join(F.broadcast(logpi), ["r", "l"])
            .groupBy("i", "j")
            .agg(F.sum("logpi").alias("s"))
            .join(F.broadcast(prior), "j")
            .select("i", "j", (F.col("s") + F.col("logp")).alias("ln_num"))
        )
        per_i = Window.partitionBy("i")
        T = (
            lognum.withColumn("mx", F.max("ln_num").over(per_i))
            .select(
                "i", "j",
                # softmax numerators in pico-units (x 1e12): e <= 1 so
                # the per-item den sum stays far below 2^53
                (
                    F.round(
                        F.exp(_from_micros(F.col("ln_num") - F.col("mx"))),
                        12,
                    ).cast("decimal(20,12)")
                    * F.lit(1_000_000_000_000)
                ).cast("bigint").alias("e"),
            )
            .withColumn("den", F.sum("e").over(per_i))
            .select(
                "i", "j",
                _micros(
                    F.round(
                        (F.col("e").cast("double") / F.lit(1e12))
                        / (F.col("den").cast("double") / F.lit(1e12)),
                        6,
                    ),
                    "decimal(7,6)",
                ).alias("t"),
            )
        )
        T = track(T)

    w = Window.partitionBy("i").orderBy(F.col("t").desc(), F.col("j").asc())
    return (
        T.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(items, "i")
        .select(
            F.col("i").alias(item_col),
            F.col("j").alias(label_col),
            _from_micros(F.col("t")).alias("confidence"),
            "n_votes",
        )
    )


def dawid_skene_wide(
    df: DataFrame,
    item_col: str,
    rater_cols: list[str],
    iterations: int = 2,
    smoothing: float = 0.01,
) -> DataFrame:
    """``dawid_skene`` for votes that arrive WIDE (one row per item, one
    label column per rater, NULL = no vote) — the natural shape of a
    fixed annotator panel.  The vote pattern is then a pure per-row
    projection (build the (rater, label) struct array from the columns,
    drop NULL votes, sort), so no melt or groupBy(item) is needed to
    reconstruct it.  Output and arithmetic are identical to
    ``dawid_skene`` over the melted long form (the rater name is the
    column name).

    Every EM quantity attached to an item is a function of its vote
    pattern alone, and the M-step sums decompose exactly over patterns
    (sum over items of t == sum over patterns of count * t, in bigint
    micro-units).  So while the distinct-pattern table is within
    ``_DRIVER_EM_MAX_PATTERNS`` — for a fixed panel it is at most
    (classes+1)^raters — the EM runs driver-side over it
    (``_dawid_skene_driver``) and the answer broadcast-joins back onto
    the corpus.  Over the bound the pattern map is exploded back into
    long-form votes and the distributed frame EM ``dawid_skene`` runs."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # not persisted: the pattern map is a scan-level projection, read
    # once by the probe and once by the final join (or by the long-form
    # EM, which persists its own vote frame)
    pat = df.select(
        F.col(item_col).alias("i"),
        F.sort_array(
            F.filter(
                F.array(*[
                    F.struct(F.lit(c).alias("r"), F.col(c).alias("l"))
                    for c in rater_cols
                ]),
                lambda v: v["l"].isNotNull(),
            )
        ).alias("__p__"),
    ).filter(F.size("__p__") > 0)
    # distinct-pattern probe: ONE corpus aggregation, fetched bounded
    # (take(N+1) — the repo's bloom/skip-scan collect discipline: a
    # bounded reduction, never row data).  For a fixed panel the pattern
    # space is <= (classes+1)^raters, so almost every real corpus lands
    # under the bound and the whole EM state fits on the driver.
    head = pat.groupBy("__p__").agg(F.count(F.lit(1)).alias("__w__")).take(
        _DRIVER_EM_MAX_PATTERNS + 1
    )
    if len(head) <= _DRIVER_EM_MAX_PATTERNS:
        # metadata-sized EM: run the fixed-point loop driver-side (same
        # integers, same roundings — see _dawid_skene_driver) and
        # broadcast the pattern->answer table back onto the corpus.
        # Two corpus passes total (the probe aggregation + the final
        # join), ZERO per-round Spark jobs.
        classes = sorted({v["l"] for row in head for v in row["__p__"]})
        _check_class_bound(len(classes))
        return _dawid_skene_driver(
            pat, head, item_col, "label", iterations, float(smoothing),
            classes,
        )
    # pattern table too large for the driver: the long-form frame EM
    # over the pattern map's own votes (same integers, distributed)
    votes = pat.select("i", F.explode("__p__").alias("__v__")).select(
        "i", F.col("__v__.r").alias("r"), F.col("__v__.l").alias("l")
    )
    return dawid_skene(votes, "i", "r", "l", iterations, smoothing).select(
        F.col("i").alias(item_col),
        F.col("l").alias("label"),
        "confidence",
        "n_votes",
    )


# Upper bound on the distinct-pattern count the EM runs driver-side for.
# The collected state is patterns x (votes + one posterior vector) —
# at 4096 patterns well under a megabyte, the same bounded-reduction
# class as the bloom/skip-scan/CMS collects (guide §4/§5: the driver
# holds sketch-sized metadata, never row data).
_DRIVER_EM_MAX_PATTERNS = 4096


def _dawid_skene_driver(
    pat: DataFrame,
    head: list,
    item_col: str,
    label_col: str,
    iterations: int,
    a: float,
    classes: list,
) -> DataFrame:
    """Fixed-point Dawid-Skene EM over a COLLECTED distinct-pattern
    table (see ``dawid_skene_wide``): when the pattern space is
    metadata-sized, every EM quantity is a function of at most
    patterns x classes bigint cells, and the round-trip of launching
    O(iterations) Spark jobs costs orders of magnitude more than the
    arithmetic itself.  So the loop runs here, in exact Python
    integers, and only the pattern->answer table goes back to the
    cluster for the final corpus join.

    Bit-identity with the distributed frame EM, step by step:

    - every cross-row SUM is an exact bigint in micro/pico units —
      Python ints ARE arbitrary-precision, so the sums are the same
      integers;
    - ``round(double, d)`` in Spark is HALF_UP on the double's shortest
      decimal representation (``BigDecimal.valueOf``); ``_r`` below is
      HALF_UP on ``repr(double)`` — the identical shortest
      representation, hence the identical quantized value;
    - int->double casts and double divisions are single correctly-
      rounded IEEE operations in both runtimes, applied in the same
      order;
    - ``ln``/``exp`` evaluate through the platform libm exactly as the
      DuckDB oracle that reproduces the distributed path bit-for-bit
      already does, and each result is checkpointed to 6/12 dp before
      anything consumes it.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    L = len(classes)
    aL = a * L
    cidx = {c: k for k, c in enumerate(classes)}

    def _r(x: float, d: int) -> int:
        # bigint unscaled value of round(x, d) at scale d — exactly
        # cast(round(x, d) as decimal(_, d)) * 10^d in the Spark paths
        return int(
            Decimal(repr(float(x))).quantize(
                Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP
            ).scaleb(d)
        )

    pats_py = [
        ([(v["r"], v["l"]) for v in row["__p__"]], int(row["__w__"]))
        for row in head
    ]
    raters = sorted({r for votes, _ in pats_py for r, _ in votes})

    # T0: smoothed vote-share vector, (count + a) / (n_votes + aL)
    T = []
    for votes, _w in pats_py:
        n = len(votes)
        T.append([
            _r((sum(1 for _, l in votes if l == c) + a) / (n + aL), 6)
            for c in classes
        ])

    for _ in range(iterations):
        # M: class-prior masses and the confusion tensor — exact
        # weighted bigint sums over patterns
        mass = [0] * L
        m = {r: [[0] * L for _ in range(L)] for r in raters}
        for (votes, w), t in zip(pats_py, T):
            for j in range(L):
                wt = w * t[j]
                mass[j] += wt
                for r, l in votes:
                    m[r][j][cidx[l]] += wt
        total = sum(mass)
        logp = [_r(math.log((mass[j] / 1e6) / (total / 1e6)), 6)
                for j in range(L)]
        lp = {}
        for r in raters:
            rows = []
            for j in range(L):
                rm = sum(m[r][j])
                rows.append([
                    _r(math.log((m[r][j][li] / 1e6 + a) / (rm / 1e6 + aL)), 6)
                    for li in range(L)
                ])
            lp[r] = rows

        # E + softmax per pattern: exact bigint adds, one exp per cell
        newT = []
        for votes, _w in pats_py:
            ln_num = [
                sum(lp[r][j][cidx[l]] for r, l in votes) + logp[j]
                for j in range(L)
            ]
            mx = max(ln_num)
            e = [_r(math.exp((ln_num[j] - mx) / 1e6), 12) for j in range(L)]
            den = sum(e)
            newT.append([
                _r((e[j] / 1e12) / (den / 1e12), 6) for j in range(L)
            ])
        T = newT

    # argmax with the (t desc, class asc) tie-break; confidence is the
    # posterior as the identical int/1e6 double
    out_rows = []
    for (votes, _w), t in zip(pats_py, T):
        mx = max(t)
        j = t.index(mx)
        out_rows.append((
            [{"r": r, "l": l} for r, l in votes], classes[j], mx / 1e6,
        ))

    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = pat.sparkSession
    p_type = pat.schema["__p__"].dataType
    lbl_type = p_type.elementType["l"].dataType
    res = spark.createDataFrame(
        out_rows,
        StructType([
            StructField("__p__", p_type, False),
            StructField("__lbl__", lbl_type, False),
            StructField("__conf__", DoubleType(), False),
        ]),
    )
    return (
        pat.join(F.broadcast(res), "__p__")
        .select(
            F.col("i").alias(item_col),
            F.col("__lbl__").alias(label_col),
            F.col("__conf__").alias("confidence"),
            F.size("__p__").cast("long").alias("n_votes"),
        )
    )


def _q6(col):
    """floor(x * 1e6 + 0.5) / 1e6 — engine-portable 6-dp quantization of
    a double.  ``round(double, 6)`` is NOT portable: Spark rounds the
    double's shortest decimal string, DuckDB the exact binary value, and
    a quotient within an ulp of a .5 boundary rounds differently (the
    ols_trend sf0.1 divergence class).  floor of the same double is the
    same everywhere."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def krippendorff_alpha(
    df: DataFrame,
    id_col: str,
    annotator_cols: list[str],
    *,
    assume_unique_units: bool = False,
    wide_max_annotators: int = 16,
) -> DataFrame:
    """Krippendorff's alpha (nominal) over the wide annotation frame —
    the agreement coefficient that, unlike pairwise kappa, handles
    MISSING votes and any number of annotators in one number:
    ``alpha = 1 - D_o / D_e`` with D_o the observed disagreement of the
    coincidence matrix and D_e the disagreement expected from the label
    marginals.  Standard nominal-metric construction (Krippendorff,
    "Content Analysis"; coincidence-matrix formulation): units with
    fewer than two non-NULL votes carry no pairable information and are
    excluded.

    All arithmetic is exact until the divisions: per-unit disagreement
    is ``(m_u^2 - sum_c n_uc^2) / (m_u - 1)`` (exact halves for
    m_u <= 3; thirds etc. appear with larger pools, so the quotient is
    floor-quantized at 6 dp — see :func:`_q6` — before the DECIMAL
    accumulation) and the marginals are integer counts, so
    ``alpha = 1 - (n - 1) * D_o_total / (n^2 - sum_c n_c^2)`` is a
    ratio of exact quantities quantized at 6 dp (the repo's
    float-parity contract).

    Output: ONE row —
    (n_units, n_votes, n_labels, observed_disagreement,
    expected_disagreement, alpha) where the two disagreement columns are
    the conventional per-pair rates (D_o_total / n and
    (n^2 - sum_c n_c^2) / (n * (n - 1))), reported at 6 dp for
    reference; alpha itself is computed from the unrounded exact pieces.

    The UNIT is every distinct ``id_col`` value: votes for the same id
    split across several physical rows are POOLED before the per-unit
    statistics (standard Krippendorff semantics — a unit's coincidence
    matrix doesn't care which row carried which vote).

    Two physical plans, chosen automatically:

    * **wide fast path** (unique ids, <= ``wide_max_annotators``
      annotators): every per-unit statistic is a MAP-SIDE codegen
      expression — the wide row IS the unit, and for nominal data
      ``sum_c n_uc^2`` equals the count of agreeing ordered vote pairs
      WITHIN the row (``sum_ij [a_i = a_j]``, self-pairs included), so
      m_u and the unit disagreement term are k^2 scalar comparisons
      (k = annotators), no arrays, no higher-order functions, no
      per-item shuffle.  Two whole-stage-codegen reductions remain: the
      global sum of unit terms, and the label marginals (melt k columns
      of pairable rows -> groupBy(label), which partial-aggregates to
      the label alphabet map-side).  Their single-row results meet in a
      1x1 cross join (plan-guard allowlisted).  Earlier cuts aggregated
      a melted (item, label) frame (items-sized shuffle + window: 16 s
      at a 100x events blowup) or per-row array lambdas (interpreted,
      44 s); this plan reads ~4 s — two scans, everything else
      label-sized.
    * **melted pooled path**: melt to (id, label), count per-(id,
      label), aggregate per id — one items-sized shuffle.  Taken when
      (a) ids repeat, because pooling is then required for correct
      semantics, or (b) ``len(annotator_cols) > wide_max_annotators``,
      because the fast path's k^2 comparison expression grows
      quadratically and would blow past JVM codegen limits (a k=100
      pool is 10,000 terms) — above the cap the quadratic expression
      is the risk, not the shuffle.

    Which path applies is decided by one metadata-sized duplicate-id
    probe (groupBy(id).count > 1, LIMIT 1 — a cheap extra scan).  Pass
    ``assume_unique_units=True`` to skip the probe when the id is a
    known primary key; the wide path is then used directly (with
    repeated ids that assumption silently un-pools votes — only assert
    what the upstream schema guarantees).
    """
    if len(annotator_cols) < 2:
        raise ValueError("krippendorff_alpha needs at least two annotators")
    cols = [F.col(c) for c in annotator_cols]

    use_wide = len(annotator_cols) <= wide_max_annotators
    if use_wide and not assume_unique_units:
        dup = (
            df.groupBy(F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__c__"))
            .filter(F.col("__c__") > 1)
        )
        use_wide = len(dup.take(1)) == 0

    if use_wide:
        m_expr = sum(
            (c.isNotNull().cast("int") for c in cols), F.lit(0)
        )
        s2_expr = sum(
            (
                (a.isNotNull() & b.isNotNull() & (a == b)).cast("int")
                for a in cols
                for b in cols
            ),
            F.lit(0),
        )
        unit = df.select(
            m_expr.alias("__m__"), s2_expr.cast("bigint").alias("__s2__")
        ).filter(F.col("__m__") >= 2)
        pair_labels = (
            df.select(
                m_expr.alias("__m__"),
                *[c.alias(f"__a{i}__") for i, c in enumerate(cols)],
            )
            .filter(F.col("__m__") >= 2)
            .select(
                F.explode(
                    F.array(*[F.col(f"__a{i}__") for i in range(len(cols))])
                ).alias("__lab__")
            )
            .filter(F.col("__lab__").isNotNull())
            .select("__lab__", F.lit(1).alias("__n__"))
        )
    else:
        nuc = (
            df.select(
                F.col(id_col).alias("__id__"),
                F.explode(F.array(*cols)).alias("__lab__"),
            )
            .filter(F.col("__lab__").isNotNull())
            .groupBy("__id__", "__lab__")
            .agg(F.count(F.lit(1)).alias("__n__"))
        )
        per_unit = nuc.groupBy("__id__").agg(
            F.sum("__n__").alias("__m__"),
            F.sum(F.col("__n__") * F.col("__n__")).alias("__s2__"),
        )
        unit = per_unit.filter(F.col("__m__") >= 2).select("__m__", "__s2__")
        pair_labels = nuc.join(
            per_unit.filter(F.col("__m__") >= 2).select("__id__"),
            "__id__",
            "left_semi",
        ).select("__lab__", "__n__")

    do = unit.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(
            _q6(
                (F.col("__m__") * F.col("__m__") - F.col("__s2__"))
                .cast("double")
                / (F.col("__m__") - F.lit(1))
            ).cast("decimal(18,6)")
        ).alias("do_total"),
    )
    marg = (
        pair_labels.groupBy("__lab__")
        .agg(F.sum("__n__").alias("n_c"))
        .agg(
            F.count(F.lit(1)).alias("n_labels"),
            F.sum("n_c").alias("n"),
            F.sum(F.col("n_c") * F.col("n_c")).alias("s2_c"),
        )
    )
    # both sides are single aggregate rows — the cross join is a 1x1
    # combine, not a data-sized cartesian (plan-guard allowlisted shape)
    out = do.crossJoin(marg)
    de_num = F.col("n") * F.col("n") - F.col("s2_c")
    return out.select(
        F.col("n_units").cast("bigint").alias("n_units"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_votes"),
        F.col("n_labels").cast("bigint").alias("n_labels"),
        _q6(
            F.col("do_total").cast("double") / F.col("n")
        ).alias("observed_disagreement"),
        _q6(
            de_num.cast("double") / (F.col("n") * (F.col("n") - F.lit(1)))
        ).alias("expected_disagreement"),
        F.when(
            de_num > 0,
            _q6(
                F.lit(1.0)
                - (F.col("n") - F.lit(1)).cast("double")
                * F.col("do_total").cast("double")
                / de_num.cast("double")
            ),
        ).alias("alpha"),
    )
