"""Binary-classifier evaluation as exact integer rank statistics —
the measurement half of the quality-classifier loop (train with
``operators/logreg.py``, evaluate here before letting a filter loose
on the next 100 TB).

Everything reduces to INTEGER arithmetic over 6-dp-quantized score
bins, so the whole report is bit-exact across engines — no float sum
ever crosses rows:

* scores are floor-scaled to the 1e-6 grid first (``fs6``), so a
  [0, 1] classifier score yields AT MOST 1,000,001 distinct bins —
  the per-bin (positives, negatives) aggregate is one
  map-side-combinable shuffle whose output is bounded by the GRID,
  not the corpus;
* AUC is the Mann-Whitney U statistic on those bins with midrank tie
  handling, kept in integers via the doubled form
  ``U2 = Σ_s pos(s)·(2·cum_neg(<s) + neg(s))`` and divided exactly
  once at the end (``AUC = U2 / (2·P·N)``);
* the confusion counts at a threshold are conditional integer sums
  over the same bins; precision/recall/F1/accuracy are single
  integer-over-integer divisions, floor-scaled.

The one partition-less window (the cumulative negative count) runs
over the bin frame — bounded by construction at ≤ grid size, the same
declared-global class as q76's pruned-vocabulary enumeration. U2 is
accumulated in decimal(38,0) (Spark) / HUGEINT (DuckDB): with P and N
near 10^9 each, ``2·P·N`` overflows int64, and a silent wrap would be
an invisible metric corruption at exactly the scale this engine
targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark.functions.rounding import fs6


def score_bins(
    df: DataFrame, score_col: Column | str, label_col: Column | str
) -> DataFrame:
    """Per 6-dp score bin: positive and negative label counts.

    ``score_col`` may be any numeric expression; ``label_col`` must be
    boolean or 0/1. Output: (s, pos, neg) with s on the 1e-6 grid.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    b = df.select(fs6(s).alias("s"), y.cast("int").alias("y"))
    return b.groupBy("s").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: Column | str,
    label_col: Column | str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins, integer-exact: per score decile (on
    the 6-dp grid), document count, positive count, observed positive
    fraction, mean predicted score, and the calibration gap
    (mean_score − frac_pos).

    Scores are first floor-scaled to integer micro-units
    ``k = floor(s·1e6 + 0.5)``, so the bin id is an INTEGER division
    (no float boundary can disagree between engines) and the mean
    score is an integer sum divided once at the end — like the AUC
    path, nothing float ever crosses rows. The gap is computed as one
    exact rational ``(Σk − 1e6·pos) / (1e6·n)`` rather than a
    difference of two rounded values, so it is bit-exact too.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    k = F.floor(s * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    b = df.select(k.alias("k"), y.cast("int").alias("y"))
    bin_id = F.greatest(
        F.lit(0),
        F.least(
            F.floor(
                (F.col("k") * F.lit(n_bins)) / F.lit(1000000.0)
            ).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    agg = b.groupBy(bin_id.alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("k").alias("sum_k"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return agg.select(
        "bin",
        "n_docs",
        "n_pos",
        fs6(d(F.col("n_pos")) / d(F.col("n_docs"))).alias("frac_pos"),
        fs6(
            d(F.col("sum_k")) / d(F.lit(1000000) * F.col("n_docs"))
        ).alias("mean_score"),
        fs6(
            d(F.col("sum_k") - F.lit(1000000) * F.col("n_pos"))
            / d(F.lit(1000000) * F.col("n_docs"))
        ).alias("gap"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: Column | str,
    label_col: Column | str,
    n_bins: int = 10,
) -> DataFrame:
    """Monotone (isotonic) calibration of a score against observed
    labels, on the binned frame: the fix for what
    :func:`calibration_bins` diagnoses.

    Uses the closed-form minimax characterization of isotonic
    regression (Robertson–Wright–Dykstra):

        fitted(b) = max_{j ≤ b} min_{k ≥ b} frac_pos(j..k)

    which equals the pool-adjacent-violators solution but is
    order-free — three self-joins over the BIN frame instead of a
    sequential pooling pass. ``n_bins`` is a config constant (deciles
    here), so the O(B³) triple is trivially bounded and everything
    stays declarative: no driver collect, no loop, no checkpoint.
    Every pooled average is one integer-over-integer division
    (cumulative positives / cumulative counts), so both engines
    compute bit-identical doubles and the min/max lattice resolves
    identically — the fitted curve is exact, then floor-scaled.

    Returns one row per non-empty bin: ``bin``, ``n_docs``, ``n_pos``,
    ``frac_pos`` (raw), ``fitted`` (monotone calibrated probability).
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    k = F.floor(s * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    b = df.select(k.alias("k"), y.cast("int").alias("y"))
    bin_id = F.greatest(
        F.lit(0),
        F.least(
            F.floor(
                (F.col("k") * F.lit(n_bins)) / F.lit(1000000.0)
            ).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    bins = b.groupBy(bin_id.alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cp"),
    )
    j = cum.select(
        F.col("bin").alias("j"),
        (F.col("cp") - F.col("n_pos")).alias("cp_before_j"),
        (F.col("cn") - F.col("n_docs")).alias("cn_before_j"),
    )
    kk = cum.select(
        F.col("bin").alias("kb"),
        F.col("cp").alias("cp_k"),
        F.col("cn").alias("cn_k"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    triples = (
        cum.select(F.col("bin").alias("b"))
        .join(j, F.col("j") <= F.col("b"))
        .join(kk, F.col("kb") >= F.col("b"))
        .select(
            "b",
            "j",
            (
                d(F.col("cp_k") - F.col("cp_before_j"))
                / d(F.col("cn_k") - F.col("cn_before_j"))
            ).alias("pooled"),
        )
    )
    mins = triples.groupBy("b", "j").agg(F.min("pooled").alias("mn"))
    fitted = mins.groupBy("b").agg(F.max("mn").alias("fitted_raw"))
    return (
        cum.join(fitted, cum["bin"] == fitted["b"])
        .select(
            "bin",
            "n_docs",
            "n_pos",
            fs6(d(F.col("n_pos")) / d(F.col("n_docs"))).alias("frac_pos"),
            fs6(F.col("fitted_raw")).alias("fitted"),
        )
    )


def binary_classifier_report(
    df: DataFrame,
    score_col: Column | str,
    label_col: Column | str,
    threshold: float = 0.5,
) -> DataFrame:
    """One-row exact evaluation report: n_pos, n_neg, auc, tp/fp/tn/fn
    at ``threshold``, precision, recall, f1, accuracy.

    All ratios are single integer-over-integer IEEE divisions (then
    floor-scaled to 6 dp), so two engines computing this report from
    the same rows agree bit-for-bit; degenerate denominators (no
    positives, no predicted positives, …) yield NULL rather than a
    fabricated 0.
    """
    bins = score_bins(df, score_col, label_col)
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = bins.withColumn(
        "cneg", F.coalesce(F.sum("neg").over(w), F.lit(0).cast("long"))
    )
    dec = "decimal(19,0)"
    pred_pos = F.col("s") >= F.lit(threshold)
    agg = cum.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(
            F.col("pos").cast(dec)
            * (F.lit(2) * F.col("cneg") + F.col("neg")).cast(dec)
        ).alias("u2"),
        F.sum(F.when(pred_pos, F.col("pos")).otherwise(F.lit(0))).alias("tp"),
        F.sum(F.when(pred_pos, F.col("neg")).otherwise(F.lit(0))).alias("fp"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0, fs6(d(num) / d(den))
    ).otherwise(F.lit(None).cast("double"))
    return (
        agg.withColumn("fn", F.col("n_pos") - F.col("tp"))
        .withColumn("tn", F.col("n_neg") - F.col("fp"))
        .select(
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                fs6(
                    d(F.col("u2"))
                    / (F.lit(2.0) * d(F.col("n_pos")) * d(F.col("n_neg")))
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("auc"),
            "tp",
            "fp",
            "tn",
            "fn",
            ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
            ratio(F.col("tp"), F.col("n_pos")).alias("recall"),
            ratio(
                F.lit(2) * F.col("tp"),
                F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"),
            ).alias("f1"),
            ratio(
                F.col("tp") + F.col("tn"), F.col("n_pos") + F.col("n_neg")
            ).alias("accuracy"),
        )
    )


def poisson_thresholds(lam: float = 1.0, max_k: int = 7) -> list[int]:
    """Integer inverse-CDF thresholds for deterministic Poisson(λ)
    draws from a uniform hash in [0, P): ``T_k = floor(cdf(k)·P)`` for
    k = 0..max_k−1, computed ONCE in Python and embedded as literals
    in both engines — the draw is then pure integer comparison, no
    float ever enters the replica weights. A hash ≥ T_{max_k−1} draws
    ``max_k`` (the truncated tail, ~1e-5 mass at λ=1/max_k=7)."""
    import math

    from gpi_etl_spark.functions.xhash import P

    pmf = math.exp(-lam)
    cdf = 0.0
    out = []
    for k in range(max_k):
        cdf += pmf
        out.append(int(math.floor(cdf * P)))
        pmf = pmf * lam / (k + 1)
    return out


def poisson_bootstrap_means(
    df: DataFrame,
    group_cols: tuple[str, ...],
    cents_col: str,
    id_col: str,
    replicas: int = 32,
) -> DataFrame:
    """Deterministic Poisson bootstrap of a fixed-point mean — THE
    distributed bootstrap (Chamandy et al., Google 2012): resampling
    n rows with replacement is unshufflable at scale, but each row's
    multiplicity in a bootstrap replica is ≈ Poisson(1), independent
    per row — so every row draws ``replicas`` integer weights in one
    narrow projection and each replica's statistic is one
    map-side-combined aggregation. No RNG: replica b's draw hashes the
    row id through the poly family (cubic premix — short digit ids,
    the q221 finding) and the b-th affine derivation, then
    inverse-CDF's through integer thresholds (:func:`poisson_thresholds`),
    so the whole resampling replays bit-exactly in any engine.

    Returns ``(*group_cols, b int, n_eff bigint, boot_mean_r double)``
    — ``replicas`` rows per group; the spread of ``boot_mean_r``
    across b IS the sampling distribution a CI reads off. The mean is
    exact-rational (int weights × int cents / int count) → 6-dp
    floor-scaled.

    SHAPE (round-13, guide §2.3/§2.4 — the kmv_build rework's twin):
    the replica sums aggregate 2·replicas columns in ONE groupBy over
    the input rows — per replica ``sum(w_b)`` and ``sum(w_b·cents)``
    read straight off the materialized weights array — and the
    ≤|groups| result unpivots to the (b, n_eff, _wsum) layout
    afterwards. The previous form posexploded ``replicas`` rows per
    input row BEFORE the partial aggregate: at 100 TB that
    materializes |rows|·replicas rows through the Generate node and
    hashes each into the (group, b) combine map, even though map-side
    combine bounds the wire either way. Sums are bit-identical (exact
    integer addition reassociated; the law test pins shape
    equivalence), every group with ≥1 input row yields all
    ``replicas`` rows in both shapes, empty input yields no rows
    (``group_cols=()`` included), and the n_eff = 0 NULL rule is
    untouched. Measured 2.8 s → 2.1 s warm on q229 (100k events ×32)
    at sf0.1."""
    from gpi_etl_spark.functions.hof import let_
    from gpi_etl_spark.functions.xhash import (
        affine_hash,
        cubic_mix,
        poly_hash,
    )

    ts = poisson_thresholds()

    def draw(ah):
        w = F.when(ah < ts[0], F.lit(0))
        for k in range(1, len(ts)):
            w = w.when(ah < ts[k], F.lit(k))
        return w.otherwise(F.lit(len(ts)))

    weights = let_(
        poly_hash(F.col(id_col).cast("string")),
        lambda h: let_(
            cubic_mix(h),
            lambda g: F.array(
                *[draw(affine_hash(g, b, replicas)) for b in range(replicas)]
            ),
        ),
    )
    # internal names double-underscored to stay out of any caller's
    # group_cols namespace (the kmv_build convention)
    wdf = df.select(
        *group_cols,
        F.col(cents_col).cast("long").alias("__pb_c"),
        weights.alias("__pb_w"),
    )
    ga = wdf.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__pb_n"),
        *[
            F.sum(F.element_at("__pb_w", b + 1))
            .cast("bigint")
            .alias(f"__pb_n{b}")
            for b in range(replicas)
        ],
        *[
            F.sum(F.element_at("__pb_w", b + 1) * F.col("__pb_c"))
            .alias(f"__pb_s{b}")
            for b in range(replicas)
        ],
    )
    # an UNGROUPED aggregate over empty input still yields one all-NULL
    # row; the row-count guard drops it so empty input gives no rows
    # (the kmv_build / _ams_components guard)
    agg = ga.filter(F.col("__pb_n") > 0).select(
        *group_cols,
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("b"),
                        F.col(f"__pb_n{b}").alias("n_eff"),
                        F.col(f"__pb_s{b}").alias("_wsum"),
                    )
                    for b in range(replicas)
                ]
            )
        ).alias("__pb_i", "__pb_e"),
    ).select(
        *group_cols,
        F.col("__pb_e.b").alias("b"),
        F.col("__pb_e.n_eff").alias("n_eff"),
        F.col("__pb_e._wsum").alias("_wsum"),
    )
    # a replica where EVERY row of a group draws weight 0 has no
    # resample — its mean is explicitly NULL on both engines (advice
    # find: Spark's divide-by-zero already yields NULL here, but DuckDB
    # under default ieee_floating_point_ops returns inf, so the oracle
    # needs the same explicit CASE; reachable only for tiny groups)
    return agg.select(
        *group_cols,
        "b",
        "n_eff",
        F.when(F.col("n_eff") == 0, F.lit(None).cast("double"))
        .otherwise(
            fs6(
                F.col("_wsum").cast("double")
                / (F.lit(100.0) * F.col("n_eff").cast("double"))
            )
        )
        .alias("boot_mean_r"),
    )
