"""Exact binary-classifier evaluation: AUC against a brute-force
pair count, metric identities, tie handling, and degenerate inputs."""

from __future__ import annotations

from fractions import Fraction

import pytest


def _brute_auc(pairs):
    """P(score_pos > score_neg) + 0.5·P(equal), exact rationals."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    if not pos or not neg:
        return None
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    return Fraction(2 * wins + ties, 2 * len(pos) * len(neg))


def _fs6(x):
    import math

    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def _report(spark, pairs, threshold=0.5):
    from gpi_etl_spark.operators.evaluation import binary_classifier_report

    df = spark.createDataFrame(pairs, "score double, y int")
    return binary_classifier_report(
        df, "score", "y", threshold=threshold
    ).first()


def test_auc_matches_brute_force_with_ties(spark):
    pairs = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.7, 1), (0.5, 0),
        (0.5, 1), (0.5, 0), (0.3, 0), (0.2, 1), (0.1, 0),
    ]
    r = _report(spark, pairs)
    want = _brute_auc([(_fs6(s), y) for s, y in pairs])
    assert r.auc == pytest.approx(float(want), abs=5e-7)
    assert (r.n_pos, r.n_neg) == (5, 5)


def test_confusion_and_ratio_identities(spark):
    pairs = [(i / 20.0, 1 if i >= 8 else 0) for i in range(20)]
    r = _report(spark, pairs, threshold=0.5)
    # threshold 0.5 → scores 10/20..19/20 predicted positive
    assert r.tp == 10 and r.fp == 0 and r.fn == 2 and r.tn == 8
    assert r.tp + r.fn == r.n_pos and r.fp + r.tn == r.n_neg
    assert r.precision == 1.0
    assert r.recall == pytest.approx(_fs6(10 / 12), abs=0)
    assert r.f1 == pytest.approx(_fs6(20 / 22), abs=0)
    assert r.accuracy == pytest.approx(_fs6(18 / 20), abs=0)


def test_perfect_and_inverted_rankers(spark):
    good = [(0.9, 1)] * 3 + [(0.1, 0)] * 4
    bad = [(0.1, 1)] * 3 + [(0.9, 0)] * 4
    assert _report(spark, good).auc == 1.0
    assert _report(spark, bad).auc == 0.0


def test_single_class_degenerates_to_null(spark):
    r = _report(spark, [(0.4, 1), (0.9, 1)])
    assert r.auc is None
    assert r.n_neg == 0 and r.precision is not None  # tp+fp=2 > 0
    r2 = _report(spark, [(0.4, 0), (0.2, 0)], threshold=0.9)
    assert r2.auc is None and r2.precision is None  # no predicted pos


def test_quantization_defines_ties(spark):
    """Scores closer than 1e-6 land in one bin and count as ties —
    the documented grid semantics, invariant to partitioning."""
    pairs = [(0.5000001, 1), (0.5000004, 0), (0.9, 1), (0.1, 0)]
    df_pairs = [(s, y) for s, y in pairs]
    r = _report(spark, df_pairs)
    # fs6 maps 0.5000001→0.5 and 0.5000004→0.5: one tied pair.
    want = _brute_auc([(_fs6(s), y) for s, y in pairs])
    assert r.auc == pytest.approx(float(want), abs=5e-7)


def test_calibration_bins_exact(spark):
    from gpi_etl_spark.operators.evaluation import calibration_bins

    pairs = [
        (0.05, 0), (0.05, 0), (0.05, 1),          # bin 0: 1/3 pos
        (0.95, 1), (0.95, 1), (0.85, 0),          # bins 9 and 8
        (1.0, 1),                                  # clamps into bin 9
        (0.35, 0),                                 # bin 3
    ]
    df = spark.createDataFrame(pairs, "score double, y int")
    rows = {
        r.bin: r for r in calibration_bins(df, "score", "y").collect()
    }
    assert set(rows) == {0, 3, 8, 9}
    assert rows[0].n_docs == 3 and rows[0].n_pos == 1
    assert rows[0].frac_pos == _fs6(1 / 3)
    assert rows[0].mean_score == _fs6(0.05)
    # gap computed as one rational: (sum_k - 1e6*pos)/(1e6*n)
    assert rows[0].gap == _fs6((150000 - 1000000) / 3000000.0)
    assert rows[9].n_docs == 3 and rows[9].n_pos == 3
    assert rows[9].frac_pos == 1.0
    assert rows[8].n_pos == 0 and rows[8].mean_score == _fs6(0.85)


def test_calibrated_score_has_small_gap(spark):
    """Labels drawn deterministically at rate ≈ score → per-bin gap
    must be small; a miscalibrated constant score must show the full
    gap. Sanity for the metric's sign and magnitude."""
    from gpi_etl_spark.operators.evaluation import calibration_bins

    pairs = [
        (b / 10.0 + 0.05, 1 if (i * 997 % 100) < (b * 10 + 5) else 0)
        for b in range(10)
        for i in range(200)
    ]
    df = spark.createDataFrame(pairs, "score double, y int")
    for r in calibration_bins(df, "score", "y").collect():
        assert abs(r.gap) < 0.06, (r.bin, r.gap)


def _pav_reference(bins):
    """Sequential pool-adjacent-violators over (n, pos) bins — the
    textbook algorithm the minimax closed form must reproduce."""
    blocks = [[n, p] for n, p in bins]  # [count, positives]
    i = 0
    while i < len(blocks) - 1:
        a, b = blocks[i], blocks[i + 1]
        if a[1] * b[0] > b[1] * a[0]:  # a.rate > b.rate → pool
            blocks[i] = [a[0] + b[0], a[1] + b[1]]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    # expand back to per-input-bin fitted values
    fitted, bi = [], 0
    for n, p in blocks:
        covered = 0
        while covered < n:
            fitted.append(p / n)
            covered += bins[bi][0]
            bi += 1
    return fitted


def _iso_run(spark, bin_labels):
    """bin_labels: list of (bin_index, [labels...]) → frame with
    scores centered in each decile."""
    from gpi_etl_spark.operators.evaluation import isotonic_calibration

    rows = []
    for b, labels in bin_labels:
        for y in labels:
            rows.append((b / 10.0 + 0.05, y))
    df = spark.createDataFrame(rows, "score double, y int")
    got = isotonic_calibration(df, "score", "y")
    return [r.fitted for r in sorted(got.collect(), key=lambda r: r.bin)]


def test_isotonic_pools_violations_like_pav(spark):
    # rates by bin: 0.8, 0.2, 0.5 → PAV pools the first two (0.5),
    # then all three tie at 0.5
    bin_labels = [
        (0, [1, 1, 1, 1, 0]),   # 0.8
        (1, [1, 0, 0, 0, 0]),   # 0.2
        (2, [1, 1, 0, 0]),      # 0.5
    ]
    got = _iso_run(spark, bin_labels)
    want = _pav_reference([(len(ls), sum(ls)) for _, ls in bin_labels])
    assert got == [
        _fs6(v) for v in want
    ], (got, want)
    # pooled result must be monotone
    assert got == sorted(got)


def test_isotonic_fully_inverted_pools_to_global_mean(spark):
    bin_labels = [
        (0, [1, 1, 1]),  # 1.0
        (1, [1, 0, 0]),  # 1/3
        (2, [0, 0, 0]),  # 0.0
    ]
    got = _iso_run(spark, bin_labels)
    assert got == [_fs6(4 / 9)] * 3


def test_isotonic_identity_on_monotone_input(spark):
    bin_labels = [
        (0, [0, 0, 0, 1]),
        (4, [0, 1, 1, 1]),
        (9, [1, 1, 1, 1]),
    ]
    got = _iso_run(spark, bin_labels)
    assert got == [_fs6(1 / 4), _fs6(3 / 4), 1.0]


def test_partitioning_invariance(spark):
    from gpi_etl_spark.operators.evaluation import binary_classifier_report

    pairs = [((i * 37 % 101) / 101.0, 1 if i % 3 == 0 else 0)
             for i in range(300)]
    base = None
    for parts in (1, 13):
        df = spark.createDataFrame(
            pairs, "score double, y int"
        ).repartition(parts)
        row = binary_classifier_report(df, "score", "y").first()
        if base is None:
            base = row
        else:
            assert row == base


def test_poisson_bootstrap_deterministic_and_calibrated(spark):
    """Same input → bit-identical replicas (no RNG anywhere); the
    effective sizes average ≈ n (Poisson(1) multiplicities) and the
    replica means scatter around the true mean with nonzero spread."""
    from gpi_etl_spark.operators.evaluation import poisson_bootstrap_means

    n = 400
    rows = [("g", i, ((i * 13) % 100) * 10) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, id long, cents long")
    a = poisson_bootstrap_means(df, ("g",), "cents", "id", replicas=32)
    got1 = sorted((r.b, r.n_eff, r.boot_mean_r) for r in a.collect())
    got2 = sorted(
        (r.b, r.n_eff, r.boot_mean_r)
        for r in poisson_bootstrap_means(
            df, ("g",), "cents", "id", replicas=32
        ).collect()
    )
    assert got1 == got2 and len(got1) == 32
    n_effs = [g[1] for g in got1]
    assert abs(sum(n_effs) / 32 - n) / n < 0.1  # E[n_eff] = n
    true_mean = sum(r[2] for r in rows) / (100.0 * n)
    means = [g[2] for g in got1]
    spread = max(means) - min(means)
    assert spread > 0.0  # replicas genuinely differ
    center = sum(means) / 32
    # sampling sd of the mean ≈ sd/sqrt(n); the 32-replica center
    # should sit well inside a few of those
    assert abs(center - true_mean) < 0.5


def test_poisson_thresholds_are_the_cdf(spark):
    import math

    from gpi_etl_spark.functions.xhash import P
    from gpi_etl_spark.operators.evaluation import poisson_thresholds

    ts = poisson_thresholds()
    cdf = 0.0
    pmf = math.exp(-1.0)
    for k, t in enumerate(ts):
        cdf += pmf
        assert t == math.floor(cdf * P)
        pmf /= (k + 1)
    assert ts == sorted(ts) and ts[-1] < P


def test_poisson_bootstrap_empty_replica_is_null(spark):
    """A replica where every row of a group draws weight 0 has no
    resample: its boot_mean_r must be NULL — explicitly, on BOTH
    engines (advice find: Spark's divide-by-zero happened to give
    NULL, DuckDB's IEEE division gives inf, so without the CASE the
    oracle gate would diverge on tiny groups). A single-row group
    makes zero-weight replicas near-certain (P(w=0) ≈ 1/e per
    replica)."""
    from gpi_etl_spark.operators.evaluation import poisson_bootstrap_means

    df = spark.createDataFrame(
        [("solo", 1, 500)], "g string, id long, cents long"
    )
    out = poisson_bootstrap_means(df, ("g",), "cents", "id", replicas=32)
    rows = out.collect()
    assert len(rows) == 32
    empties = [r for r in rows if r.n_eff == 0]
    assert empties, "no zero-weight replica drawn — pick another id"
    assert all(r.boot_mean_r is None for r in empties)
    assert all(
        r.boot_mean_r == 5.0 for r in rows if r.n_eff > 0
    )  # any nonzero multiplicity of one 500-cent row means 5.00


def test_poisson_bootstrap_wide_agg_equals_posexplode_reference(spark):
    """Round-13 shape law (the kmv_build law test's twin): the
    wide-aggregate form — 2·replicas sum columns in one groupBy, then
    an unpivot over groups — must be row-for-row identical to the
    original posexplode-per-row reference, including NULL cents
    (weight still counts toward n_eff, the product drops from the
    sum), multi-group inputs, and an empty input, grouped and
    ungrouped (empty table: an ungrouped aggregate must not leak its
    one all-NULL row into ``replicas`` NULL rows)."""
    from pyspark.sql import functions as F

    from gpi_etl_spark.functions.hof import let_
    from gpi_etl_spark.functions.rounding import fs6
    from gpi_etl_spark.functions.xhash import (
        affine_hash,
        cubic_mix,
        poly_hash,
    )
    from gpi_etl_spark.operators.evaluation import (
        poisson_bootstrap_means,
        poisson_thresholds,
    )

    def reference(df, group_cols, cents_col, id_col, replicas):
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
                    *[
                        draw(affine_hash(g, b, replicas))
                        for b in range(replicas)
                    ]
                ),
            ),
        )
        long = df.select(
            *group_cols,
            F.col(cents_col).cast("long").alias("_cents"),
            F.posexplode(weights).alias("b", "_w"),
        )
        agg = long.groupBy(
            *group_cols, F.col("b").cast("int").alias("b")
        ).agg(
            F.sum("_w").cast("bigint").alias("n_eff"),
            F.sum(F.col("_w") * F.col("_cents")).alias("_wsum"),
        )
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

    rows = (
        [("a", i, ((i * 13) % 100) * 10) for i in range(200)]
        + [("b", 1000 + i, i * 7) for i in range(40)]
        + [("a", 9999, None)]  # NULL cents: counts in n_eff only
    )
    df = spark.createDataFrame(rows, "g string, id long, cents long")
    got = sorted(
        tuple(r)
        for r in poisson_bootstrap_means(
            df, ("g",), "cents", "id", replicas=16
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in reference(df, ("g",), "cents", "id", 16).collect()
    )
    assert got == want and len(got) == 32
    empty = spark.createDataFrame([], "g string, id long, cents long")
    for group_cols in (("g",), ()):
        assert (
            poisson_bootstrap_means(
                empty, group_cols, "cents", "id", replicas=8
            ).collect()
            == reference(empty, group_cols, "cents", "id", 8).collect()
            == []
        )
