"""Distributed logistic regression: exact replay vs a pure-Python
reference, partitioning invariance, and standardizer guards."""

from __future__ import annotations

import math

import pytest


def _reference_train(rows, iters, lr):
    """Pure-Python replay of logreg_train's arithmetic (same operation
    order: exact-sum moments, z-scoring, left-assoc margin, w−(lr·g)/n)."""
    n = len(rows)
    d = len(rows[0][0])
    mus, sds = [], []
    for j in range(d):
        s = sum(x[j] for x, _ in rows)
        ss = sum(x[j] * x[j] for x, _ in rows)
        mu = s / n
        var = ss / n - mu * mu
        mus.append(mu)
        sds.append(max(math.sqrt(max(var, 0.0)), 1e-12))
    z = [[(x[j] - mus[j]) / sds[j] for j in range(d)] for x, _ in rows]
    y = [lab for _, lab in rows]
    w = [0.0] * (d + 1)
    for _ in range(iters):
        g = [0.0] * (d + 1)
        for i in range(n):
            m = w[0]
            for j in range(d):
                m = m + w[j + 1] * z[i][j]
            r = 1.0 / (1.0 + math.exp(-m)) - y[i]
            g[0] += r
            for j in range(d):
                g[j + 1] += r * z[i][j]
        w = [w[k] - lr * g[k] / n for k in range(d + 1)]
    return w, mus, sds


def _toy_frame(spark, n=200, parts=None):
    rows = []
    for i in range(n):
        x1 = (i % 17) / 16.0
        x2 = ((i * 7) % 23) / 22.0
        label = 1.0 if (2.0 * x1 - x2) > 0.4 else 0.0
        rows.append((x1, x2, label))
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    return (df.repartition(parts) if parts else df), [
        ((r[0], r[1]), r[2]) for r in rows
    ]


def test_weights_match_pure_python_replay(spark):
    from gpi_etl_spark.operators.logreg import logreg_train

    df, rows = _toy_frame(spark)
    model = logreg_train(df, ["x1", "x2"], "y", iters=6, lr=2.0)
    w_ref, mus_ref, sds_ref = _reference_train(rows, iters=6, lr=2.0)
    assert model["n"] == len(rows)
    for got, want in zip(model["mus"], mus_ref):
        assert got == pytest.approx(want, abs=1e-12)
    for got, want in zip(model["sds"], sds_ref):
        assert got == pytest.approx(want, abs=1e-12)
    for got, want in zip(model["weights"], w_ref):
        assert got == pytest.approx(want, abs=1e-9)


def test_predictions_invariant_under_partitioning(spark):
    """Partial-sum ordering may wiggle the last ulps of the weights;
    the 6-dp floor-scaled decision threshold must keep every
    prediction identical across partitionings."""
    from gpi_etl_spark.operators.logreg import logreg_score, logreg_train

    preds = {}
    for parts in (None, 13):
        df, _ = _toy_frame(spark, parts=parts)
        model = logreg_train(df, ["x1", "x2"], "y", iters=6, lr=2.0)
        scored = logreg_score(df, ["x1", "x2"], model)
        preds[parts] = {
            (r.x1, r.x2): r.pred for r in scored.collect()
        }
    assert preds[None] == preds[13]


def test_model_actually_separates(spark):
    """On a linearly separable toy task, 6 GD steps must beat the
    majority-class baseline — guards against a silently dead trainer
    (all-zero gradients, inverted labels)."""
    from pyspark.sql import functions as F

    from gpi_etl_spark.operators.logreg import logreg_score, logreg_train

    df, rows = _toy_frame(spark)
    model = logreg_train(df, ["x1", "x2"], "y", iters=6, lr=2.0)
    scored = logreg_score(df, ["x1", "x2"], model)
    acc_row = scored.agg(
        F.avg(
            (F.col("pred").cast("int") == F.col("y").cast("int")).cast(
                "double"
            )
        ).alias("acc")
    ).first()
    majority = max(
        sum(1 for _, y in rows if y == 1.0),
        sum(1 for _, y in rows if y == 0.0),
    ) / len(rows)
    assert acc_row.acc > majority


def test_constant_feature_gets_sd_floor_and_zero_z(spark):
    from gpi_etl_spark.operators.logreg import (
        _SD_FLOOR,
        fit_standardizer,
        logreg_train,
    )

    df = spark.createDataFrame(
        [(5.0, 1.0 * (i % 2)) for i in range(20)], "c double, y double"
    )
    n, mus, sds = fit_standardizer(df, ["c"])
    assert n == 20 and mus == [5.0] and sds == [_SD_FLOOR]
    # a constant feature carries no signal: its weight stays ~0 while
    # the bias still moves toward the class balance (no NaN/inf).
    model = logreg_train(df, ["c"], "y", iters=4, lr=1.0)
    assert all(math.isfinite(w) for w in model["weights"])
    assert model["weights"][1] == pytest.approx(0.0, abs=1e-9)


def test_empty_frame_raises(spark):
    from gpi_etl_spark.operators.logreg import fit_standardizer

    df = spark.createDataFrame([], "x double, y double")
    with pytest.raises(ValueError):
        fit_standardizer(df, ["x"])


def test_single_live_cache(spark):
    # two fits of the same frame pin the same feature plan: the run
    # scope records both pins, Spark keeps one cached copy, and the
    # scope's drain releases it
    from gpi_etl_spark import runscope
    from gpi_etl_spark.operators import logreg

    jsc = spark.sparkContext._jsc.sc()
    df, _ = _toy_frame(spark, n=50)
    logreg.logreg_train(df, ["x1", "x2"], "y", iters=2, lr=1.0)
    logreg.logreg_train(df, ["x1", "x2"], "y", iters=2, lr=1.0)
    assert len(runscope._pins) == 2
    assert jsc.getPersistentRDDs().size() == 1
    runscope.drain()
    assert jsc.getPersistentRDDs().size() == 0
