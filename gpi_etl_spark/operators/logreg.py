"""Distributed logistic-regression training by full-batch gradient
descent — the quality-classifier trainer of a curation pipeline.

The production pattern this implements: expensive rule cascades (Gopher
rules, model judges) label a corpus once, then a cheap linear model is
trained on inexpensive per-document features so the NEXT 100 TB can be
scored by a single codegen'd projection instead of the full cascade
(the CCNet/fastText-filter recipe, trained Spark-side).

Scale shape (the MLlib pattern, same contract as
``similarity.distributed_kmeans``):

* model state on the driver is ``d + 1`` doubles (plus the feature
  standardizer's ``2 d`` moments) — bounded, independent of corpus
  size; nothing per-row is ever collected;
* each GD iteration is ONE map-side-combinable aggregate over the
  persisted feature frame — ``d + 1`` partial sums per partition on
  the wire, a single job, no shuffle of row data;
* the feature frame is computed once and persisted; iterations re-scan
  the SAME materialized projection, so there is no iterative lineage
  (no frame→frame dependency at all, hence no checkpoint needed —
  unlike the graph loops);
* scoring is a pure column expression against literal weights — it
  fuses into the scan projection of any downstream query.

The loop is deterministic given the input (init = zero weights,
standardizer from exact sum formulas), so the whole training run
replays in DuckDB as unrolled CTEs — see ``queries._logreg_ctes``.

The reference (a pandas/requests ETL app) has no trainer; this is
greenfield capability in the LLM-data-pipeline family, like
operators/similarity.py's k-means.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark import runscope
from gpi_etl_spark.functions.rounding import fs6

#: floor for a feature's standard deviation: a constant column z-scores
#: to exactly 0 instead of dividing by zero. 1e-12 parses to the same
#: IEEE double in Spark and DuckDB (both read scientific notation as
#: float literals), so the guard is cross-engine exact.
_SD_FLOOR = 1e-12


def fit_standardizer(
    df: DataFrame, feature_cols: Sequence[str]
) -> tuple[int, list[float], list[float]]:
    """Population mean / std-dev per feature from ONE aggregate pass.

    Moments use the exact-sum formulation ``mu = sum(x)/n`` and
    ``var = sum(x·x)/n − mu·mu`` (clamped at 0 before the sqrt so a
    constant column's catastrophic cancellation cannot go negative) —
    the SAME arithmetic, in the same order, as the DuckDB replay, so
    both engines compute bit-comparable scalers up to partial-sum
    ordering. Returns ``(n, mus, sds)``; sds are floored at
    ``_SD_FLOOR``.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for c in feature_cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    row = df.agg(*aggs).first()
    n = row["n"]
    if n == 0:
        raise ValueError("cannot fit a standardizer on an empty frame")
    mus, sds = [], []
    for c in feature_cols:
        mu = row[f"s_{c}"] / n
        var = row[f"ss_{c}"] / n - mu * mu
        # math.sqrt, not **0.5: sqrt is correctly rounded per IEEE 754
        # (pow is not), so this matches both engines' sqrt() exactly.
        sd = math.sqrt(max(var, 0.0))
        mus.append(mu)
        sds.append(max(sd, _SD_FLOOR))
    return n, mus, sds


def _z_cols(
    feature_cols: Sequence[str], mus: Sequence[float], sds: Sequence[float]
) -> list[Column]:
    return [
        ((F.col(c) - F.lit(mu)) / F.lit(sd)).alias(f"z_{i}")
        for i, (c, mu, sd) in enumerate(zip(feature_cols, mus, sds))
    ]


def logreg_train(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    iters: int = 8,
    lr: float = 2.0,
) -> dict:
    """Train ``P(label=1 | x)`` by ``iters`` full-batch GD steps on
    z-scored features, starting from zero weights.

    Update rule (replayed verbatim by the oracle CTEs — the Python
    expression below and the SQL ``w − lr·g/n`` must keep this exact
    operation order):

        w_k ← w_k − lr · (Σ (σ(w·z) − y) · z_k) / n

    Returns ``{"weights": [w0..wd] (w0 = bias, in z-space), "mus",
    "sds", "n", "iters", "lr"}`` — bounded model state only.
    """
    d = len(feature_cols)
    n, mus, sds = fit_standardizer(df, feature_cols)
    feats = df.select(
        F.col(label_col).cast("double").alias("_y"),
        *_z_cols(feature_cols, mus, sds),
    )
    feats = runscope.pin(feats)

    w = [0.0] * (d + 1)
    for _ in range(iters):
        z = F.lit(w[0])
        for j in range(d):
            z = z + F.lit(w[j + 1]) * F.col(f"z_{j}")
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("_y")
        aggs = [F.sum(resid).alias("g_0")] + [
            F.sum(resid * F.col(f"z_{j}")).alias(f"g_{j + 1}")
            for j in range(d)
        ]
        g = feats.agg(*aggs).first()
        w = [w[k] - lr * g[f"g_{k}"] / n for k in range(d + 1)]
    return {
        "weights": w,
        "mus": mus,
        "sds": sds,
        "n": n,
        "iters": iters,
        "lr": lr,
    }


def logreg_margin(model: dict, feature_cols: Sequence[str]) -> Column:
    """The decision margin ``w·z(x)`` as a pure column expression —
    literal weights, no join, fuses into any scan projection."""
    w = model["weights"]
    z = F.lit(w[0])
    for j, (c, mu, sd) in enumerate(
        zip(feature_cols, model["mus"], model["sds"])
    ):
        z = z + F.lit(w[j + 1]) * ((F.col(c) - F.lit(mu)) / F.lit(sd))
    return z


def logreg_score(
    df: DataFrame, feature_cols: Sequence[str], model: dict
) -> DataFrame:
    """Append ``prob`` (σ of the margin) and ``pred`` to ``df``.

    ``pred`` thresholds the 6-dp floor-scaled margin at 0, not the raw
    double: engines can differ in the margin's last ulps (partial-sum
    ordering during training), and the scaled comparison pins both to
    the same grid — the repo-wide argmax/threshold discipline.
    """
    m = logreg_margin(model, feature_cols)
    return df.withColumn(
        "prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
    ).withColumn("pred", fs6(m) >= 0)
