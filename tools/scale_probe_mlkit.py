"""Measured scale probe for the round-6 ML kit (q193–q200 family).

Answers, with numbers rather than claims:
  1. logreg training — how does per-iteration aggregate time scale
     with corpus size (it should be scan-bound, near-linear, with a
     fixed per-job floor at local[32])?
  2. evaluation — does the score-bin frame stay GRID-bounded as the
     corpus grows (the whole premise of the integer-exact AUC path)?
  3. skyline — how large is the frontier vs the corpus (output
     boundedness), and how many rows does the range-partition phase
     actually shuffle?

Usage: python tools/scale_probe_mlkit.py [sf_dir ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")


def probe(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from gpi_etl_spark import runscope
    from gpi_etl_spark.operators import logreg
    from gpi_etl_spark.operators.evaluation import score_bins
    from gpi_etl_spark.operators.skyline import pareto_frontier_2d
    from gpi_etl_spark.operators.textstats import (
        cheap_quality_features,
        gopher_quality_flags,
        quality_score,
        token_count,
    )
    from gpi_etl_spark.queries import _LOGREG_FEATURES, t
    from gpi_etl_spark.session import get_spark

    spark = get_spark("mlkit_probe")
    docs = t(spark, sf_dir, "documents")
    n = docs.count()
    flags = gopher_quality_flags(docs).select("doc_id", "pass_gopher")
    frame = (
        docs.select(
            "doc_id", cheap_quality_features("text").alias("q"),
            token_count("text").alias("n_words"),
        )
        .select("doc_id", "n_words", "q.*")
        .join(flags, "doc_id")
        .withColumn("y", F.col("pass_gopher").cast("double"))
    )

    # 1. logreg: time the standardizer+persist separately from the
    # per-iteration aggregates (steady-state loop cost). One untimed
    # warm-up train first — the first call pays codegen/JIT for the
    # whole job family and would corrupt the 2-iteration point.
    # Each timed train starts from an empty run scope, so it pays its
    # own feature persist instead of reusing the previous train's pin.
    logreg.logreg_train(frame, _LOGREG_FEATURES, "y", iters=2, lr=2.0)
    runscope.drain()
    t0 = time.time()
    model = logreg.logreg_train(frame, _LOGREG_FEATURES, "y", iters=2, lr=2.0)
    setup_plus2 = time.time() - t0
    runscope.drain()
    t0 = time.time()
    model = logreg.logreg_train(frame, _LOGREG_FEATURES, "y", iters=8, lr=2.0)
    setup_plus8 = time.time() - t0
    per_iter = (setup_plus8 - setup_plus2) / 6
    print(
        f"{sf_dir}: n={n} logreg setup+2it={setup_plus2:.2f}s "
        f"setup+8it={setup_plus8:.2f}s -> per-iteration "
        f"aggregate={per_iter:.3f}s"
    )

    # 2. evaluation: bin-frame cardinality vs corpus size
    scored = docs.select(quality_score("text").alias("s")).withColumn(
        "y", F.lit(1)
    )
    bins = score_bins(scored, "s", "y").count()
    print(
        f"{sf_dir}: score bins={bins} ({bins / n:.3f} per doc — "
        f"grid-bounded, shrinks relatively as n grows)"
    )

    # 3. skyline: frontier size and shuffle volume
    pts = docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("cost"),
        F.floor(
            quality_score("text") * F.lit(1000000.0) + F.lit(0.5)
        ).cast("long").alias("val"),
    )
    t0 = time.time()
    front = pareto_frontier_2d(pts, "cost", "val").count()
    dt = time.time() - t0
    print(
        f"{sf_dir}: skyline frontier={front} of {n} rows "
        f"({100.0 * front / n:.2f}%) in {dt:.2f}s — one range "
        f"exchange of n rows + bounded summary collect"
    )


if __name__ == "__main__":
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    for d in dirs:
        probe(d)
