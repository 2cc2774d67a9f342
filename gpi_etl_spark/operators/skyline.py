"""2-D Pareto frontier (skyline) — the efficient set a
budget-constrained curation pipeline selects from: the documents no
other document beats on BOTH token cost and quality.

Dominance (minimize ``cost``, maximize ``value``): a dominates b iff
``a.cost ≤ b.cost ∧ a.value ≥ b.value`` with at least one strict.
Equal-on-both points tie and all survive.

Distributed shape — the same two-phase prefix recipe as
``windows.global_rank`` (range partition → local pass → bounded
per-partition summaries collected and broadcast), NOT the
partition-less window that funnels the corpus through one task:

1. range-partition by ``cost`` (equal costs land together);
2. one LOCAL range-frame window per partition gives each row the max
   value over strictly smaller costs in its partition, plus the max
   value at its own cost;
3. per-partition value maxima (``num_partitions`` longs — bounded
   driver state, the k-means-centroid class) turn into prefix maxima
   over earlier partitions, broadcast back;
4. a row survives iff it is max-valued at its own cost AND strictly
   beats every smaller-cost point: ``value = cmax ∧ (prior is NULL ∨
   value > prior)`` with ``prior = greatest(local_prior, prefix)``.

Cost and value must be INTEGER columns (token counts, micro-unit
scores): every comparison is then exact, and the DuckDB oracle can
replay the frontier with a quadratic NOT EXISTS dominance check —
order of elimination provably never matters, so the two algorithms
agree on the unique frontier.

The range exchange samples with a non-reproducible seed, so the
partitioned frame is eagerly localCheckpoint-ed before the count
action (the ``global_rank`` rule: summaries and final pass must read
the SAME materialized partitioning).

No counterpart in the reference (pandas/requests ETL); textbook
skyline operator (Börzsönyi et al., ICDE 2001) in the
distributed-prefix formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark import runscope


def pareto_frontier_2d(
    df: DataFrame,
    cost_col: str,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """All non-dominated rows of ``df`` (min ``cost_col``, max
    ``value_col``; both integer). Returns the input rows unchanged."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part, _ = runscope.checkpoint(
        df.repartitionByRange(n, F.col(cost_col)).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    summaries = sorted(
        (r["_pid"], r["vmax"])
        for r in part.groupBy("_pid")
        .agg(F.max(value_col).alias("vmax"))
        .collect()
    )
    prefix_rows, running = [], None
    for pid, vmax in summaries:
        prefix_rows.append((pid, running))
        running = vmax if running is None else max(running, vmax)
    spark = df.sparkSession
    pre = spark.createDataFrame(prefix_rows, "_pid int, _prefix long")
    w_prior = (
        Window.partitionBy("_pid")
        .orderBy(F.col(cost_col).cast("long"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_cost = Window.partitionBy("_pid", cost_col)
    enriched = (
        part.join(F.broadcast(pre), "_pid")
        .withColumn("_local_prior", F.max(value_col).over(w_prior))
        .withColumn("_cmax", F.max(value_col).over(w_cost))
        # greatest() skips NULLs (null only when BOTH are), exactly the
        # "no prior point exists yet" semantics the survival test needs.
        .withColumn(
            "_prior",
            F.greatest(F.col("_local_prior"), F.col("_prefix")),
        )
    )
    survive = (F.col(value_col) == F.col("_cmax")) & (
        F.col("_prior").isNull() | (F.col(value_col) > F.col("_prior"))
    )
    return enriched.filter(survive).drop(
        "_pid", "_prefix", "_local_prior", "_cmax", "_prior"
    )
