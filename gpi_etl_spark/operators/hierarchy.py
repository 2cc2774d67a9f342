"""Hierarchical closure: flatten parent-child trees to (node, root,
depth) — the recursive-CTE workload (org charts, BOM explosions,
category trees) Spark has no native recursion for.

The algorithm is POINTER DOUBLING, not per-level BFS: each iteration
follows every node's current ancestor pointer through the pointer
table itself, doubling the distance covered — a 1000-level-deep
hierarchy closes in 10 shuffles instead of 1000. Per iteration: one
self-equi-join on the pointer column (shuffle ∝ nodes) plus one
scalar convergence action; roots are their own fixpoint (joining a
root pointer adds depth 0), so the loop is idempotent at convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark import runscope


def transitive_root(
    nodes: DataFrame,
    id_col: str = "node",
    parent_col: str = "parent",
    max_iters: int = 50,
) -> DataFrame:
    """Resolve every node of a forest to its root and depth.

    ``nodes`` has one row per node with ``parent_col`` NULL for roots.
    Every non-NULL parent must itself have a row: a dangling pointer
    would otherwise vanish from the inner self-join and silently drop
    its whole subtree, so it raises ``ValueError`` up front instead
    (one anti-join action — the alertable condition a production
    hierarchy load wants). Cycles are the caller's bug — they never
    converge and stop at ``max_iters`` (fixed-point detection spends
    one confirming iteration, so the cap covers depth up to
    2^(max_iters-1) — 2^49 levels is beyond any real hierarchy, so
    hitting the cap means a cycle).

    Returns ``(node, root, depth)``.
    """
    dangling = (
        nodes.filter(F.col(parent_col).isNotNull())
        .select(F.col(parent_col).alias("_p"))
        .join(
            nodes.select(F.col(id_col).alias("_p")).distinct(),
            "_p",
            "left_anti",
        )
        .head(3)
    )
    if dangling:
        missing = sorted({r["_p"] for r in dangling})
        raise ValueError(
            f"dangling parent pointer(s) with no node row: {missing} "
            "(subtrees under them would be silently lost)"
        )

    state = runscope.pin(
        nodes.select(
            F.col(id_col).alias("node"),
            F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc"),
            F.when(F.col(parent_col).isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("depth"),
        )
    )

    total = state.agg(F.sum("depth").alias("s")).collect()[0]["s"] or 0
    converged = False
    for _ in range(max_iters):
        a, b = state.alias("a"), state.alias("b")
        nxt = runscope.pin(
            a.join(b, F.col("a.anc") == F.col("b.node")).select(
                F.col("a.node").alias("node"),
                F.col("b.anc").alias("anc"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
        )
        new_total = nxt.agg(F.sum("depth").alias("s")).collect()[0]["s"] or 0
        prev = state
        state = nxt
        prev.unpersist()
        if new_total == total:
            converged = True
            break
        total = new_total
    if not converged:
        # same fail-loudly rationale as the dangling-pointer check: a
        # cycle makes the pointer-doubling depth sum grow forever, so
        # exhausting max_iters without a fixed point means the returned
        # table would be silently WRONG for every node on/below the
        # cycle. (A deep-but-acyclic forest needs only log2(depth)
        # doubling iterations PLUS one confirming pass to observe the
        # fixed point, so hitting the cap legitimately requires depth
        # > 2^(max_iters-1) — raise, don't guess.)
        raise ValueError(
            f"hierarchy did not converge in {max_iters} pointer-doubling "
            "iterations — cycle suspected (or depth > "
            f"2^{max_iters - 1}; raise max_iters if the forest is really "
            "that deep)"
        )
    return state.select(
        "node", F.col("anc").alias("root"), "depth"
    )
