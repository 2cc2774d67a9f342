"""k-core peeling: known cores on hand-built graphs, cascade
deletions, uniqueness of the fixed point under partitioning, the
fail-loudly round cap, the empty graph, and the number of Spark jobs
one peel takes."""

from __future__ import annotations

import uuid

import pytest


def _kcore(spark, edges, k, parts=None, **kw):
    from gpi_etl_spark.operators.linkgraph import k_core

    df = spark.createDataFrame(edges, "src long, dst long")
    if parts:
        df = df.repartition(parts)
    return {r.node: r.degree for r in k_core(df, k=k, **kw).collect()}


def test_clique_survives_tail_peels(spark):
    # K4 on {0,1,2,3} plus a pendant chain 3-10-11: the chain peels
    # away (degree 1), then 3's degree drops back to 3 — the clique is
    # exactly the 3-core
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 10), (10, 11)]
    got = _kcore(spark, edges, k=3)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_cascade_deletion(spark):
    # path 0-1-2-3-4: 2-core is empty — peeling the endpoints cascades
    # through the whole path, which needs MULTIPLE rounds
    edges = [(i, i + 1) for i in range(4)]
    assert _kcore(spark, edges, k=2) == {}


def test_ring_is_its_own_2core(spark):
    edges = [(i, (i + 1) % 8) for i in range(8)]
    got = _kcore(spark, edges, k=2)
    assert got == {i: 2 for i in range(8)}


def test_partitioning_invariance(spark):
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges = k5 + [(0, 20), (20, 21), (21, 22), (1, 30)]
    assert _kcore(spark, edges, k=3) == _kcore(spark, edges, k=3, parts=7)


def test_round_cap_raises(spark):
    # a 6-path cascade needs ~3 rounds; max_rounds=1 must fail loudly,
    # never return a half-peeled subgraph
    edges = [(i, i + 1) for i in range(6)]
    with pytest.raises(ValueError, match="more than 1 deleting"):
        _kcore(spark, edges, k=2, max_rounds=1)


def test_stabilizing_in_exactly_max_rounds_succeeds(spark):
    # K4 + pendant chain, k=3: one deleting wave peels the chain, the
    # confirming round observes the fixed point — max_rounds=1 bounds
    # DELETING rounds only, so this must succeed (review find: the
    # old for/else raised here)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = _kcore(spark, k4 + [(3, 10), (10, 11)], k=3, max_rounds=1)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_empty_edge_list_gives_empty_core(spark):
    assert _kcore(spark, [], k=2) == {}


def test_one_spark_action_per_peel_round(spark):
    # K4 + pendant chain, k=3: two rounds (one deleting, one observing
    # the fixed point), each ONE eager checkpoint whose own job carries
    # the below-k count — no symmetrize checkpoint, no per-round
    # count(), no final re-aggregation. The previous shape (eager
    # symmetrize checkpoint + count, count() per round, a re-aggregated
    # result) took 18 jobs for the same call.
    from gpi_etl_spark.operators.linkgraph import k_core

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4 + [(3, 10), (10, 11)], "src long, dst long")
    sc = spark.sparkContext
    group = f"kcore-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "k_core job count")
    try:
        k_core(df, k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7
