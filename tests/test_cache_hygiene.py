"""Cross-query cache hygiene: every pin and checkpoint a registry query
makes goes through ``gpi_etl_spark.runscope``, and the scope's drain —
run by the registry dispatcher when the next query is dispatched —
leaves no persistent RDD behind, so nothing one query persisted stays
resident while unrelated queries run in the same process."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_dispatcher_evicts_all_live_caches_between_queries(spark):
    """Run pin- and checkpoint-heavy registry queries back to back;
    after each, drain the scope the way the next dispatch does: no
    persistent RDD may survive."""
    from gpi_etl_spark import runscope
    from gpi_etl_spark.queries import REGISTRY

    assert _n_persistent_rdds(spark) == 0
    for name in (
        # pins: query-level pins, the k-means base, the curation DAG's
        # operators, the logreg feature frame
        "q282_adaptive_skew_join",
        "q212_ivfadc_ann",
        "q105_curation_dag",
        "q200_ml_curation_capstone",
        # eager localCheckpoint loops, whose RDDs DataFrame.unpersist()
        # does not release
        "q192_kcore",
        "q210_shortest_paths",
        "q164_entity_resolution",
        "q123_pagerank",
    ):
        REGISTRY[name][0](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        runscope.drain()
        assert _n_persistent_rdds(spark) == 0, (
            f"{name} left persistent RDDs after the scope drain"
        )


def test_only_runscope_persists_or_checkpoints():
    """Structural guard: no module of the package outside
    ``runscope.py`` persists, caches or checkpoints a frame, so the
    scope's drain sees every pin and checkpoint."""
    import os
    import re

    import gpi_etl_spark

    pkg_dir = os.path.dirname(gpi_etl_spark.__file__)
    pattern = re.compile(r"\.persist\(|\.cache\(\)|localCheckpoint\(")
    offenders = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or fn == "runscope.py":
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if pattern.search(line):
                        offenders.append(
                            f"{os.path.relpath(path, pkg_dir)}:{i}"
                        )
    assert not offenders, (
        f"persist/cache/localCheckpoint outside runscope: {offenders}"
    )
