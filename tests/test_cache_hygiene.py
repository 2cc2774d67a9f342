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


def test_only_t_reads_testdata_tables():
    """Structural guard: no module of the package builds a
    ``<sf_dir>/<table>.parquet`` path or hands ``sf_dir`` to a reader
    except ``queries.t``, so every table read takes its cached schema
    and its events-``ts`` normalization. Reads of files a query wrote
    itself (landing dirs, stream sinks) do not name ``sf_dir``."""
    import ast
    import os

    import gpi_etl_spark

    def names_sf_dir(node):
        return any(
            isinstance(n, ast.Name) and n.id == "sf_dir" for n in ast.walk(node)
        )

    def has_parquet_literal(node):
        return any(
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and ".parquet" in n.value
            for n in ast.walk(node)
        )

    def is_reader_call(node):
        return isinstance(node, ast.Call) and isinstance(
            node.func, ast.Attribute
        ) and node.func.attr in ("parquet", "load")

    pkg_dir = os.path.dirname(gpi_etl_spark.__file__)
    offenders = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg_dir)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            skip = set()
            if rel == "queries.py":
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "t":
                        skip = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if id(node) in skip:
                    continue
                builds_path = isinstance(
                    node, (ast.JoinedStr, ast.BinOp, ast.Call)
                ) and names_sf_dir(node) and has_parquet_literal(node)
                reads_sf_dir = is_reader_call(node) and any(
                    names_sf_dir(a) for a in node.args
                )
                if builds_path or reads_sf_dir:
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        f"testdata table reads outside queries.t: {sorted(set(offenders))}"
    )
