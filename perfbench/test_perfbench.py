"""Self-tests of the benchmark harness. From the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q

The last test runs the benchmark itself (two traced runs per workload,
a few minutes); deselect it with ``-k 'not exact_counts'``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _ops(seed: int, n: int = 30) -> list:
    ops = itertools.islice(gen.ingest_ops(seed), n)
    return [(o.endpoint, o.payload, o.expected, o.args) for o in ops]


def test_generator_is_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = gen.tables(3, 0.001), gen.tables(3, 0.001), gen.tables(4, 0.001)
    assert a.keys() == c.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])
    assert _ops(3) == _ops(3)
    assert _ops(3) != _ops(4)


def test_ingest_ops_cover_every_endpoint_once_per_round():
    n = len(gen.INGEST_ENDPOINTS)
    ops = _ops(5, 3 * n)
    for r in range(3):
        assert sorted(o[0] for o in ops[r * n:(r + 1) * n]) == sorted(gen.INGEST_ENDPOINTS)


@pytest.mark.parametrize("n,rank,pct", [(11, 1, 100 / 11), (20, 10, 50.0),
                                        (100, 90, 90.0), (1000, 990, 99.0)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, rank, pct):
    values = [float(v) for v in range(n, 0, -1)]  # rank r holds value r
    value, percentile, count = layers.tail(values)
    assert (value, count) == (float(rank), n)
    assert percentile == pytest.approx(pct)
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert layers.tail([1.0] * n) is None


def test_rss_reader_sums_the_process_tree():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time; b = bytearray(64 << 20); print('up', flush=True); time.sleep(60)"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "up"
        me = os.getpid()
        tree = layers.process_tree(me)
        assert tree[0] == me and child.pid in tree
        own = layers._status_kb(me, "VmHWM") / 1024
        kid = layers._status_kb(child.pid, "VmHWM") / 1024
        assert kid >= 64
        assert layers.peak_rss_mb(tree) >= own + kid - 1  # ≥: other children may exist
        assert layers.process_tree(child.pid) == [child.pid]
        assert layers.peak_rss_mb([me, child.pid]) == pytest.approx(own + kid, abs=1)
    finally:
        child.kill()
        child.wait(timeout=30)
    assert child.poll() is not None


def test_end_children_ends_every_started_process():
    # one child that exits on SIGTERM, one that ignores it and must be killed
    kids = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
            for code in ("import time; print('up', flush=True); time.sleep(60)",
                         "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN);"
                         " print('up', flush=True); time.sleep(60)")]
    for k in kids:
        assert k.stdout.readline().strip() == "up"
    run.end_children()
    assert not any(run._alive(k.pid) for k in kids)
    assert layers.process_tree(os.getpid()) == [os.getpid()]


def test_a_run_leaves_no_process_behind(capsys):
    # in this process, so that whatever the run started and left running
    # is still this process's descendant when the run returns
    env, cwd = dict(os.environ), os.getcwd()
    try:
        os.chdir(ROOT)
        assert run.main(["--workload", "iterative", "--seed", "1", "--seconds", "1",
                         "--trace", "0"]) == 0
    finally:
        os.chdir(cwd)
        os.environ.clear()
        os.environ.update(env)
    me = os.getpid()
    assert layers.process_tree(me) == [me]


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_plain_and_match_the_declaration():
    bench = _declared()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    declared = set(run.COMMON_LAYER_NAMES)
    for w in workloads.WORKLOADS.values():
        declared.update(w.layer_names())
    assert declared == {m["name"] for m in bench["per_layer"]}
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in bench["per_layer"])


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


#: the share of op time spent building the frame, per declared workload
_BUILD_SHARE = {"scan": (0.0, 0.30), "iterative": (0.70, 1.0)}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_exact_counts_repeat_across_two_traced_runs(workload):
    t = time.perf_counter()
    a, b = _traced(workload, 11), _traced(workload, 11)
    exact = [k for k in a if k.endswith((".jobs", ".stages", "_jobs", "jobs_per_op"))
             or k == "sink.files"]
    assert exact
    assert {k: a[k] for k in exact} == {k: b[k] for k in exact}
    assert time.perf_counter() - t < 600
    assert set(a) == {m["name"] for m in _declared()["per_layer"]}
    if workload in _BUILD_SHARE:  # each query workload loads the layer it is for
        lo, hi = _BUILD_SHARE[workload]
        share = a["queries.build_s"] / (a["queries.build_s"] + a["exec.run_s"])
        assert lo <= share <= hi, share
