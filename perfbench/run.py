"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload scan --seed 1 --seconds 5 --trace 0

Workloads: ``ingest``, ``scan``, ``iterative`` (see README.md). The run
is one process: it imports the package, generates its inputs from
``--seed``, starts Spark at ``local[<cores>]``, warms every distinct op
up (import, start and warm-up make ``setup_s``), then runs timed
rounds: as many as ``--seconds`` buys at the workload's nominal round
length. With ``--trace 1`` half the rounds are traced and the per-layer
metrics are printed instead of the end-to-end ones.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it stamps the
environment. The exit code is nonzero when any output was wrong or the
run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import (  # noqa: E402
    Recorder, cpu_steal_s, peak_rss_mb, process_tree, tail,
)

#: a run has at least this many timed rounds, whatever ``--seconds`` says
MIN_ROUNDS = 2


def timed_rounds(seconds: float, round_s: float, trace: bool) -> int:
    """How many rounds ``--seconds`` buys at the workload's nominal
    round length. The count depends on the arguments only, never on how
    fast this run goes: the JVM is still warming up during the timed
    rounds, so a run that stopped on the clock would measure a
    different stretch of that curve whenever it ran faster or slower.
    A traced run uses a multiple of four (see the U T T U order)."""
    n = max(MIN_ROUNDS, round(seconds / round_s))
    return 4 * max(1, round(n / 4)) if trace else n


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(run_dir: str) -> None:
    """Pin Spark's parallelism and every scratch path to this run."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local


def spark_conf(run_dir: str) -> dict[str, str]:
    local = os.environ["SPARK_LOCAL_DIRS"]
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.ui.showConsoleProgress": "false",
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)
    end_processes(children, grace=60)


def end_processes(pids: list[int], grace: float) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to exit, then kill what
    is left and wait for that too."""
    for sig in (None, signal.SIGKILL):
        for p in pids if sig else ():
            try:
                os.kill(p, sig)
            except OSError:  # exited meanwhile
                pass
        deadline = time.monotonic() + (grace if sig is None else 10)
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            _reap()
            time.sleep(0.05)
        _reap()


def _reap() -> None:
    """Collect the exit status of this process's ended children."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:  # no children left
        pass


def end_children() -> None:
    """End every process this one started that still runs, on every way
    out of the run: a failed start may leave the JVM behind."""
    me = os.getpid()
    kids = [p for p in process_tree(me) if p != me]
    for p in kids:
        try:
            os.kill(p, signal.SIGTERM)
        except OSError:
            pass
    end_processes(kids, grace=10)


def run(args, root: str, run_dir: str):
    """Set up, warm, run the timed rounds; return the stamp, the
    metrics and the workload (for its attempted/failed counts)."""
    rec = Recorder(trace=False)
    with rec.span("session.import"):  # everything the program imports
        from pyspark import SparkContext

        import gpi_etl_spark.engine  # noqa: F401
        import gpi_etl_spark.queries  # noqa: F401
        import gpi_etl_spark.sources.connectors  # noqa: F401
        from gpi_etl_spark.session import get_spark

    gen_t = time.perf_counter()  # inputs and oracles: counted in no metric
    import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir, rec, root)
    wl.prepare()
    gen_s = time.perf_counter() - gen_t

    with rec.span("session.get_spark"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(run_dir))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        rec.attach(spark)
        with rec.span("session.warm"):
            off_clock_s = wl.warm(spark)  # oracle checks, making increments
        warm_s = rec.totals["session.warm"] - off_clock_s
        setup_s = rec.totals["session.import"] + rec.totals["session.get_spark"] + warm_s

        # timed rounds; a traced run alternates untraced and traced rounds
        # in the order U T T U U T T U …, so a steady drift (warm-up,
        # growing sinks) cancels out of the traced-minus-untraced overhead
        rounds: list[tuple[bool, float, list[float]]] = []
        steal = cpu_steal_s()
        for k in range(timed_rounds(args.seconds, wl.round_s, bool(args.trace))):
            traced = bool(args.trace) and k % 4 in (1, 2)
            rec.trace = traced
            wl.next_round()
            t = time.perf_counter()
            lat = wl.round(spark, traced)
            rounds.append((traced, time.perf_counter() - t, lat))
        rec.trace = False
        steal = cpu_steal_s() - steal
        # the Python driver, the JVM and the JVM's Python workers
        procs = [os.getpid(), *process_tree(SparkContext._gateway.proc.pid)]
        peak = peak_rss_mb(procs)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        if hasattr(wl, "check"):
            wl.check(spark)
    finally:
        stop_spark(spark)

    plain = [r for r in rounds if not r[0]]
    lat = [x for r in plain for x in r[2]]
    tail_v = tail(lat)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": _cores(), "python": platform.python_version(),
        "pyspark": __import__("pyspark").__version__, "java": java,
        "rounds": len(rounds), "ops_per_round": len(rounds[0][2]), "rss_processes": len(procs),
        "timed_cpu_steal_s": round(steal, 2),
        "inputs_s": round(gen_s, 3), "warm_off_clock_s": round(off_clock_s, 3),
        "op_tail": None if tail_v is None else
        {"value_s": tail_v[0], "percentile": tail_v[1], "n": tail_v[2]},
        "warm_op_s": [round(x, 3) for x in wl.warm_latencies],
        "round_s": [round(r[1], 3) for r in rounds],
        "errors": wl.errors[:5], **wl.stamp(),
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "makespan_s": (median([r[1] for r in plain]), "s"),
            "op_p50_s": (median(lat), "s"),
            "peak_rss_mb": (peak, "MB"),
        }
    else:
        metrics = layer_metrics(rec, wl, rounds, warm_s)
        rec.dump(os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl"))
    return stamp, metrics, wl


#: per-layer metrics every traced run reports, besides its workload's own
COMMON_LAYER_NAMES = (
    "session.import_s", "session.get_spark_s", "session.warm_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "storage.pinned_rdds_max", "storage.cached_bytes_max", "trace.overhead_s",
)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in name else "count"


def layer_metrics(rec: Recorder, wl, rounds, warm_s: float) -> dict:
    """Per-layer metrics: set-up phases once, the rest per traced round
    (see README.md). Names of the declared workloads that do not apply
    to this one read 0."""
    import workloads

    n = sum(1 for r in rounds if r[0])
    c = rec.counts
    m = {
        "session.import_s": rec.totals["session.import"],
        "session.get_spark_s": rec.totals["session.get_spark"],
        "session.warm_s": warm_s,
        "exec.executor_s": c["exec.executor_ms"] / 1000.0 / n,
        "storage.pinned_rdds_max": c["storage.pinned_rdds_max"],
        "storage.cached_bytes_max": c["storage.cached_bytes_max"],
        "trace.overhead_s": median([r[1] for r in rounds if r[0]])
        - median([r[1] for r in rounds if not r[0]]),
    }
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
              "exec.shuffle_write_bytes", "exec.spill_bytes"):
        m[k] = c[k] / n
    for w in workloads.WORKLOADS.values():
        m.update(dict.fromkeys(w.layer_names(), 0.0))
    m.update(wl.layer_metrics(rec.self_times(), n))
    return {k: (v, unit_of(k)) for k, v in m.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "scan", "iterative"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gpi_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (no gpi_etl_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(HERE, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        pin_env(run_dir)
        stamp, metrics, wl = run(args, root, run_dir)
    finally:
        end_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = wl.failed == 0
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
