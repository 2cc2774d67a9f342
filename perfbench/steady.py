"""Measure the benchmark's own run-to-run spread.

Runs ``perfbench/run.py`` once per seed on each workload, one run at a
time, and reports for every end-to-end metric the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Also
reports each run's wall time, which bounds how many runs fit in a
measurement budget. Run from the repository root::

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/steadiness.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--out", help="write the summary JSON here")
    args = p.parse_args()

    summary = {"seconds": args.seconds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(args.seconds), "--trace", "0"]
            t = time.perf_counter()
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            stamp = json.loads(lines[-2])["stamp"]
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         **{k: v["value"] for k, v in res["metrics"].items()},
                         "round_s": stamp["round_s"], "warm_op_s": stamp["warm_op_s"],
                         "timed_cpu_steal_s": stamp["timed_cpu_steal_s"]})
            print(json.dumps({"workload": wl, **runs[-1]}), flush=True)
        metrics = [m["name"] for m in bench["end_to_end"]] + ["wall_s"]
        summary["workloads"][wl] = {
            "spread": {m: spread([r[m] for r in runs]) for m in metrics},
            "runs": runs,
        }
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl, s in summary["workloads"].items():
        for m, st in s["spread"].items():
            b = bounds.get(m)
            flag = "" if b is None or m == "setup_s" else (
                "  OK" if st["iqr_share"] < b / 3 else "  WIDE")
            print(f"{wl:10s} {m:12s} median {st['median']:10.3f} "
                  f"spread {st['iqr_share']:.3f} bound {b}{flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
