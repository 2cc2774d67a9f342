"""The probe harness: fresh-process timings of bench entries, on the
stock tables or against a 10x scaled copy of some of them.

Solo mode (no ``--tables``) re-measures entries off the shared bench
lane, where CPU steal and cache pressure produce 1.5-4x single-query
transients with zero code change. Each entry runs in its OWN fresh
process: one untimed q01 JVM warm-up, ``--repeats`` timed q01
anchors, one cold run of the entry, then ``--repeats`` warm runs. It
prints one JSON line per entry:
    {"name", "anchor_min", "cold", "warm_min", "warms", "ratio_warm"}
where ``ratio_warm = warm_min / anchor_min`` (both minima over the
repeat set: load transients only ever ADD time). The single
fresh-process cold number is raw and is not comparable to lane colds,
which run mid-lane with a warm JIT.

Scaled mode (``--tables a,b``) makes each named table 10 key-shifted
copies written as 16 files, in one temporary dir that also links every
other table of the sf dir, and removes it on exit. Each entry's
process times the stock dir, then the scaled dir; its JSON line adds
``scaled_cold``, ``scaled_warm_min``, ``scaled_warms`` and
``growth = scaled_warm_min / warm_min``. An entry growing far less
than 10x is overhead-bound at the stock scale; one growing ~10x or
more is compute-bound. The stock testdata holds one row group per
table, so any scan of it is a single task; 16 files make the scaled
scan parallel.

Usage:
    python tools/probe.py [--repeats N] <entry> [...]
    python tools/probe.py --tables lineitem q01_pricing_summary

Names accept registry entries plus ``bench._extra_entries`` twins. The
sf dir comes from ``$SPARK_GRAFT_SF_DIR``, core count from
``$SPARK_GRAFT_CPUS``. This process starts no JVM: each child does,
and each is waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ANCHOR = "q01_pricing_summary"
#: copies per scaled table, and files they are written as
COPIES = 10
FILES = 16


def _entries() -> dict:
    import bench
    from gpi_etl_spark import queries as Q

    ents = {n: fn for n, (fn, _sql) in Q.REGISTRY.items()}
    ents.update(bench._extra_entries())
    return ents


def _seconds(spark, fn, sf_dir: str) -> float:
    """The one timer: build ``fn``'s frame over ``sf_dir`` and run it
    to the noop sink."""
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _cold_warm(spark, fn, sf_dir: str, repeats: int) -> dict:
    cold = _seconds(spark, fn, sf_dir)
    warms = [_seconds(spark, fn, sf_dir) for _ in range(repeats)]
    return {"cold": cold, "warm_min": min(warms), "warms": warms}


def build_scaled(spark, sf_dir: str, tables, out_dir: str) -> None:
    """Fill ``out_dir`` with an sf dir whose ``tables`` hold COPIES
    copies each, written as FILES files, and which links every other
    ``*.parquet`` of ``sf_dir``.

    Copy ``c`` shifts the table's first column (its key) by
    ``c * (max + 1)``, so keys stay unique and group cardinality scales
    too. Where the table has a ``text`` column, copy ``c`` appends
    `` probecopy{c}`` to it: identical text ten times would turn the
    dedup stages into 90% drops, a different workload rather than a
    bigger one."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet") and fn[: -len(".parquet")] not in tables:
            os.symlink(
                os.path.join(os.path.abspath(sf_dir), fn),
                os.path.join(out_dir, fn),
            )
    for name in tables:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        key, key_type = df.dtypes[0]
        step = df.agg(F.max(key)).first()[0] + 1

        def copy(c: int, df=df, key=key, key_type=key_type, step=step):
            rest = [
                F.concat(F.col(x), F.lit(f" probecopy{c}")).alias(x)
                if x == "text" else F.col(x)
                for x in df.columns[1:]
            ]
            shifted = (F.col(key) + F.lit(c * step)).cast(key_type)
            return df.select(shifted.alias(key), *rest)

        scaled = reduce(DataFrame.unionByName, map(copy, range(COPIES)))
        scaled.repartition(FILES).write.parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def _child(name: str, repeats: int, scaled: str | None) -> None:
    from gpi_etl_spark.session import get_spark

    ents = _entries()
    spark = get_spark("gpi_probe")
    _seconds(spark, ents[ANCHOR], SF_DIR)  # untimed JVM warm-up
    anchors = [_seconds(spark, ents[ANCHOR], SF_DIR) for _ in range(repeats)]
    out = {"name": name, "anchor_min": min(anchors)}
    out.update(_cold_warm(spark, ents[name], SF_DIR, repeats))
    out["ratio_warm"] = round(out["warm_min"] / out["anchor_min"], 3)
    if scaled:
        big = _cold_warm(spark, ents[name], scaled, repeats)
        out.update({f"scaled_{k}": v for k, v in big.items()})
        out["growth"] = round(big["warm_min"] / out["warm_min"], 2)
    print(json.dumps(out))


def _build(out_dir: str, tables: list[str]) -> None:
    from gpi_etl_spark.session import get_spark

    build_scaled(get_spark("gpi_probe_build"), SF_DIR, tables, out_dir)


def _run_child(label: str, args: list[str]) -> bool:
    """Run this script on ``args`` in a fresh process and wait for it;
    echo its last stdout line, or its return code and stderr tail."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True, text=True, cwd=REPO,
    )
    if out.returncode != 0:
        print(f"{label}: FAILED rc={out.returncode}")
        print(out.stderr[-2000:])
        return False
    lines = out.stdout.strip().splitlines()
    if lines:
        print(lines[-1], flush=True)
    return True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Time bench entries in fresh processes, solo or "
        "against a 10x scaled copy of --tables."
    )
    ap.add_argument("names", nargs="*", metavar="entry")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--tables", default="",
                    help="comma-separated tables to scale 10x")
    for internal in ("--child", "--scaled", "--build"):
        ap.add_argument(internal, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    repeats = max(1, a.repeats)
    tables = [x for x in a.tables.split(",") if x]
    if a.build:
        _build(a.build, tables)
        return 0
    if a.child:
        _child(a.child, repeats, a.scaled)
        return 0
    if not a.names:
        ap.error("name at least one entry")
    unknown = sorted(set(a.names) - set(_entries()))
    if unknown:
        ap.error(f"unknown bench entries {unknown}")
    absent = [x for x in tables
              if not os.path.exists(os.path.join(SF_DIR, f"{x}.parquet"))]
    if absent:
        ap.error(f"no such tables in {SF_DIR}: {absent}")

    # a terminated run still unwinds: the running child is killed and
    # waited for, and the scaled dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    scaled = tempfile.mkdtemp(prefix="gpi_probe_") if tables else None
    try:
        if scaled and not _run_child(
            "build", ["--build", scaled, "--tables", ",".join(tables)]
        ):
            return 1
        ok = True
        for name in a.names:
            extra = ["--scaled", scaled] if scaled else []
            ok &= _run_child(
                name, ["--child", name, "--repeats", str(repeats), *extra]
            )
        return 0 if ok else 1
    finally:
        if scaled:
            shutil.rmtree(scaled, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
