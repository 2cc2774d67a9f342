"""The workloads: ``ingest``, ``scan`` and ``iterative``.

A workload is a set of distinct ops. The harness warms every op up
(counted in ``setup_s``), then times a fixed number of *rounds*; a
round runs every distinct op once, in an order drawn from the seed. A
single closed-loop client issues the ops: the next op starts when the
previous one has returned.

``scan`` and ``iterative`` run registry queries on generated tables
and write each result to Spark's ``noop`` sink; their outputs are
checked against the query's DuckDB oracle in the warm pass. ``ingest``
replays incremental endpoint loads into parquet sinks; the final sinks
are checked against what the generator says the loads must contain.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import pickle
import random
import shutil
import subprocess
import sys
import time

import gen
from layers import Recorder, plan_seconds

#: registry queries per workload (see README.md for how they were picked)
SCAN_QUERIES = ("q01_pricing_summary", "q215_content_checksum")
ITERATIVE_QUERIES = ("q192_kcore",)
#: scale factor of the generated tables (sf 1 ≈ 6M lineitem rows)
SCAN_SF = 0.02
ITERATIVE_SF = 0.01
#: ``actualizacion`` stamp of every ingest load, so sinks are reproducible
CLOCK = dt.datetime(2026, 1, 15, 12, 0, 0)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _verify_local(root: str):
    """``tools/verify_local.py`` as a module, for its canonical row
    comparison (``canon``/``rowset``). It edits ``sys.path`` on import;
    that edit is undone."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "_verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def _query_inputs(seed: int, sf: float, data_dir: str, root: str,
                  queries: tuple[str, ...]) -> dict:
    """Write the tables; return ``{query: (columns, rows)}`` from each
    query's DuckDB oracle on them."""
    import duckdb

    gen.write_tables(seed, sf, data_dir)
    sys.path.insert(0, root)
    from __spark_entry__ import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for q in queries:
            res = con.execute(oracles[q])
            out[q] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class Workload:
    """Common shape; subclasses fill in ``prepare``/``warm``/``round``."""

    name = ""
    #: nominal seconds per timed round on a 4-core box; ``--seconds``
    #: divided by this is the number of timed rounds
    round_s = 5.0
    #: untimed passes over every op before the timed rounds, enough to
    #: take the steep part of the JVM's warm-up out of the timed rounds
    warm_passes = 2

    def __init__(self, seed: int, run_dir: str, rec: Recorder, root: str):
        self.seed = seed
        self.run_dir = run_dir
        self.rec = rec
        self.root = root
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.warm_latencies: list[float] = []
        self.op_names: dict[int, str] = {}
        self._next_op = 0

    def _op_id(self, label: str) -> int:
        op_id = self._next_op
        self._next_op += 1
        self.op_names[op_id] = label
        return op_id

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def next_round(self) -> None:
        """Make the next round's inputs; called off the clock."""


# ---------------------------------------------------------------------------
# scan / iterative: registry queries to the noop sink
# ---------------------------------------------------------------------------

class QueryWorkload(Workload):
    queries: tuple[str, ...] = ()
    sf = 0.0

    def prepare(self) -> None:
        """Generate the tables and each query's oracle rows in a child
        process, so neither shows in this process's time or memory. The
        child is a plain interpreter run to its end (see ``_main``): a
        ``multiprocessing`` pool would leave its resource tracker
        running after this process exits."""
        self.data_dir = os.path.join(self.run_dir, "data")
        out = os.path.join(self.run_dir, "expected.pickle")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(self.seed), repr(self.sf),
             self.data_dir, self.root, out, *self.queries],
            check=True, stdin=subprocess.DEVNULL)
        with open(out, "rb") as f:
            self.expected = pickle.load(f)
        self.vl = _verify_local(self.root)

    def _run(self, spark, q: str, op_id: int, traced: bool, collect: bool = False):
        """One op: build the query's frame, then execute it to the noop
        sink — or, with ``collect``, to the driver, returning the rows."""
        from gpi_etl_spark import queries as Q

        rec, rows = self.rec, None
        with rec.span("op", op_id):
            with rec.span(f"queries.{q}.build", op_id, jobs=f"queries.{q}.build"):
                df = Q.REGISTRY[q][0](spark, self.data_dir)
            if traced:
                with rec.span(f"exec.{q}.plan", op_id):
                    rec.counts["exec.plan_s"] += plan_seconds(df)
            with rec.span(f"exec.{q}.run", op_id, jobs="exec"):
                if collect:
                    rows = [tuple(r) for r in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
            rec.sample_storage()
        return list(df.columns), rows

    def _matches(self, q: str, s_cols: list[str], s_rows: list[tuple]) -> bool:
        """``tools/verify_local.py``'s check: same column names, row
        count and canonical order-insensitive row set as the oracle."""
        cols, rows = self.expected[q]
        if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, cols)):
            return False
        return (len(s_rows) == len(rows)
                and self.vl.rowset(s_cols, s_rows) == self.vl.rowset(cols, rows))

    def warm(self, spark) -> float:
        """Run every query once, collecting its rows, and check them;
        then make the remaining warm passes to the noop sink. Return the
        seconds spent comparing (excluded from ``setup_s``)."""
        check_s = 0.0
        for q in self.rng.sample(self.queries, len(self.queries)):
            self.attempted += 1
            t = time.perf_counter()
            try:
                cols, rows = self._run(spark, q, self._op_id(q), False, collect=True)
            except Exception as e:  # a raising op is a failed op
                self._fail(f"{q}: {type(e).__name__}: {e}")
                continue
            finally:
                self.warm_latencies.append(time.perf_counter() - t)
            t = time.perf_counter()
            ok = self._matches(q, cols, rows)
            check_s += time.perf_counter() - t
            if not ok:
                self._fail(f"{q}: output differs from its DuckDB oracle")
        for _ in range(self.warm_passes - 1):
            self.warm_latencies += self.round(spark, False)
        return check_s

    def round(self, spark, traced: bool) -> list[float]:
        out = []
        for q in self.rng.sample(self.queries, len(self.queries)):
            self.attempted += 1
            t = time.perf_counter()
            try:
                self._run(spark, q, self._op_id(q), traced)
            except Exception as e:
                self._fail(f"{q}: {type(e).__name__}: {e}")
            out.append(time.perf_counter() - t)
        return out

    def layer_metrics(self, self_s: dict[str, float], rounds: int) -> dict:
        """Per-round layer metrics from the traced rounds."""
        c = self.rec.counts
        m = {"queries.build_s": 0.0, "queries.build_jobs": 0.0, "exec.run_s": 0.0}
        for q in self.queries:
            b = self_s.get(f"queries.{q}.build", 0.0) / rounds
            j = c.get(f"queries.{q}.build.jobs", 0) / rounds
            r = self_s.get(f"exec.{q}.run", 0.0) / rounds
            m[f"queries.{q}.build_s"] = b
            m[f"queries.{q}.build_jobs"] = j
            m[f"exec.{q}.run_s"] = r
            m["queries.build_s"] += b
            m["queries.build_jobs"] += j
            m["exec.run_s"] += r
        m["exec.plan_s"] = c.get("exec.plan_s", 0.0) / rounds
        return m

    @classmethod
    def layer_names(cls) -> list[str]:
        names = ["queries.build_s", "queries.build_jobs", "exec.run_s", "exec.plan_s"]
        for q in cls.queries:
            names += [f"queries.{q}.build_s", f"queries.{q}.build_jobs",
                      f"exec.{q}.run_s"]
        return names

    def stamp(self) -> dict:
        return {"sf": self.sf, "queries": list(self.queries)}


class Scan(QueryWorkload):
    name = "scan"
    queries = SCAN_QUERIES
    sf = SCAN_SF
    round_s = 2.4
    warm_passes = 4


class Iterative(QueryWorkload):
    name = "iterative"
    queries = ITERATIVE_QUERIES
    sf = ITERATIVE_SF
    round_s = 1.6
    warm_passes = 10


# ---------------------------------------------------------------------------
# ingest: incremental endpoint loads into parquet sinks
# ---------------------------------------------------------------------------

_N = len(gen.INGEST_ENDPOINTS)
#: sink column(s) whose max is the endpoint's scalar watermark
_SCALAR_WM = {"HTGPIINFLATUS": "date"}
#: sink columns compared against ``IngestOp.expected``
_KEYS = {"HTGPIYAHOO": ("Symbol", "Date"), "HTGPIENSO": ("week_date",),
         "HTGPIINFLATUS": ("Year", "Month")}


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet sink directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Ingest(Workload):
    name = "ingest"
    round_s = 5.5

    def prepare(self) -> None:
        self.sink_dir = os.path.join(self.run_dir, "sinks")
        os.makedirs(self.sink_dir)
        self.ops = gen.ingest_ops(self.seed)
        self.done: list[gen.IngestOp] = []
        self.wasde_version = 0
        self.pending: list[gen.IngestOp] = []

    def _sink(self, ep: str) -> str:
        if ep == "HTGPIWASDE":
            return os.path.join(self.sink_dir, ep, f"v{self.wasde_version}")
        return os.path.join(self.sink_dir, ep)

    def _parse(self, spark, op: gen.IngestOp):
        """Raw payload → input DataFrame through the ``sources`` layer."""
        from gpi_etl_spark.sources import connectors
        from gpi_etl_spark.sources.xls import xls_cells_df

        ep, p = op.endpoint, op.payload
        if ep == "HTGPIYAHOO":
            return connectors.http_csv(spark, "yahoo", lambda _: p,
                                       schema="Date string, Symbol string, Close string")
        if ep == "HTGPIINFLATUS":
            grid = connectors.html_table(spark, "cpi", lambda _: p)
            return grid.withColumn("Year", grid["Year"].cast("int"))
        if ep == "HTGPIWASDE":
            return xls_cells_df(spark, p, "p22")
        # HTGPIENSO: the fixed-width file as text lines, as spark.read.text gives them
        return spark.createDataFrame([(line,) for line in p], "value string")

    def _run(self, spark, op: gen.IngestOp, traced: bool) -> None:
        from pyspark.sql import functions as F

        from gpi_etl_spark import engine

        rec, ep, oid = self.rec, op.endpoint, op.op_id
        sink = self._sink(ep)
        with rec.span("op", oid):
            with rec.span("sink.read", oid, jobs="ingest"):
                loaded = spark.read.parquet(sink) if os.path.isdir(sink) else None
                wm = None
                if loaded is not None and ep in _SCALAR_WM:
                    wm = loaded.agg(F.max(_SCALAR_WM[ep])).first()[0]
            with rec.span("sources.parse", oid, jobs="ingest"):
                src = self._parse(spark, op)
            with rec.span("engine.run", oid, jobs="ingest"):
                kw = {"clock": CLOCK}
                if ep == "HTGPIYAHOO":
                    out = engine.run(ep, bars=src, loaded=loaded, **kw)
                elif ep == "HTGPIENSO":
                    out = engine.run(ep, lines=src, year=op.args["year"], **kw)
                elif ep == "HTGPIINFLATUS":
                    out = engine.run(ep, grid=src, watermark_date=wm, **kw)
                else:  # HTGPIWASDE: month reload of the whole sink
                    out = engine.run(ep, cells=src, sheet="p22", commodity="Corn",
                                     daterelease=op.args["daterelease"],
                                     sink=loaded, **kw)
            before = _dir_stats(sink) if traced and ep != "HTGPIWASDE" else (0, 0)
            with rec.span("sink.write", oid, jobs="ingest"):
                if ep == "HTGPIWASDE":  # the reload rewrites the sink as a new version
                    self.wasde_version += 1
                    target = self._sink(ep)
                    out.write.mode("overwrite").parquet(target)
                    if os.path.isdir(sink):
                        shutil.rmtree(sink)
                else:
                    target = sink
                    out.write.mode("append").parquet(sink)
            if traced:  # what this load wrote
                files, size = _dir_stats(target)
                rec.counts["sink.files"] += files - before[0]
                rec.counts["sink.bytes"] += size - before[1]
            rec.sample_storage()

    def next_round(self) -> None:
        self.pending = [next(self.ops) for _ in range(_N)]

    def _next(self, spark, op: gen.IngestOp, traced: bool) -> float:
        self.op_names[op.op_id] = op.endpoint
        self.attempted += 1
        t = time.perf_counter()
        try:
            self._run(spark, op, traced)
            self.done.append(op)
        except Exception as e:
            self._fail(f"{op.endpoint} op {op.op_id}: {type(e).__name__}: {e}")
        return time.perf_counter() - t

    def warm(self, spark) -> float:
        """Every endpoint's first load, then its first incremental load
        (a watermark read against an existing sink), and so on. Return
        the seconds spent generating increments (excluded from
        ``setup_s``)."""
        gen_s = 0.0
        for _ in range(self.warm_passes):
            t = time.perf_counter()
            self.next_round()
            gen_s += time.perf_counter() - t
            self.warm_latencies += self.round(spark, False)
        return gen_s

    def round(self, spark, traced: bool) -> list[float]:
        return [self._next(spark, op, traced) for op in self.pending]

    def check(self, spark) -> None:
        """Compare every sink with the rows its loads must have left
        there; a wrong sink fails every op of its endpoint."""
        from pyspark.sql import functions as F

        for ep in gen.INGEST_ENDPOINTS:
            ops = [o for o in self.done if o.endpoint == ep]
            if not ops:
                continue
            df = spark.read.parquet(self._sink(ep))
            if ep == "HTGPIWASDE":
                last = {}
                for o in ops:  # a re-release replaces the month's rows
                    last[o.args["daterelease"][:7]] = o.expected
                want = sorted((m, g, v) for m, rows in last.items() for g, v in rows)
                got = sorted(
                    (r[0][:7], r[1], r[2])
                    for r in df.select("DATERELEASE", "Geography", "Production").collect())
            else:
                want = sorted(k for o in ops for k in o.expected)
                cols = [F.col(c).cast("string") if c.endswith("date") else F.col(c)
                        for c in _KEYS[ep]]
                got = sorted(tuple(r) for r in df.select(*cols).collect())
            if got != want:
                self.failed += len(ops)
                self.errors.append(f"{ep}: sink holds {len(got)} keys, "
                                   f"loads must leave {len(want)}")

    def layer_metrics(self, self_s: dict[str, float], rounds: int) -> dict:
        c = self.rec.counts
        m = {
            "sources.parse_s": self_s.get("sources.parse", 0.0) / rounds,
            "engine.run_s": self_s.get("engine.run", 0.0) / rounds,
            "sink.read_s": self_s.get("sink.read", 0.0) / rounds,
            "sink.write_s": self_s.get("sink.write", 0.0) / rounds,
            "sink.files": c.get("sink.files", 0) / rounds,
            "sink.bytes": c.get("sink.bytes", 0) / rounds,
            "ingest.jobs_per_op": c.get("ingest.jobs", 0) / (rounds * _N),
        }
        per_ep: dict[str, list[float]] = {}
        for s in self.rec.spans:
            if s.name == "op":
                per_ep.setdefault(self.op_names[s.op_id], []).append(s.end - s.start)
        for ep in gen.INGEST_ENDPOINTS:
            d = per_ep.get(ep, [])
            m[f"engine.{ep}.op_s"] = sum(d) / len(d) if d else 0.0
        return m

    @classmethod
    def layer_names(cls) -> list[str]:
        return ["sources.parse_s", "engine.run_s", "sink.read_s", "sink.write_s",
                "sink.files", "sink.bytes", "ingest.jobs_per_op",
                *[f"engine.{ep}.op_s" for ep in gen.INGEST_ENDPOINTS]]

    def stamp(self) -> dict:
        return {"endpoints": gen.INGEST_ENDPOINTS,
                "symbols_per_op": gen.SYMBOLS_PER_OP}


WORKLOADS = {w.name: w for w in (Ingest, Scan, Iterative)}


def _main(argv: list[str]) -> None:
    """``workloads.py SEED SF DATA_DIR ROOT OUT QUERY...``: write the
    tables and pickle each query's oracle rows to ``OUT``."""
    seed, sf, data_dir, root, out, *queries = argv
    expected = _query_inputs(int(seed), float(sf), data_dir, root, tuple(queries))
    with open(out, "wb") as f:
        pickle.dump(expected, f)


if __name__ == "__main__":
    _main(sys.argv[1:])
