"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``seed``:

* :func:`write_tables` writes the TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` side tables that the registry
  queries read, at a given scale factor, as one parquet file per table;
* :func:`ingest_ops` yields the sequence of incremental endpoint loads
  that the ``ingest`` workload replays, each with its raw payload and
  the rows the endpoint must add to its sink.

The same seed always gives byte-identical inputs; different seeds give
different inputs of the same shape and size.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_US = pa.timestamp("us")
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start: str, n: np.ndarray) -> np.ndarray:
    """``start`` + ``n`` days as µs-since-epoch int64."""
    base = (np.datetime64(start, "us") - _EPOCH).astype(np.int64)
    return base + n.astype(np.int64) * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf 1 ≈ 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 50)
    n_vec = max(int(20_000 * sf), 50)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2404, n_ord)), _US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    flag = rng.integers(0, 6, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag // 2],
        "l_linestatus": np.array(["F", "O"])[flag % 2],
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, n_li)), _US),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_days("2024-01-01", np.zeros(n_ev)) + ev_us, _US),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:  # exact re-posts for the dedup paths
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write :func:`tables` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# ingest: incremental endpoint loads
# ---------------------------------------------------------------------------

#: endpoints the ingest workload replays: one per connector kind (CSV
#: bars, fixed-width lines, HTML grid, WASDE workbook) and per load kind
#: (keyed watermark, no watermark, scalar watermark, partition reload)
INGEST_ENDPOINTS = ["HTGPIYAHOO", "HTGPIENSO", "HTGPIINFLATUS", "HTGPIWASDE"]
SYMBOLS_PER_OP = 50
ENSO_WIDTHS = [10, 5, 4, 4, 5, 4, 4, 5, 4, 4, 5, 4, 4]
#: the CPI page's month headers, with its ``June``/``July`` spelling
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "June",
          "July", "Aug", "Sep", "Oct", "Nov", "Dec"]
WASDE_GEOS = ["World 3/", "United States", "Total Foreign", "Argentina",
              "Brazil", "Egypt", "Japan", "Mexico", "South Africa"]


@dataclass
class IngestOp:
    """One incremental load: endpoint, raw payload, what it must add.

    ``payload`` is what the endpoint's connector would have fetched:
    rows for the row feeds, CSV/HTML text, fixed-width lines, or
    ``.xls`` bytes. ``expected`` holds the key tuples the sink must
    gain (for WASDE: the month partition's rows after the reload)."""

    op_id: int
    endpoint: str
    payload: object
    expected: list[tuple] = field(default_factory=list)
    args: dict = field(default_factory=dict)


def _day(step: int) -> dt.date:
    return dt.date(2020, 1, 1) + dt.timedelta(days=step)


def _enso_line(week: str, vals: list[float]) -> str:
    return week.ljust(ENSO_WIDTHS[0]) + "".join(
        f"{v:.1f}".rjust(w) for w, v in zip(ENSO_WIDTHS[1:], vals))


def _wasde_xls(month_no: int, rng: np.random.Generator) -> tuple[bytes, list[tuple]]:
    """A one-sheet WASDE supply/use workbook and the (Geography,
    Production) rows the extract must produce from it."""
    from tests import xls_fixture as fx

    strings = [f"WASDE-{600 + month_no}", "World Corn Supply and Use 1/",
               "Million Metric Tons", "Beginning Stocks", "2024/25 Est.",
               *WASDE_GEOS]
    recs = [fx.label_sst(0, 0, 0), fx.label_sst(1, 0, 1), fx.label_sst(2, 0, 2),
            fx.label_sst(3, 0, 3), fx.label_sst(3, 1, 4)]
    expected = []
    for i, geo in enumerate(WASDE_GEOS):
        r = 4 + i
        recs.append(fx.label_sst(r, 0, 5 + i))
        vals = [float(v) for v in rng.integers(1, 2000, 7)]
        for c, v in enumerate(vals, start=1):
            recs.append(fx.number(r, c, v))
        expected.append((geo.removesuffix(" 3/"), vals[1]))
    return fx.build_xls({"p22": recs}, strings), expected


def ingest_ops(seed: int):
    """The endless replay of loads, endpoint order shuffled per round of
    one load per endpoint, so each recurs at a steady rate.

    Each Yahoo increment carries one new day plus a verbatim re-send of
    the previous day, which the endpoint's watermark must filter out; a
    few rows carry no Close, which the endpoint drops."""
    rng = np.random.default_rng([seed, 2])
    symbols = [f"S{seed % 97:02d}{i:03d}" for i in range(SYMBOLS_PER_OP)]
    steps = {e: 0 for e in INGEST_ENDPOINTS}
    prev: dict[str, list] = {e: [] for e in INGEST_ENDPOINTS}
    order: list[str] = []
    for op_id in itertools.count():
        if not order:
            order = list(rng.permutation(INGEST_ENDPOINTS))
        ep = str(order.pop())
        step = steps[ep]
        steps[ep] += 1
        yield _ingest_op(op_id, ep, step, rng, symbols, prev)


def _ingest_op(op_id: int, ep: str, step: int, rng: np.random.Generator,
               symbols: list[str], prev: dict[str, list]) -> IngestOp:
    op = IngestOp(op_id, ep, None)
    if ep == "HTGPIYAHOO":
        day = _day(step).isoformat()
        new = [f"{day},{s}" if rng.random() < 0.05  # no Close: the endpoint drops it
               else f"{day},{s},{rng.uniform(10, 500):.2f}" for s in symbols]
        op.payload = "\n".join(["Date,Symbol,Close", *prev[ep], *new, ""]).encode()
        op.expected = [(s, day) for s, line in zip(symbols, new) if line.count(",") == 2]
        prev[ep] = new
    elif ep == "HTGPIENSO":
        week = dt.date(1990, 1, 3) + dt.timedelta(weeks=step)
        wk = week.strftime("%d%b%Y").upper()
        vals = [float(np.round(v, 1)) for v in rng.uniform(-3, 30, 12)]
        op.payload = ["Weekly SST", "header2", "header3", "header4", _enso_line(wk, vals)]
        op.args = {"year": week.year}
        op.expected.append((week.isoformat(),))
    elif ep == "HTGPIINFLATUS":
        # the CPI page shows every month so far; one new month per load
        year, month = 1990 + step // 12, step % 12
        cells = ["<tr><th>Year</th>" + "".join(f"<th>{m}</th>" for m in MONTHS) + "</tr>"]
        for y in range(max(1990, year - 1), year + 1):
            row = [f"<td>{y}</td>"]
            for m in range(12):
                known = y < year or m <= month
                v = f"{rng.uniform(-1, 6):.1f}" if known else "–"
                row.append(f"<td>{v}</td>")
            cells.append("<tr>" + "".join(row) + "</tr>")
        op.payload = ("<html><table>" + "".join(cells) + "</table></html>").encode()
        op.expected.append((year, MONTHS[month]))
    else:  # HTGPIWASDE: monthly release, re-released every other load,
        # so the month partition is reloaded, never appended twice
        month_no = step // 2
        op.payload, op.expected = _wasde_xls(month_no, rng)
        op.args = {"daterelease": f"{2000 + month_no // 12}-{month_no % 12 + 1:02d}-12"}
    return op
