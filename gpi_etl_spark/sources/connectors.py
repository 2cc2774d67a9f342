"""Driver-side connectors with injectable fetchers (SURVEY.md §2.1).

Each reference source is a small external payload (KB-MB) fetched over
HTTP — that part is inherently driver-side and is NOT where Spark adds
value; the connector's contract is "fetch → parse → a DataFrame
conforming to a declared schema". The parsed rows reach Spark through
``sources.local.local_frame`` as a typed Arrow table, which Spark keeps
as a JVM ``LocalRelation`` below
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) and
parallelizes in the JVM above it; either way no action on the frame
starts a Python-worker task. Every connector takes a ``fetch``
callable (url → bytes/str) so tests inject recorded fixtures and no
code path touches the network in CI. Credentials come from a config
mapping, never source literals (the reference hard-codes them —
SURVEY.md §0 anti-patterns, e.g. HTGPIWASDE/__init__.py:39,95-99).

Rate limiting replaces the reference's hard ``time.sleep(2)``/``(3)``
constants (HTGPIPROPHEDEX/__init__.py:199 etc., HTIPPLSITE/__init__.py
:148) with a configurable ``min_interval_s`` on the connector.
"""

from __future__ import annotations

import csv
import io
import json
import time
import zipfile
from html.parser import HTMLParser
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gpi_etl_spark.sources.local import local_frame

Fetch = Callable[[str], bytes]


class RateLimiter:
    """Minimal token-interval limiter (replaces the sleep constants)."""

    def __init__(self, min_interval_s: float = 0.0):
        self.min_interval_s = min_interval_s
        self._last = 0.0

    def wait(self) -> None:
        if self.min_interval_s <= 0:
            return
        now = time.monotonic()
        delta = now - self._last
        if delta < self.min_interval_s:
            time.sleep(self.min_interval_s - delta)
        self._last = time.monotonic()


def _rows_from_csv(payload: bytes, encoding: str = "utf-8") -> tuple[list[str], list[list[str]]]:
    text = payload.decode(encoding)
    reader = csv.reader(io.StringIO(text))
    rows = list(reader)
    if not rows:
        return [], []
    return rows[0], rows[1:]


def http_csv(
    spark: SparkSession,
    url: str,
    fetch: Fetch,
    schema=None,
    columns: Sequence[str] | None = None,
    limiter: RateLimiter | None = None,
) -> DataFrame:
    """S1/S10: CSV-over-HTTP → DataFrame. ``schema`` is a ``StructType``
    or a DDL string; without one every column is a nullable string.

    For landed multi-GB CSV datasets use ``spark.read.csv(path,
    schema=...)`` instead — this connector is for small live feeds.
    """
    (limiter or RateLimiter()).wait()
    header, rows = _rows_from_csv(fetch(url))
    cols = list(columns) if columns else header
    idx = [header.index(c) for c in cols]
    data = [[r[i] if i < len(r) else None for i in idx] for r in rows]
    if schema is None:
        schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return local_frame(spark, data, schema)


def zipped_member(payload: bytes, suffix: str = ".xls") -> bytes:
    """S3: pick the first archive member matching ``suffix``
    (HTGPICFT/__init__.py:92-100)."""
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        for name in zf.namelist():
            if name.lower().endswith(suffix):
                return zf.read(name)
    raise FileNotFoundError(f"no member matching {suffix!r} in archive")


def json_api(
    spark: SparkSession,
    url: str,
    fetch: Fetch,
    record_path: Sequence[str | int] = (),
    schema=None,
    limiter: RateLimiter | None = None,
) -> DataFrame:
    """S7/S8: JSON REST → DataFrame, descending ``record_path`` into the
    document (the reference's nested ``spark.result[0].response[0]...``
    walk, HTGPISNP500/__init__.py:81-92). For large JSON *datasets* use
    ``spark.read.json`` with an explicit schema + ``from_json``/
    ``explode`` instead.

    The one connector left on ``createDataFrame(list)``: with
    ``schema=None`` PySpark's Python inference decides map vs struct
    for nested objects and the local-time reading of datetimes, and an
    Arrow table would decide both differently.
    """
    (limiter or RateLimiter()).wait()
    doc = json.loads(fetch(url))
    for step in record_path:
        doc = doc[step]
    if isinstance(doc, dict):
        doc = [doc]
    return spark.createDataFrame(doc, schema=schema)


def paginated(
    fetch_page: Callable[[str | None], tuple[list[dict], str | None]],
    limiter: RateLimiter | None = None,
    max_pages: int = 100,
) -> list[dict]:
    """S9: generic next-page-token pagination loop (Google Places shape,
    HTIPPLSITE/__init__.py:45-73,143-150). Sequential per stream by
    protocol; parallelism belongs across categories/keys, not pages.
    """
    out: list[dict] = []
    token: str | None = None
    for _ in range(max_pages):
        (limiter or RateLimiter()).wait()
        rows, token = fetch_page(token)
        out.extend(rows)
        if not token:
            break
    return out


def excel_cells(
    payload: bytes,
    sheet_name: str,
) -> list[list]:
    """S2: .xls/.xlsx sheet → cell grid (list of row lists) with
    merged-cell expansion (HTGPIWASDE/__init__.py:203-245).

    Both container formats parse natively, stdlib only: ``PK`` magic →
    SpreadsheetML zip via ``sources.xlsx``; the OLE2 magic → legacy
    BIFF8 via ``sources.xls`` (the reference's actual WASDE payload
    format, which it read with xlrd). openpyxl is preferred for .xlsx
    when installed (style-aware date coercion for exotic formats).
    """
    if payload[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":  # OLE2 → BIFF8
        from gpi_etl_spark.sources.xls import parse_xls_cells

        return parse_xls_cells(payload, sheet_name)
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        openpyxl = None
    if openpyxl is not None:
        wb = openpyxl.load_workbook(io.BytesIO(payload), data_only=True)
        ws = wb[sheet_name]
        grid = [[c.value for c in row] for row in ws.iter_rows()]
        # expand merged ranges so every covered cell holds the anchor value
        for rng in ws.merged_cells.ranges:
            anchor = grid[rng.min_row - 1][rng.min_col - 1]
            for r in range(rng.min_row - 1, rng.max_row):
                for c in range(rng.min_col - 1, rng.max_col):
                    grid[r][c] = anchor
        return grid
    if payload[:2] == b"PK":  # zip container → SpreadsheetML
        from gpi_etl_spark.sources.xlsx import parse_xlsx_cells

        return parse_xlsx_cells(payload, sheet_name)
    raise ValueError(
        "unrecognized spreadsheet payload (expected OLE2 .xls or zip .xlsx)"
    )


class _TableParser(HTMLParser):
    """Minimal stdlib HTML <table> extractor (no bs4/lxml dependency).

    Collects every table as a list of rows of cell strings; colspan
    repeats the value so downstream header alignment holds (the CPI
    grid the reference scrapes uses plain cells —
    HTGPIINFLATUS/__init__.py:80-87).
    """

    def __init__(self) -> None:
        super().__init__()
        self.tables: list[list[list[str]]] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None
        self._span = 1

    def _flush_cell(self):
        if self._cell is not None and self._row is not None:
            value = "".join(self._cell).strip()
            self._row.extend([value] * self._span)
            self._cell = None

    def _flush_row(self):
        self._flush_cell()
        if self._row is not None and self.tables:
            if self._row:
                self.tables[-1].append(self._row)
            self._row = None

    def handle_starttag(self, tag, attrs):
        # HTML5 allows omitted </td>/</tr>: a new cell/row start tag
        # implicitly closes the open one — flush, don't discard
        if tag == "table":
            self._flush_row()
            self.tables.append([])
        elif tag == "tr" and self.tables:
            self._flush_row()
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._flush_cell()
            self._cell = []
            self._span = max(1, int(dict(attrs).get("colspan", 1) or 1))

    def handle_endtag(self, tag):
        if tag in ("td", "th"):
            self._flush_cell()
        elif tag in ("tr", "table"):
            self._flush_row()

    def close(self):
        self._flush_row()  # unterminated markup at EOF
        super().close()

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def html_table(
    spark: SparkSession,
    url: str,
    fetch: Fetch,
    table_index: int = 0,
    header_row: int = 0,
    encoding: str = "utf-8",
) -> DataFrame:
    """S5: HTML table scan → DataFrame (``pd.read_html(url, header=1)``
    at HTGPIINFLATUS/__init__.py:80-87, rebuilt on the stdlib parser so
    the engine carries no scraping dependency)."""
    parser = _TableParser()
    parser.feed(fetch(url).decode(encoding))
    parser.close()
    if table_index >= len(parser.tables):
        raise ValueError(f"page has {len(parser.tables)} tables, wanted {table_index}")
    rows = parser.tables[table_index]
    if len(rows) <= header_row:
        raise ValueError(
            f"table {table_index} has {len(rows)} rows, no header row {header_row}"
        )
    header = [h if h else f"col_{i}" for i, h in enumerate(rows[header_row])]
    width = len(header)
    data = [
        (r + [""] * width)[:width] for r in rows[header_row + 1 :] if any(r)
    ]
    # explicit all-string schema so a header-only table yields an empty
    # DataFrame instead of a schema-inference error; built as a
    # StructType (not a DDL string) so untrusted header text — backticks,
    # commas, anything — can't break or shift the schema
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in _dedupe(header)]
    )
    return local_frame(spark, data, schema)


def _dedupe(names: Sequence[str]) -> list[str]:
    seen: dict[str, int] = {}
    out = []
    for n in names:
        k = seen.get(n, 0)
        out.append(n if k == 0 else f"{n}_{k}")
        seen[n] = k + 1
    return out


def raw_binary_put(path: str, data: bytes) -> None:
    """K2: raw binary object put (the reference's
    ``create_blob_from_stream`` of the fetched WASDE .xls and the
    pickled model artifacts, HTGPIWASDE/__init__.py:80-86). Expressed
    against the filesystem abstraction: written to a temp name in the
    target directory then atomically renamed, so readers never observe
    a half-written object (on real object stores the store's own
    single-shot PUT provides the same guarantee)."""
    import os
    import tempfile

    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".put-")
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def raw_binary_get(path: str) -> bytes:
    """S12 fetch side: object → bytes (``get_blob_to_stream``,
    HTIPNEXSITE/__init__.py:87-90). Feed the result to
    ``operators.score.load_model`` for model artifacts."""
    with open(path, "rb") as fh:
        return fh.read()


class _LinkParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.links: list[tuple[str, dict]] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            d = dict(attrs)
            if "href" in d:
                self.links.append((d["href"], d))


def discover_links(
    html: str,
    href_contains: str = "",
    attr: str | None = None,
) -> list[tuple[str, str | None]]:
    """S6: link discovery — hrefs (optionally filtered by substring)
    with one extra attribute pulled per link (the reference scrapes the
    latest WASDE row's href + ``data-release-date`` —
    HTGPIWASDE/__init__.py:54-68). Returns newest-first page order."""
    parser = _LinkParser()
    parser.feed(html)
    out = []
    for href, attrs in parser.links:
        if href_contains and href_contains not in href:
            continue
        out.append((href, attrs.get(attr) if attr else None))
    return out
