"""S2: native .xlsx cell-grid scan — stdlib only (zipfile + ElementTree).

The reference reads WASDE workbooks with xlrd and expands merged cells
before grid→table extraction (HTGPIWASDE/__init__.py:203-245). An
.xlsx file is a zip of SpreadsheetML XML parts, so the byte-parse needs
no third-party library: workbook.xml names the sheets, the rels part
maps them to worksheet XML, sharedStrings.xml holds interned text, and
each worksheet lists ``<c r="B3" t="s"><v>…</v></c>`` cells.

Scope and limits (documented, not silent):

* values come back as the raw stored strings (numbers as written in
  the XML, shared/inline strings resolved, booleans as TRUE/FALSE) —
  EXCEPT date-formatted serials, which coerce to ISO strings via the
  styles table (``xl/styles.xml`` cellXfs → numFmtId → builtin date
  ids or a date-lettered custom formatCode), matching the reference's
  xlrd ``XL_CELL_DATE`` handling (HTGPIWASDE/__init__.py:224-232) and
  honoring the workbook's ``date1904`` flag;
* formula cells yield their cached ``<v>`` result (what xlrd returns);
* legacy binary .xls (BIFF) parses in the sibling
  :mod:`gpi_etl_spark.sources.xls` module.

Parsing runs driver-side per workbook — the reference ingests ONE
bounded workbook per release, fetched as bytes. For a lake of many
workbooks use :func:`gpi_etl_spark.sources.excel_lake.excel_lake_cells`
(or ``excel_lake_from_files`` for a filesystem lake), which distributes
this parser via ``mapInPandas``: the parser is pure bytes→rows, so it
partitions trivially.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _text_of(elem) -> str:
    """Concatenate every <t> descendant (plain and rich-text runs)."""
    return "".join(t.text or "" for t in elem.iter() if _strip(t.tag) == "t")


def sheet_names(payload: bytes) -> list[str]:
    """Workbook sheet names in workbook order."""
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        root = ET.fromstring(zf.read("xl/workbook.xml"))
    return [
        el.get("name", "")
        for el in root.iter()
        if _strip(el.tag) == "sheet"
    ]


def _sheet_part(zf: zipfile.ZipFile, sheet_name: str | None) -> str:
    """Resolve a sheet name to its worksheet XML part via the rels."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    sheets = [el for el in wb.iter() if _strip(el.tag) == "sheet"]
    if not sheets:
        raise ValueError("workbook has no sheets")
    target = None
    if sheet_name is None:
        target = sheets[0]
    else:
        for el in sheets:
            if el.get("name") == sheet_name:
                target = el
                break
        if target is None:
            raise ValueError(
                f"sheet {sheet_name!r} not in {[s.get('name') for s in sheets]}"
            )
    rid = next(
        (v for k, v in target.attrib.items() if _strip(k) == "id"), None
    )
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.iter():
        if _strip(rel.tag) == "Relationship" and rel.get("Id") == rid:
            t = rel.get("Target", "")
            t = t[1:] if t.startswith("/") else "xl/" + t
            return t.replace("xl/xl/", "xl/")
    raise ValueError(f"no worksheet part for sheet {sheet_name!r}")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    return [_text_of(si) for si in root.iter() if _strip(si.tag) == "si"]


def _date_styles(zf: zipfile.ZipFile) -> set[int]:
    """Indexes into cellXfs whose number format renders as a date/time
    (builtin date ids or a custom formatCode with date letters)."""
    from gpi_etl_spark.sources.xls import _BUILTIN_DATE_FMTS, _fmt_is_date

    try:
        root = ET.fromstring(zf.read("xl/styles.xml"))
    except KeyError:
        return set()
    custom: dict[int, str] = {}
    for el in root.iter():
        if _strip(el.tag) == "numFmt":
            custom[int(el.get("numFmtId", "0"))] = el.get("formatCode", "")
    out: set[int] = set()
    cellxfs = next(
        (el for el in root.iter() if _strip(el.tag) == "cellXfs"), None
    )
    if cellxfs is None:
        return out
    for i, xf in enumerate(el for el in cellxfs if _strip(el.tag) == "xf"):
        ifmt = int(xf.get("numFmtId", "0"))
        if ifmt in custom:
            if _fmt_is_date(custom[ifmt]):
                out.add(i)
        elif ifmt in _BUILTIN_DATE_FMTS:
            out.add(i)
    return out


def _date1904(zf: zipfile.ZipFile) -> int:
    root = ET.fromstring(zf.read("xl/workbook.xml"))
    for el in root.iter():
        if _strip(el.tag) == "workbookPr":
            return 1 if el.get("date1904") in ("1", "true") else 0
    return 0


def parse_xlsx_cells(
    payload: bytes,
    sheet_name: str | None = None,
    fill_merged: bool = True,
) -> list[list]:
    """One sheet → rectangular cell grid (row lists, ``None`` for
    absent cells). ``fill_merged`` replicates each merged range's
    anchor value across the range, matching the reference's xlrd
    merged-cell expansion."""
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        part = _sheet_part(zf, sheet_name)
        shared = _shared_strings(zf)
        date_styles = _date_styles(zf)
        datemode = _date1904(zf) if date_styles else 0
        root = ET.fromstring(zf.read(part))

    cells: dict[tuple[int, int], str] = {}
    merges: list[tuple[int, int, int, int]] = []
    for el in root.iter():
        tag = _strip(el.tag)
        if tag == "c":
            ref = el.get("r")
            m = _CELL_REF.match(ref or "")
            if not m:
                continue
            r, c = int(m.group(2)) - 1, _col_index(m.group(1))
            ctype = el.get("t", "n")
            value: str | None = None
            if ctype == "inlineStr":
                value = _text_of(el)
            else:
                v = next((ch for ch in el if _strip(ch.tag) == "v"), None)
                if v is not None and v.text is not None:
                    if ctype == "s":
                        value = shared[int(v.text)]
                    elif ctype == "b":
                        value = "TRUE" if v.text.strip() == "1" else "FALSE"
                    else:  # n, str (cached formula result), e
                        value = v.text
                        if ctype == "n" and date_styles:
                            style = int(el.get("s", "-1"))
                            if style in date_styles:
                                from gpi_etl_spark.sources.xls import (
                                    _serial_to_iso,
                                )

                                try:
                                    value = _serial_to_iso(
                                        float(v.text), datemode
                                    )
                                except ValueError:
                                    pass  # non-numeric in a date style
            if value is not None:
                cells[(r, c)] = value
        elif tag == "mergeCell":
            a, b = el.get("ref", ":").split(":")
            ma, mb = _CELL_REF.match(a), _CELL_REF.match(b)
            if ma and mb:
                merges.append((
                    int(ma.group(2)) - 1, _col_index(ma.group(1)),
                    int(mb.group(2)) - 1, _col_index(mb.group(1)),
                ))

    if fill_merged:
        for r1, c1, r2, c2 in merges:
            anchor = cells.get((r1, c1))
            if anchor is None:
                continue
            for r in range(r1, r2 + 1):
                for c in range(c1, c2 + 1):
                    cells[(r, c)] = anchor

    if not cells:
        return []
    nrows = max(r for r, _ in cells) + 1
    ncols = max(c for _, c in cells) + 1
    grid: list[list] = [[None] * ncols for _ in range(nrows)]
    for (r, c), v in cells.items():
        grid[r][c] = v
    return grid


def xlsx_cells_df(spark, payload: bytes, sheet_name: str | None = None):
    """Sheet → the engine's ``wasde_cells`` shape
    ``(sheet, row_idx, col_idx, value)`` — absent cells omitted, ready
    for ``plans.wasde.extract_supply_use`` / ``extract_wheat_classes``."""
    from gpi_etl_spark.sources.local import local_frame

    name = sheet_name or (sheet_names(payload) or [""])[0]
    grid = parse_xlsx_cells(payload, sheet_name)
    rows = [
        (name, r, c, v)
        for r, line in enumerate(grid)
        for c, v in enumerate(line)
        if v is not None
    ]
    return local_frame(
        spark, rows, "sheet string, row_idx int, col_idx int, value string"
    )
