"""``sources.local.local_frame``: the same frame as
``createDataFrame(list, schema)`` (schema, nullability, rows, empty
input), Arrow's range check, and no Spark job for a ``collect()`` of
any connector frame built on it."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from gpi_etl_spark.sources.local import local_frame

CELLS = "sheet string, row_idx int, col_idx int, value string"
STRICT = T.StructType([
    T.StructField("sheet", T.StringType(), False),
    T.StructField("row_idx", T.IntegerType(), False),
    T.StructField("col_idx", T.LongType()),
    T.StructField("value", T.StringType()),
])
ROWS = [
    ("p22", 0, 0, "WASDE-668"),
    ("p22", 1, 3, None),
    ("p22", 2, None, "–"),
    ("p22", 3, 1, ""),
]


@pytest.mark.parametrize("schema", [CELLS, STRICT], ids=["ddl", "structtype"])
@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_matches_create_dataframe(spark, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # StructField equality covers nullability
    assert got.collect() == want.collect() == [tuple(r) for r in rows]


def test_int32_overflow_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("p22", 2**31, 0, "x")], CELLS)


def test_row_width_must_match_schema(spark):
    with pytest.raises(ValueError, match="4 fields"):
        local_frame(spark, [("p22", 0, 0)], CELLS)


def _http_csv(spark):
    from gpi_etl_spark.sources.connectors import http_csv

    payload = b"Date,Symbol,Close\n2024-01-02,ZC=F,\n2024-01-03,ZC=F,451.25\n"
    return http_csv(spark, "yahoo", lambda _: payload,
                    schema="Date string, Symbol string, Close string")


def _html_table(spark):
    from gpi_etl_spark.sources.connectors import html_table

    html = b"<table><tr><th>Year<th>Jan<tr><td>2024<td>&ndash;</table>"
    return html_table(spark, "cpi", lambda _: html)


def _xls_cells_df(spark):
    from gpi_etl_spark.sources.xls import xls_cells_df
    from tests import xls_fixture as fx

    payload = fx.build_xls({"p22": [fx.label_sst(0, 0, 0), fx.number(1, 1, 2.5)]},
                           ["WASDE-668"])
    return xls_cells_df(spark, payload, "p22")


def _xlsx_cells_df(spark):
    from gpi_etl_spark.sources.xlsx import xlsx_cells_df
    from tests.test_xlsx import _make_xlsx, _sheet_xml

    body = ('<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>WASDE-668'
            '</t></is></c></row></sheetData>')
    return xlsx_cells_df(spark, _make_xlsx({"p22": _sheet_xml(body)}), "p22")


@pytest.mark.parametrize(
    "build", [_http_csv, _html_table, _xls_cells_df, _xlsx_cells_df],
    ids=["http_csv", "html_table", "xls_cells_df", "xlsx_cells_df"],
)
def test_connector_collect_launches_no_job(spark, count_jobs, build):
    """A connector frame is a JVM ``LocalRelation``: collecting it
    launches no Spark job (through ``createDataFrame(list)`` it would
    launch one, with a Python-worker task per slice)."""
    df = build(spark)
    rows = []
    assert count_jobs(lambda: rows.extend(df.collect())) == 0
    assert rows
