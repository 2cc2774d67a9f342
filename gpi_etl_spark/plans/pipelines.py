"""The reference's ETL endpoints as DataFrame-in / DataFrame-out jobs.

Each function re-expresses one HTGPI* pipeline's transform layer
(SURVEY.md §3): connectors (or test fixtures) supply the input
DataFrame in the FIXTURES.md shape; the job returns the frame the
reference would have written to its CSV sink. Every job takes an
injectable ``clock`` for the ``actualizacion`` audit column (the
reference stamps ``datetime.now()`` inline — SURVEY §7 hard part #5).

All transforms are native column expressions — each job is one lazy
Catalyst plan (scan → filter → project → [agg]) that scales by
partition count alone.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark.functions.cleaning import clean_numeric_sentinels
from gpi_etl_spark.functions.dates import MONTH_NUMBERS
from gpi_etl_spark.functions.strings import ticker_commodity_key
from gpi_etl_spark.operators.reshape import melt, pivot_wide
from gpi_etl_spark.operators.watermark import newer_than_watermark
from gpi_etl_spark.sources.fixed_width import parse_fixed_width


def _stamp(df: DataFrame, clock: dt.datetime | None) -> DataFrame:
    ts = F.lit(clock).cast("timestamp") if clock else F.current_timestamp()
    return df.withColumn("actualizacion", ts)


# -- HTGPIYAHOO (HTGPIYAHOO/__init__.py:40-96) ------------------------------

def yahoo_history(
    bars: DataFrame, loaded: DataFrame | None = None, clock: dt.datetime | None = None
) -> DataFrame:
    """Per-symbol daily bars: drop rows with empty Close (:52-53),
    keep only rows newer than the symbol's watermark (:74-96)."""
    out = bars.na.drop(subset=["Close"])
    if loaded is not None:
        out = newer_than_watermark(out, loaded, ["Symbol"], "Date")
    return _stamp(out, clock)


# -- HTGPICFT (HTGPICFT/__init__.py:92-107) ---------------------------------

def cftc_net_positions(
    cot: DataFrame,
    watermark_date: dt.date | None = None,
    year: int | None = None,
    clock: dt.datetime | None = None,
) -> DataFrame:
    """Managed-money net position: fillna(0) (:103), calculo = Long −
    Short (:102), year constant (:101), watermark filter (:104)."""
    out = cot.na.fill(0)
    out = out.withColumn(
        "calculo",
        F.col("M_Money_Positions_Long_ALL") - F.col("M_Money_Positions_Short_ALL"),
    )
    if year is not None:
        out = out.withColumn("año", F.lit(year))
    if watermark_date is not None:
        out = out.filter(F.col("Report_Date_as_MM_DD_YYYY") > F.lit(watermark_date))
    return _stamp(out, clock)


# -- HTGPIENSO (HTGPIENSO/__init__.py:68-89) --------------------------------

_ENSO_WIDTHS = [10, 5, 4, 4, 5, 4, 4, 5, 4, 4, 5, 4, 4]
_ENSO_NAMES = [
    "WEEK", "SST_NINO12", "SSTA_NINO12", "DEL1", "SST_NINO3", "SSTA_NINO3",
    "DEL2", "SST_NINO34", "SSTA_NINO34", "DEL3", "SST_NINO4", "SSTA_NINO4",
    "DEL4",
]


def enso_weekly(lines: DataFrame, year: int | None = None,
                clock: dt.datetime | None = None) -> DataFrame:
    """NOAA weekly SST: fixed-width decode (widths :77), DEL columns
    dropped (:80), ddMONyyyy week → date, optional year filter (:86)."""
    out = parse_fixed_width(lines, _ENSO_WIDTHS, _ENSO_NAMES, skip_rows=4)
    out = out.drop("DEL1", "DEL2", "DEL3", "DEL4")
    out = out.withColumns(
        {c: F.col(c).try_cast("double") for c in out.columns if c != "WEEK"}
        | {"week_date": F.to_date("WEEK", "ddMMMyyyy")}
    )
    if year is not None:
        out = out.filter(F.year("week_date") == year)
    return _stamp(out, clock)


# -- HTGPIINFLATUS (HTGPIINFLATUS/__init__.py:80-117) -----------------------

def inflation_long(
    grid: DataFrame,
    watermark_date: dt.date | None = None,
    clock: dt.datetime | None = None,
) -> DataFrame:
    """CPI year×month grid → long rows: en-dash→NULL (:84), melt (:91),
    June/July month map (:37-50,97), end-of-month date (:112),
    watermark filter (:100-102)."""
    months = [c for c in grid.columns if c != "Year"]
    cleaned = grid.withColumns({
        m: F.when(F.trim(F.col(m)).isin("–", ""), None)
        .otherwise(F.col(m))
        .try_cast("double")
        for m in months
    })
    long = melt(cleaned, ["Year"], months, "Month", "Inflation").na.drop(
        subset=["Inflation"]
    )
    month_num = None
    for name, num in MONTH_NUMBERS.items():
        month_num = (
            F.when(F.col("Month") == name, num)
            if month_num is None
            else month_num.when(F.col("Month") == name, num)
        )
    long = long.withColumn(
        "date",
        F.last_day(
            F.make_date(F.col("Year"), month_num, F.lit(1))
        ),
    )
    if watermark_date is not None:
        long = long.filter(F.col("date") > F.lit(watermark_date))
    return _stamp(long, clock)


# -- HTGPIOILWTI / HTGPIAGRICENSUS (simple watermarked series) --------------

def price_series_increment(
    series: DataFrame,
    date_col: str = "Date",
    watermark_date: str | dt.date | None = None,
    drop_cols: tuple[str, ...] = (),
    clock: dt.datetime | None = None,
) -> DataFrame:
    """Shared shape of HTGPIOILWTI (:68-92) and HTGPIAGRICENSUS
    (:67-93): optional column drop (`name`, :77) + date watermark
    filter (:80-82)."""
    out = series.drop(*drop_cols) if drop_cols else series
    if watermark_date is not None:
        out = out.filter(F.col(date_col) > F.lit(watermark_date))
    return _stamp(out, clock)


# -- HTGPISNP500 (HTGPISNP500/__init__.py:81-103) ---------------------------

def snp500_from_arrays(
    arrays: DataFrame,
    start: dt.date | None = None,
    end: dt.date | None = None,
    clock: dt.datetime | None = None,
) -> DataFrame:
    """Nested chart-API arrays → rows: explode(arrays_zip(timestamp,
    close)) (:84-89 zip), epoch-seconds → date (:88), null closes
    dropped, two-sided date filter (:90-91)."""
    z = F.explode(F.arrays_zip("timestamp", "close")).alias("z")
    out = (
        arrays.select(z)
        .select(
            F.to_date(F.to_timestamp(F.from_unixtime(F.col("z.timestamp"))))
            .alias("Date"),
            F.col("z.close").alias("Close"),
        )
        .na.drop(subset=["Close"])
    )
    if start is not None:
        out = out.filter(F.col("Date") > F.lit(start))
    if end is not None:
        out = out.filter(F.col("Date") <= F.lit(end))
    return _stamp(out, clock)


# -- HTGPIPROPHEDEX (HTGPIPROPHEDEX/__init__.py) ----------------------------

def prophetx_price_history(
    bars: DataFrame, loaded: DataFrame | None = None, clock: dt.datetime | None = None
) -> DataFrame:
    """Futures OHLC/OI/Volume assembly: '---' sentinel cleanup (:556),
    per-commodity watermark (key extracted from the ticker per the
    CASE rules :78-87) against already-loaded history (:542-558)."""
    out = bars.withColumn("OI", clean_numeric_sentinels("OI")).withColumn(
        "Volume", clean_numeric_sentinels("Volume")
    )
    out = out.withColumn("commodity", ticker_commodity_key("TickerSymbol"))
    if loaded is not None:
        loaded_k = loaded.withColumn(
            "commodity", ticker_commodity_key("TickerSymbol")
        )
        out = newer_than_watermark(out, loaded_k, ["commodity"], "Date")
    return _stamp(out, clock)


def prophetx_iv_wide(
    quotes: DataFrame, clock: dt.datetime | None = None
) -> DataFrame:
    """Option IV ladder: long quotes → one wide row per Date (pivot
    :392), horizontal call/put sums (:426-427), Skew = Σcall − Σput
    (:428). Call/put legs are identified by the C/P marker in the
    option symbol (`<fut><C|P><strike>.IV`, :362-371)."""
    leg = F.when(F.col("TickerSymbol").rlike("C\\d+\\.IV$"), "call").otherwise(
        F.when(F.col("TickerSymbol").rlike("P\\d+\\.IV$"), "put")
    )
    sums = (
        quotes.withColumn("leg", leg)
        .groupBy("Date")
        .agg(
            F.sum(F.when(F.col("leg") == "call", F.col("Close")).otherwise(0.0))
            .alias("call_sum"),
            F.sum(F.when(F.col("leg") == "put", F.col("Close")).otherwise(0.0))
            .alias("put_sum"),
        )
        .withColumn("Skew", F.col("call_sum") - F.col("put_sum"))
    )
    wide = pivot_wide(quotes, ["Date"], "TickerSymbol", "Close")
    return _stamp(wide.join(sums, "Date"), clock)


def prophetx_oi_vol_rollup(
    raw: DataFrame, clock: dt.datetime | None = None
) -> DataFrame:
    """Open-interest/volume: sentinel clean then groupBy(Date).sum
    (:499-505)."""
    out = (
        raw.withColumn("OI", clean_numeric_sentinels("OI", fill=0))
        .withColumn("Volume", clean_numeric_sentinels("Volume", fill=0))
        .groupBy("Date")
        .agg(F.sum("OI").alias("OI"), F.sum("Volume").alias("Volume"))
    )
    return _stamp(out, clock)
