"""WASDE supply-and-use sheet extraction (the reference's richest
pipeline, HTGPIWASDE/__init__.py:136-1196).

Input: the ``wasde_cells`` grid (sheet, row_idx, col_idx, value) —
what ``read_xls_with_sheetname`` emits (:203-245). The reference then
runs eight near-identical imperative parsers (process_data_p*,
:248-1196); here ONE declarative plan covers the supply/use table
family:

* landmark cells (``WASDE-NNN`` report number, title, units row) are
  picked with conditional aggregates and broadcast back onto the data
  rows — one lazy plan end-to-end, no driver collect;
* the two ``Beginning Stocks`` header rows split the sheet into the
  EST. / PROJ. blocks (:360-384) — a running count of header rows;
* geography names forward-fill across blank continuation rows
  (:593-594 → W4) after footnote-marker stripping (:1198-1202);
* ``Orden`` is the 1-on-new/2-on-repeat run flag (:595-599 → W5);
* group headers (``Major Exporters``/``Major Importers``/``World``)
  forward-fill into a ``Grupo`` column;
* note/skip rows (``Selected Other``, ``1/ Aggregate…``, blanks) are
  filtered (:318,466-471 → P7);
* value columns clean through the ''/'NA'→0 sentinel rules
  (:1204-1207) and derive Total Use / Stocks to Use (:500-506).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark.functions.cleaning import (
    clean_numeric_sentinels,
    safe_div,
    strip_footnote_markers,
)
from gpi_etl_spark.operators.windows import forward_fill, run_change_flag

#: numeric columns in sheet order (cols 1..7 of the supply/use table)
VALUE_COLS = [
    "Beginning stocks", "Production", "Imports", "Domestic Feed",
    "Domestic total", "Exports", "Ending stocks",
]
GROUP_HEADERS = ["World", "Major Exporters", "Major Importers", "Selected Other"]
SKIP_MARKERS = ["Selected Other"]


def extract_supply_use(
    cells: DataFrame,
    sheet: str | Sequence[str],
    daterelease: str,
    commodity: str | dict[str, str],
    clock: dt.datetime | None = None,
    grupo_mode: str = "headers",
) -> DataFrame:
    """Cell grid → long-format 22-col supply/use rows.

    ``sheet`` may be one sheet name or a sequence of them; every window
    in the extract partitions by ``sheet`` so a frame holding many
    sheets/workbooks parallelizes per-sheet instead of funnelling into
    a single task (the round-2 "No Partition Defined for Window" flag).
    With multiple sheets, pass ``commodity`` as a ``{sheet: commodity}``
    mapping (a plain string is fine for a single sheet).

    ``grupo_mode`` controls group attribution:

    * ``"headers"`` (default): exact group-header rows (``World`` /
      ``Major Exporters`` / ``Major Importers`` / ``Selected Other``)
      forward-fill into ``Grupo`` under their literal names.
    * ``"compat"``: the reference's substring semantics (:466-480) —
      a cell CONTAINING ``World`` sets ``Grupo='Resumen'``, ``Major
      Exporters``/``Major Importers`` set themselves (so footnoted
      headers like ``Major Exporters 3/`` still register), and
      ``Selected Other`` updates nothing, so countries under it
      inherit the previous group; the skip test is also a substring
      match.
    """
    if grupo_mode not in ("headers", "compat"):
        raise ValueError(f"grupo_mode must be 'headers' or 'compat', got {grupo_mode!r}")
    sheets = [sheet] if isinstance(sheet, str) else list(sheet)
    if isinstance(commodity, str):
        commodity = {s: commodity for s in sheets}
    missing = [s for s in sheets if s not in commodity]
    if missing:
        raise ValueError(f"no commodity mapping for sheets {missing!r}")
    c = cells.filter(F.col("sheet").isin(sheets))

    # one row per sheet line: map col_idx → value
    rows = c.groupBy("sheet", "row_idx").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("col_idx", "value")))
        ).alias("m")
    )
    col = lambda i: F.col("m").getItem(i)  # noqa: E731

    # landmark cells: one row per sheet, broadcast back onto its rows
    landmarks = c.groupBy("sheet").agg(
        F.first(F.when(F.col("value").rlike(r"^WASDE-\d+"), F.col("value")), True)
        .alias("Wasde"),
        F.first(
            F.when(F.col("value").rlike("Supply and Use"), F.col("value")), True
        ).alias("Datos"),
        F.first(
            F.when(F.col("value").rlike("Million Metric Tons"), F.col("value")), True
        ).alias("Medida"),
    )

    is_header = col(0).rlike("Beginning")  # the 'Beginning Stocks' header rows
    w = Window.partitionBy("sheet").orderBy("row_idx")
    blocks = rows.withColumn(
        "block",
        F.sum(F.when(is_header, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("mes", F.when(is_header, F.trim(col(1))))
    blocks = forward_fill(blocks, "mes", ["row_idx"], partition_by=["sheet"])

    geo_raw = F.trim(col(0))
    if grupo_mode == "compat":
        grupo_hdr = (
            F.when(geo_raw.contains("World"), F.lit("Resumen"))
            .when(geo_raw.contains("Major Exporters"), F.lit("Major Exporters"))
            .when(geo_raw.contains("Major Importers"), F.lit("Major Importers"))
        )
    else:
        grupo_hdr = F.when(geo_raw.isin(GROUP_HEADERS), F.trim(geo_raw))
    data = (
        blocks.filter(F.col("block") >= 1)
        .withColumn("geo", strip_footnote_markers(geo_raw))
        .withColumn("grupo_hdr", grupo_hdr)
    )
    data = forward_fill(
        data, "grupo_hdr", ["row_idx"], partition_by=["sheet"], out_col="Grupo"
    )

    # row filters (P7): header rows themselves, note rows, skip markers,
    # rows with no numeric payload at all
    has_payload = None
    for i in range(1, len(VALUE_COLS) + 1):
        cond = F.length(F.trim(F.coalesce(col(i), F.lit("")))) > 0
        has_payload = cond if has_payload is None else (has_payload | cond)
    is_header_col = F.col("m").getItem(0).rlike("Beginning")
    if grupo_mode == "compat":
        is_skip = F.coalesce(geo_raw, F.lit("")).contains("Selected Other")
    else:
        is_skip = F.trim(F.coalesce(F.col("geo"), F.lit(""))).isin(*SKIP_MARKERS)
    data = data.filter(
        ~is_header_col
        & ~F.col("geo").rlike(r"^\d+/")
        & ~is_skip
        & has_payload
    )

    # blank-geography continuation rows carry the previous geography
    data = data.withColumn(
        "geo", F.when(F.length("geo") > 0, F.col("geo"))
    )
    data = forward_fill(data, "geo", ["row_idx"], partition_by=["sheet"])
    data = run_change_flag(
        data, "geo", ["row_idx"], partition_by=["sheet"], out_col="Orden"
    )

    data = data.withColumns({
        name: clean_numeric_sentinels(col(i), fill=0)
        for i, name in enumerate(VALUE_COLS, start=1)
    })

    total = F.col("Domestic total") + F.col("Exports")
    data = data.withColumn("Total Use", total).withColumn(
        "Stocks to Use", safe_div(F.col("Ending stocks") * 100, F.col("Total Use"))
    )

    stamp = F.lit(clock).cast("timestamp") if clock else F.current_timestamp()
    commodity_col = F.lit(commodity[sheets[0]])
    if len(sheets) > 1:
        commodity_col = F.element_at(
            F.create_map(
                *[F.lit(x) for s in sheets for x in (s, commodity[s])]
            ),
            F.col("sheet"),
        )
    return (
        data.join(F.broadcast(landmarks), "sheet")
        .select(
            F.lit("WASDE").alias("Origen"),
            F.lit(f"WASDE_{daterelease}.xls").alias("Archivo"),
            F.col("Wasde"),
            F.col("Datos"),
            commodity_col.alias("Commoditie"),
            F.col("Medida"),
            F.col("row_idx").cast("string").alias("DateN"),
            F.col("mes").alias("HarvestDate"),
            F.when(F.col("block") == 1, "EST.").otherwise("PROJ.").alias("Tipo"),
            F.col("Grupo"),
            F.col("geo").alias("Geography"),
            F.col("Orden"),
            F.col("mes").alias("Mes"),
            *[F.col(n) for n in VALUE_COLS],
            F.col("Total Use"),
            F.col("Stocks to Use"),
            stamp.alias("actualizacion"),
            F.lit(daterelease).alias("DATERELEASE"),
        )
    )


def extract_wheat_classes(
    cells: DataFrame,
    sheet: str,
    daterelease: str,
    clock: dt.datetime | None = None,
) -> DataFrame:
    """P11 wheat-by-class sheet: metrics as rows × classes as columns,
    flipped to one row per (class, block) with metric columns — the
    reference's numpy ``.T`` transpose (HTGPIWASDE/__init__.py:358-369,
    R4) re-expressed as the unpivot→pivot composite (reshape.transpose)
    plus the EST./PROJ block split (:360-384).

    The class-name header row is collected driver-side (ONE bounded
    row — the sheet is ~10×7) because transposed column names must be
    known to build the plan; everything else stays distributed.
    """
    from gpi_etl_spark.operators.reshape import transpose

    c = cells.filter(F.col("sheet") == sheet)
    rows = c.groupBy("sheet", "row_idx").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("col_idx", "value")))
        ).alias("m")
    )
    col = lambda i: F.col("m").getItem(i)  # noqa: E731

    is_header = col(0).isNull() | (F.trim(col(0)) == "")
    # single-sheet extract, but partition anyway: a partition-less
    # running sum is the anti-pattern plan_audit now flags
    w = Window.partitionBy("sheet").orderBy("row_idx")
    blocks = rows.withColumn(
        "block",
        F.sum(F.when(is_header, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    header = (
        blocks.filter(is_header).orderBy("row_idx").limit(1).select("m").first()
    )
    if header is None:
        raise ValueError(f"sheet {sheet!r} has no class-header row")
    classes = []
    i = 1
    while header.m.get(i) not in (None, ""):
        classes.append(header.m[i])
        i += 1

    out = None
    for block_no, tipo in ((1, "EST."), (2, "PROJ.")):
        metrics = (
            blocks.filter((F.col("block") == block_no) & ~is_header)
            .select(
                F.trim(col(0)).alias("metric_name"),
                *[
                    clean_numeric_sentinels(col(j + 1), fill=0).alias(cls)
                    for j, cls in enumerate(classes)
                ],
            )
            .filter(F.length("metric_name") > 0)
        )
        flipped = transpose(metrics, "metric_name", classes).withColumnRenamed(
            "metric", "Class"
        )
        flipped = flipped.withColumn("Tipo", F.lit(tipo))
        out = flipped if out is None else out.unionByName(flipped)

    stamp = F.lit(clock).cast("timestamp") if clock else F.current_timestamp()
    return out.withColumn("DATERELEASE", F.lit(daterelease)).withColumn(
        "actualizacion", stamp
    )
