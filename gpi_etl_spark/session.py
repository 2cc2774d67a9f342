"""SparkSession factory tuned for correctness-vs-oracle and local bench.

The reference executes eagerly on one pandas thread (SURVEY.md §4); this
engine is lazy/distributed, so the session pins everything that could
make results drift from the DuckDB oracle (timezone, ANSI mode) and
enables the adaptive machinery that matters at 100 TB (AQE, skew join,
partition coalescing).

It also turns off PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``F.*``/Column call pays several py4j round trips (active
session, conf lookup, origin set and clear), a Python stack walk and a
failing ``import IPython``; the operators here build plans from
hundreds of such calls per query, so the capture roughly doubles the
driver's py4j traffic. The trade-off: an analysis or runtime error raised in a
``get_spark`` session no longer names the Python file:line that built
the failing expression (the message and the JVM stack are unchanged).
Sessions the caller builds itself (the vanilla driver session) do not
get the setting. PySpark reads it once per Python process, at the
first Column call, so the session active then decides for the whole
process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gpi_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    Defaults follow env so the driver/bench can steer without code
    changes: ``SPARK_GRAFT_CPUS`` sets local parallelism, and shuffle
    partitions default to that same number (local mode: one JVM, so 200
    default partitions would just add scheduling overhead; on a real
    cluster callers pass an explicit value sized to input volume).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nshuffle = str(shuffle_partitions or cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- determinism vs the DuckDB oracle --------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS), which the
        # parquet reader rejects by default; reading nanos as long up
        # front (queries.t converts to µs timestamps) avoids a
        # deliberately-failed probe job per session
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- adaptive execution: runtime re-plan, skew handling --------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing -------------------------------------------
        .config("spark.sql.shuffle.partitions", nshuffle)
        # -- Arrow for every pandas/Spark boundary (UDFs, toPandas) ----
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- quieter local runs ---------------------------------------
        .config("spark.ui.enabled", "false")
        # -- no per-Column call-site capture (see module docstring) ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

