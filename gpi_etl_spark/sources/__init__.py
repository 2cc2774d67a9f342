"""Source connectors.

``fixed_width`` is a genuinely distributed scan (spark.read.text +
substring projections), and ``excel_lake`` distributes the native
``xls``/``xlsx`` parsers over a whole lake of workbook payloads via
``mapInPandas`` / the ``binaryFile`` source. The HTTP/Excel/HTML/JSON/
Places connectors are driver-side by nature (SURVEY.md §2.1): they
fetch small external payloads and hand Spark a DataFrame; each takes an
injectable ``fetch`` callable so tests replay recorded fixtures with no
network.

Their contract is fetch → parse → ``local.local_frame``: the parsed
rows go to Spark as one typed Arrow table, which Spark holds as a JVM
``LocalRelation`` while it is under
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) and
parallelizes in the JVM above it. No action on such a frame starts a
Python-worker task, and a ``collect()`` of it launches no Spark job.
``connectors.json_api`` is the exception: it keeps
``createDataFrame(list)`` for PySpark's schema inference.
"""
