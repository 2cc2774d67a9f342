"""Driver-side rows → a DataFrame that runs no Python worker."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Rows held on the driver → a DataFrame with exactly ``schema``
    (a ``StructType`` or a DDL string), built from a typed
    ``pyarrow.Table``: one ``pa.array(column, type=...)`` per field.

    ``spark.createDataFrame(list)`` plans a PythonRDD, so every action
    on its frame starts one Python-worker task per
    ``defaultParallelism`` slice. An Arrow table whose batches are under
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) becomes a JVM ``LocalRelation`` instead: a ``collect()``
    of it launches no job, and no plan over it starts a Python worker.
    Above the threshold the JVM parallelizes the Arrow batches itself,
    still with no Python worker.

    Arrow, not PySpark's row verifier, converts the values: a value
    its field's type cannot hold (an int32 overflow, a ``str`` in a
    numeric field) raises, as does a row whose width is not the
    schema's. Meant for the flat atomic schemas the connectors emit;
    Arrow reads a naive ``datetime`` as UTC where the list path reads
    it as local time, so pass timestamps tz-aware.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row must have the schema's {width} fields")
    columns = list(zip(*rows)) or [()] * width
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
