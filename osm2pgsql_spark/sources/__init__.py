"""OSM input readers.

The readers that parse in this Python process (OSM/OSC XML, OPL,
o5m/o5c) hand their rows to Spark through ``rows_frame``: one Arrow
table per frame, landed in the JVM as a ``LocalRelation``.  A frame
built with ``createDataFrame(list_of_tuples)`` instead keeps a
``PythonRDD`` in its lineage, so every later query reading it re-runs
Python worker tasks just to unpickle the same rows again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def rows_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """DataFrame with exactly ``schema`` (types and nullability) over
    ``rows`` parsed in this process (tuples in schema order; dicts for
    maps, tuples for structs, naive datetimes read as UTC)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
