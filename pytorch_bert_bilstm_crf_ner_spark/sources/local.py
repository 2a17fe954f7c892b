"""Driver-resident rows as a Spark DataFrame without a Python RDD.

``spark.createDataFrame`` over a Python list pickles the rows into a
``PythonRDD`` that Spark plans as ``Scan ExistingRDD``: every scan of the
frame runs ``defaultParallelism`` Python tasks (in a second worker-daemon
pool next to the UDF one) just to unpickle rows the driver already holds.
Built from a ``pyarrow.Table`` instead, the frame goes through
``PythonSQLUtils.toDataFrame`` and is a JVM ``LocalRelation``: decoded
without any Python worker, and sized for the optimizer (broadcast
decisions, AQE).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: StructType | str) -> DataFrame:
    """Rows (tuples in ``schema`` field order) -> a ``LocalRelation``
    frame of exactly ``schema``: column types and nullability come from
    the declared schema, never from the values, so an empty ``rows`` keeps
    its types (Arrow would otherwise infer ``null``).  ``schema`` is a
    ``StructType`` or a DDL string such as ``"id bigint, component
    bigint"``."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
