"""Driver-built rows as a local relation.

``spark.createDataFrame(<python list>)`` goes through
``sc.parallelize`` plus a Python ``map`` (``RDD._reserialize``), so
the frame is a PythonRDD: its plan reads ``Scan ExistingRDD`` and
EVERY action over it starts Python worker processes to replay the
pickled rows. Handing the same rows over as a ``pyarrow.Table``
instead makes the frame a ``LocalRelation`` held in the driver JVM
(plan: ``LocalTableScan``): actions over it run JVM-only, and Catalyst
can fold projections and filters straight into it.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a DataFrame over
    a driver-local relation. ``schema`` is a DDL string or a
    StructType; no type is inferred."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
