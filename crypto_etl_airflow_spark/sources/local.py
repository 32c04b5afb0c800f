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
from datetime import timezone

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
    arrays = []
    for col, field in zip(columns, arrow):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            # a collected TimestampType value is a naive datetime in the
            # host's local time (what createDataFrame(list) assumes);
            # Arrow reads a naive value as UTC wall clock
            col = [
                None if v is None
                else v.astimezone(timezone.utc).replace(tzinfo=None)
                for v in col
            ]
        arrays.append(pa.array(col, type=field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)
