"""Driver-side results as Arrow-backed frames.

Some operators finish on the driver: fair quota filters a collected
candidate set, BPE training appends one merge per round. Their result
goes back to the caller as a DataFrame. ``createDataFrame(list)`` builds
that frame as a pickled Python RDD (``applySchemaToPythonRDD`` in PySpark
classic), so every action on it runs jobs that start Python workers: a
limited collect of a handful of rows took 2 jobs and 0.4–0.7 s. Built
from a ``pyarrow.Table`` it is a ``LocalTableScan``, which Spark reads on
the driver with no job (up to
``spark.sql.execution.arrow.localRelationThreshold`` bytes; a larger
table is parallelized as an RDD of Arrow batches instead).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; ``schema`` a
    StructType or a DDL string) as a LocalTableScan frame."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], schema=arrow)
    return spark.createDataFrame(table, schema)
