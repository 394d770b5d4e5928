"""Frames built from driver-side rows.

``spark.createDataFrame(<python list>, schema)`` in classic PySpark ships
the rows through a PythonRDD that is re-serialized by a Python worker: every
job that scans the frame runs one Python-worker task per default partition
(~0.8 s for the one-row ``wave_metrics`` frame), and the optimizer cannot
see the rows.  A ``pyarrow.Table`` goes to the JVM as Arrow batches and,
below ``spark.sql.execution.arrow.localRelationThreshold``, becomes a
``LocalRelation``: projections over it fold at planning time, an empty one
propagates through joins and projections as ``LocalTableScan <empty>``, and
a scan runs in the JVM with no Python.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` column order, possibly none) as an
    Arrow-backed ``LocalRelation`` under the DDL ``schema``, in one
    partition.

    A k-row ``LocalRelation`` scans as min(k, cores) partitions; the frame
    is coalesced to one, so a table committed from it is one parquet file
    and the plans above it see a single partition.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, struct).coalesce(1)
