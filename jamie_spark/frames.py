"""Driver-built tables as local relations: every small table the library
builds on the driver (the canonical map, lineage rows, seed and key lists)
goes through :func:`local_frame`."""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def local_frame(
    spark: "SparkSession", rows: Iterable[Sequence], ddl: str
) -> "DataFrame":
    """Tuples in ``ddl`` column order -> a ``LocalRelation`` frame.

    ``spark.createDataFrame(list)`` in classic PySpark pickles the rows into
    ``sc.parallelize`` and rebuilds them with ``applySchemaToPythonRDD``: the
    plan is a ``Scan ExistingRDD`` over a Python RDD, so every evaluation of
    the frame (each collect, each broadcast build, each re-planned consumer)
    runs ``defaultParallelism`` Python worker tasks to unpickle a few rows.
    An Arrow table is streamed to the JVM once and planned as a
    ``LocalTableScan``, which the JVM evaluates and broadcasts with no
    Python task at all.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
