"""Driver-built tables (:func:`local_frame`) and pinned intermediates: a
pin made by :func:`materialize` is released by the :class:`scope` it was
made in. A function returning a materialized frame opens its own scope and
``keep``s it; one returning a lazy frame leaves its pins to the caller's.
Outside any scope a pin lives until the ContextCleaner frees it on JVM GC."""

from __future__ import annotations

import threading
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


#: per driver thread, the open scopes, innermost last
_open = threading.local()


def _scopes() -> list["scope"]:
    return _open.__dict__.setdefault("stack", [])


def materialize(df: "DataFrame") -> "DataFrame":
    """``df`` computed now (one Spark job) and pinned as a local checkpoint,
    held by this thread's innermost open :class:`scope`."""
    out = df.localCheckpoint(eager=True)
    if _scopes():
        _scopes()[-1]._held.append(out)
    return out


class scope:
    """On exit, errors included, unpins (blocking) every frame materialized
    inside it and every frame given to the constructor. A released frame
    fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` when read."""

    def __init__(self, *held: "DataFrame") -> None:
        self._held = list(held)

    def __enter__(self) -> "scope":
        _scopes().append(self)
        return self

    def __exit__(self, *exc) -> None:
        _scopes().pop()
        for df in self._held:
            df._jdf.queryExecution().logical().rdd().unpersist(True)

    def keep(self, df: "DataFrame") -> "DataFrame":
        """Hand ``df``, materialized in this scope (else ``ValueError``), on
        to the enclosing scope, or outside any to the ContextCleaner."""
        self._held.remove(df)
        i = _scopes().index(self)
        if i:
            _scopes()[i - 1]._held.append(df)
        return df
