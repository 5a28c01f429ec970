"""Python worker daemon: PySpark's stock daemon with two changes for the
worker processes it forks.

1. **No per-task re-read of Spark's own zip archives.**  PySpark's worker
   calls ``importlib.invalidate_caches()`` at the start of every task
   (``pyspark.worker_util.setup_spark_files``) so that zips shipped with
   ``addPyFile`` become importable.  Under CPython 3.11 that makes every
   ``zipimporter`` re-read its whole archive directory: ``pyspark.zip``,
   the py4j zip and the spark-core jar, about 0.15-0.2 s per task.  Those
   archives sit on ``sys.path`` when the daemon starts and never change
   while it lives, so their importers skip the re-read; every other
   finder, including zips added per task, is invalidated as before.

2. **Column-at-a-time argument conversion.**  Row-at-a-time Arrow UDFs
   (``SQL_ARROW_BATCHED_UDF``, what ``F.udf(..., useArrow=True)`` and the
   factory's PYTHON, MODULE and STRICT scalar bodies run as) get their
   arguments from ``ArrowBatchUDFSerializer.load_stream``
   (``pyspark/sql/pandas/serializers.py:881-910`` in PySpark 4.1.2), which
   calls ``pyarrow.Array.to_pylist()`` on each column at about 0.4 us a
   value.  ``load_stream`` below is a copy of that method that converts
   the columns PySpark passes through unconverted with :func:`py_values`:
   the same Python objects, built a column at a time through numpy.
   Columns PySpark converts itself (decimal, date, timestamp, binary,
   arrays, maps, structs) take its own path, unchanged.

``build_spark`` makes this the ``spark.python.daemon.module`` for local
masters; cluster masters keep Spark's stock daemon, so neither change
applies there.  Run as ``python -m adhesive_spark.pyworker pyspark.worker``.
"""

from __future__ import annotations

import sys
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches


def freeze_archives(paths: list[str]) -> frozenset[str]:
    """Stop ``invalidate_caches`` from re-reading the ``.zip``/``.jar``
    archives among ``paths``; returns the archives it froze."""
    frozen = frozenset(p for p in paths if p.endswith((".zip", ".jar")))

    def invalidate_caches(self):
        if self.archive not in frozen:
            _invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return frozen


def py_values(column) -> list:
    """``column.to_pylist()``, built a column at a time where that is exact.

    Signed integers, float32/float64 and bool go through
    ``to_numpy().tolist()``, which yields the same ``int``/``float``/``bool``
    objects; nulls are filled first (``to_numpy`` would turn an int column
    with nulls into float64, lossy above 2**53) and written back as
    ``None``.  Strings come out of ``to_numpy`` with ``None`` for nulls
    already.  Every other type keeps ``to_pylist()``.
    """
    # imported here so the daemon loads nothing new before it forks
    import numpy as np
    import pyarrow as pa

    t = column.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return column.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_boolean(t):
        fill = False
    elif pa.types.is_signed_integer(t) or pa.types.is_float32(t) or pa.types.is_float64(t):
        fill = 0
    else:
        return column.to_pylist()
    if not column.null_count:
        return column.to_numpy(zero_copy_only=False).tolist()
    values = column.fill_null(fill).to_numpy(zero_copy_only=False).tolist()
    for i in np.flatnonzero(column.is_null().to_numpy(zero_copy_only=False)).tolist():
        values[i] = None
    return values


def load_stream(self, stream):
    """``ArrowBatchUDFSerializer.load_stream`` of PySpark 4.1.2 with
    :func:`py_values` where the stock method calls a bare ``to_pylist()``."""
    import pyspark
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.serializers import ArrowBatchUDFSerializer

    converters = [
        ArrowTableToRowsConversion._create_converter(
            dt, none_on_identity=True, binary_as_bytes=self._binary_as_bytes
        )
        for dt in self._input_types
    ]

    for batch in super(ArrowBatchUDFSerializer, self).load_stream(stream):
        columns = [
            [conv(v) for v in column.to_pylist()] if conv is not None else py_values(column)
            for column, conv in zip(batch.itercolumns(), converters)
        ]
        if len(columns) == 0:
            yield [[pyspark._NoValue] * batch.num_rows]
        else:
            yield columns


def convert_by_column() -> None:
    """Make :func:`load_stream` the ``ArrowBatchUDFSerializer``'s."""
    from pyspark.sql.pandas.serializers import ArrowBatchUDFSerializer

    ArrowBatchUDFSerializer.load_stream = load_stream


if __name__ == "__main__":
    # the importable module's copies, so the methods they install name it
    from adhesive_spark.pyworker import convert_by_column, freeze_archives

    freeze_archives(sys.path)
    convert_by_column()
    from pyspark.daemon import manager

    manager()
