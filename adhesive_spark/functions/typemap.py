"""SQL type name ↔ Spark DataType mapping for the CREATE FUNCTION factory.

The reference supports only ``RETURNS BIGINT`` (src/fusion.rs:83-90 maps
Int64→"computeBigInt" and errors otherwise), with Int32/Float32/Float64
kernels present but unwired (java/.../Adhesive.java:126-199). We wire the
full matrix those kernels imply, plus the types Spark gives us for free.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from adhesive_spark.errors import UnsupportedTypeError

_SIMPLE: dict[str, T.DataType] = {
    "BIGINT": T.LongType(),
    "LONG": T.LongType(),
    "INT8": T.LongType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "INT4": T.IntegerType(),
    "SMALLINT": T.ShortType(),
    "TINYINT": T.ByteType(),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "DOUBLE PRECISION": T.DoubleType(),
    "VARCHAR": T.StringType(),
    "STRING": T.StringType(),
    "TEXT": T.StringType(),
    "CHAR": T.StringType(),
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
    "BINARY": T.BinaryType(),
    "BLOB": T.BinaryType(),
    "BYTEA": T.BinaryType(),
}

#: First word of every type name ``sql_type_to_spark`` accepts.  The DDL
#: parser uses it to tell a positional argument (``f(DOUBLE PRECISION)``)
#: from a named one (``f(x DOUBLE)``), reference tests/factory.rs:24.
TYPE_WORDS = frozenset(n.split()[0] for n in _SIMPLE) | {
    "DECIMAL", "NUMERIC", "ARRAY", "MAP",
}

_DECIMAL_RE = re.compile(r"^(?:DECIMAL|NUMERIC)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?$", re.I)
_ARRAY_RE = re.compile(r"^ARRAY\s*<(.+)>$", re.I | re.S)
_MAP_RE = re.compile(r"^MAP\s*<(.+),(.+)>$", re.I | re.S)


def sql_type_to_spark(name: str) -> T.DataType:
    """Map a SQL type name from the DDL to a Spark ``DataType``.

    Raises :class:`UnsupportedTypeError` for unknown names — the factory's
    analog of ``exec_err!("type not supported")`` (src/fusion.rs:89).
    """
    s = name.strip()
    upper = re.sub(r"\s+", " ", s.upper())
    if upper in _SIMPLE:
        return _SIMPLE[upper]
    m = _DECIMAL_RE.match(s)
    if m:
        prec = int(m.group(1) or 10)
        scale = int(m.group(2) or 0)
        return T.DecimalType(prec, scale)
    m = _ARRAY_RE.match(s)
    if m:
        return T.ArrayType(sql_type_to_spark(m.group(1)))
    m = _MAP_RE.match(s)
    if m:
        # Split on the top-level comma only (nested maps unsupported in DDL).
        return T.MapType(sql_type_to_spark(m.group(1)), sql_type_to_spark(m.group(2)))
    if upper.startswith("VARCHAR") or upper.startswith("CHAR"):
        return T.StringType()
    raise UnsupportedTypeError(f"type not supported: {name!r}")
