"""The Python worker daemon (adhesive_spark/pyworker.py): the skip rule and
the column-at-a-time argument conversion in plain Python, then the daemon in
the shared session."""

import datetime
import decimal
import importlib
import io
import sys
import uuid
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.serializers import ArrowBatchUDFSerializer
from pyspark.sql.pandas.types import to_arrow_type

from adhesive_spark.functions.typemap import _SIMPLE, sql_type_to_spark
from adhesive_spark.pyworker import (
    convert_by_column,
    freeze_archives,
    load_stream,
    py_values,
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_launch_archives_skip_reread_later_zips_do_not(tmp_path, monkeypatch):
    # restores the stock method (and sys.path) when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(sys, "path", list(sys.path))
    tag = uuid.uuid4().hex[:8]
    early, late, fresh = (f"pw_{k}_{tag}" for k in ("early", "late", "fresh"))
    launch_zip, late_zip = str(tmp_path / "launch.zip"), str(tmp_path / "late.zip")
    _write_zip(launch_zip, {early: "V = 1\n"})
    sys.path.append(launch_zip)
    assert importlib.import_module(early).V == 1
    assert freeze_archives(sys.path) >= {launch_zip}

    launch_imp = sys.path_importer_cache[launch_zip]
    launch_files = launch_imp._files
    _write_zip(late_zip, {late: "V = 1\n"})
    sys.path.append(late_zip)
    try:
        assert importlib.import_module(late).V == 1
        late_imp = sys.path_importer_cache[late_zip]
        late_files = late_imp._files

        # replace the late zip's contents, as a re-shipped addPyFile would
        _write_zip(late_zip, {late: "V = 2\n", fresh: "V = 3\n"})
        importlib.invalidate_caches()

        assert launch_imp._files is launch_files  # not re-read
        assert late_imp._files is not late_files  # re-read
        del sys.modules[late]
        assert importlib.import_module(late).V == 2
        assert importlib.import_module(fresh).V == 3
    finally:
        for name in (early, late, fresh):
            sys.modules.pop(name, None)
        for p in (launch_zip, late_zip):
            sys.path_importer_cache.pop(p, None)
            zipimport._zip_directory_cache.pop(p, None)


def test_python_body_imports_module_from_add_py_file(sess, tmp_path):
    """A zip shipped with addPyFile is importable from a LANGUAGE PYTHON
    body: tasks put it on sys.path after the daemon launched, so the
    per-task invalidation still reaches it."""
    name = f"pw_shipped_{uuid.uuid4().hex[:8]}"
    shipped = tmp_path / f"{name}.zip"
    _write_zip(shipped, {name: "OFFSET = 1000\n"})
    sess.spark.sparkContext.addPyFile(str(shipped))
    sess.sql(
        "CREATE OR REPLACE FUNCTION pw_shipped(BIGINT) RETURNS BIGINT "
        f"LANGUAGE PYTHON AS 'import {name}\nreturn {name}.OFFSET + arg0'"
    )
    rows = sess.sql(
        "SELECT pw_shipped(id) AS v FROM range(0, 4, 1, 2) ORDER BY v"
    ).collect()
    assert [r.v for r in rows] == [1000, 1001, 1002, 1003]


def test_workers_run_under_repo_daemon(sess):
    """A silent return to Spark's stock daemon fails here."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION pw_daemon(BIGINT) RETURNS STRING "
        "LANGUAGE PYTHON AS 'import sys\n"
        "return sys.modules[\"__main__\"].__spec__.name'"
    )
    rows = sess.sql("SELECT pw_daemon(id) AS m FROM range(0, 8, 1, 4)").collect()
    assert {r.m for r in rows} == {"adhesive_spark.pyworker"}
    sess.sql(
        "CREATE OR REPLACE FUNCTION pw_loader(BIGINT) RETURNS STRING "
        "LANGUAGE PYTHON AS 'from pyspark.sql.pandas.serializers import "
        "ArrowBatchUDFSerializer as S\n"
        "return S.load_stream.__module__'"
    )
    rows = sess.sql("SELECT pw_loader(id) AS m FROM range(0, 8, 1, 4)").collect()
    assert {r.m for r in rows} == {"adhesive_spark.pyworker"}


# --- column-at-a-time argument conversion -----------------------------------


def _typed(values):
    """Values with their types: ``-0.0``/``0.0``, NaN/None and 1/1.0/True
    all differ here."""
    return [(type(v), repr(v)) for v in values]


_INT_RANGES = {
    pa.int8(): 2**7,
    pa.int16(): 2**15,
    pa.int32(): 2**31,
    pa.int64(): 2**63,
}
_FAST_VALUES = {
    **{t: st.integers(-r, r - 1) for t, r in _INT_RANGES.items()},
    pa.float32(): st.floats(width=32),
    pa.float64(): st.floats(),
    pa.bool_(): st.booleans(),
    pa.string(): st.text(),
    pa.large_string(): st.text(),
}


@st.composite
def _fast_columns(draw):
    t = draw(st.sampled_from(list(_FAST_VALUES)))
    values = draw(st.lists(st.none() | _FAST_VALUES[t], max_size=40))
    column = pa.array(values, type=t)
    offset = draw(st.integers(0, len(values)))
    length = draw(st.integers(0, len(values) - offset))
    return column.slice(offset, length)


@settings(max_examples=400, deadline=None)
@given(_fast_columns())
def test_py_values_equals_to_pylist(column):
    assert _typed(py_values(column)) == _typed(column.to_pylist())


_EDGES = {
    pa.int64(): [-(2**63), 2**63 - 1, 2**53 + 1, -(2**53) - 1, 0, 7],
    pa.int8(): [-128, 127, 0, -1, 1, 5],
    pa.int32(): [-(2**31), 2**31 - 1, 0, -1, 1, 5],
    pa.float64(): [
        float("nan"), -0.0, 0.0, float("inf"), float("-inf"), 5e-324,
    ],
    pa.float32(): [float("nan"), -0.0, 0.0, float("inf"), float("-inf"), 1e-45],
    pa.bool_(): [True, False, True, False, True, False],
    pa.string(): ["", "é漢字", "\x00", "a" * 100, "x", "🙂"],
    pa.large_string(): ["", "é漢字", "\x00", "a" * 100, "x", "🙂"],
}
_NULLS = {
    "none": lambda v: v,
    "first": lambda v: [None] + v[1:],
    "last": lambda v: v[:-1] + [None],
    "all": lambda v: [None] * len(v),
    "alternate": lambda v: [None if i % 2 else x for i, x in enumerate(v)],
}


@pytest.mark.parametrize("nulls", list(_NULLS))
@pytest.mark.parametrize("t", list(_EDGES), ids=str)
def test_py_values_edges(t, nulls):
    column = pa.array(_NULLS[nulls](_EDGES[t]), type=t)
    for part in (column, column.slice(1), column.slice(2, 3), column.slice(6)):
        assert _typed(py_values(part)) == _typed(part.to_pylist())
    assert py_values(pa.array([], type=t)) == []


class _OnlyToPylist:
    """A column whose only usable method is ``to_pylist``."""

    def __init__(self, type_):
        self.type = type_

    def to_pylist(self):
        return "to_pylist"


@pytest.mark.parametrize(
    "column",
    [
        pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2)),
        pa.array([datetime.date(2024, 2, 29), None], pa.date32()),
        pa.array([datetime.datetime(2024, 1, 1), None], pa.timestamp("us", "UTC")),
        pa.array([b"\x00\xff", None], pa.binary()),
        pa.array([[1, None], None], pa.list_(pa.int64())),
        pa.array([{"a": 1}, None], pa.struct([("a", pa.int64())])),
        pa.array([[("k", 1.0)], None], pa.map_(pa.string(), pa.float64())),
        pa.array([None, None], pa.null()),
        pa.array(np.array([1.5, 0.0], np.float16), mask=np.array([False, True])),
        pa.array([1, None], pa.uint64()),
    ],
    ids=lambda c: str(c.type),
)
def test_py_values_other_types_use_to_pylist(column):
    assert py_values(_OnlyToPylist(column.type)) == "to_pylist"
    assert _typed(py_values(column)) == _typed(column.to_pylist())


_UTC = datetime.timezone.utc
#: six rows per type; the differential test's first batch, reversed for the second
_SAMPLES = {
    "bigint": [None, -(2**63), 2**63 - 1, 2**53 + 1, 0, -7],
    "int": [-(2**31), None, 2**31 - 1, 0, 1, -1],
    "smallint": [-(2**15), 2**15 - 1, None, 0, 5, -5],
    "tinyint": [-128, 127, 0, None, 1, -1],
    "float": [float("nan"), -0.0, float("inf"), 1e-45, None, 1.5],
    "double": [float("nan"), -0.0, float("-inf"), 5e-324, 0.1, None],
    "string": [None, "", "é漢字", "\x00", "a", "🙂"],
    "boolean": [True, None, False, True, False, True],
    "date": [
        datetime.date(1970, 1, 1), datetime.date(2024, 2, 29), None,
        datetime.date(1, 1, 1), datetime.date(9999, 12, 31), datetime.date(2000, 1, 1),
    ],
    "timestamp": [
        datetime.datetime(2024, 1, 1, 12, 30, tzinfo=_UTC), None,
        datetime.datetime(1970, 1, 1, tzinfo=_UTC),
        datetime.datetime(1900, 6, 1, 0, 0, 0, 1, tzinfo=_UTC),
        datetime.datetime(2262, 4, 11, tzinfo=_UTC), datetime.datetime(2000, 2, 29, tzinfo=_UTC),
    ],
    "binary": [b"", b"\x00\xff", None, b"abc", b"x", b"y"],
    "decimal(12,2)": [
        decimal.Decimal("1.25"), None, decimal.Decimal("-9999999999.99"),
        decimal.Decimal("0.00"), decimal.Decimal("0.01"), decimal.Decimal("7"),
    ],
    "array<bigint>": [[1, None], None, [], [2**63 - 1], [0], [-1, -2]],
    "map<string,double>": [[("a", 1.0)], None, [], [("b", None)], [("c", -0.0)], [("d", 2.5)]],
}
_EXTRA_TYPES = ["DECIMAL(12,2)", "ARRAY<BIGINT>", "MAP<STRING,DOUBLE>"]


def _ipc(batches):
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, batches[0].schema) as writer:
        for batch in batches:
            writer.write_batch(batch)
    return sink.getvalue()


def test_load_stream_matches_stock(monkeypatch):
    """The copy in pyworker returns what PySpark's own method returns, on
    every factory type: a PySpark upgrade that changes the stock method
    fails here rather than being overridden unseen."""
    stock = ArrowBatchUDFSerializer.load_stream
    assert stock.__module__ == "pyspark.sql.pandas.serializers"
    monkeypatch.setattr(ArrowBatchUDFSerializer, "load_stream", stock)
    convert_by_column()
    assert ArrowBatchUDFSerializer.load_stream is load_stream

    types = {t.simpleString(): t for t in map(sql_type_to_spark, [*_SIMPLE, *_EXTRA_TYPES])}
    assert set(types) == set(_SAMPLES)
    schema = pa.schema([(f"_{i}", to_arrow_type(t)) for i, t in enumerate(types.values())])

    def batch(rows):
        return pa.RecordBatch.from_arrays(
            [pa.array(rows(_SAMPLES[n]), f.type) for n, f in zip(types, schema)], schema=schema
        )

    streams = {
        "typed": (
            list(types.values()),
            _ipc([batch(list), batch(lambda v: v[::-1]), batch(lambda v: [])]),
        ),
        "zero columns": (
            [],
            _ipc([pa.RecordBatch.from_struct_array(pa.array([{}] * 3, pa.struct([])))]),
        ),
    }
    for binary_as_bytes in (True, False):
        for name, (input_types, data) in streams.items():
            ser = ArrowBatchUDFSerializer("UTC", True, input_types, False, binary_as_bytes)
            want = list(stock(ser, io.BytesIO(data)))
            got = list(ser.load_stream(io.BytesIO(data)))
            assert len(got) == len(want) == (3 if input_types else 1), name
            for g, w in zip(got, want):
                assert [_typed(c) for c in g] == [_typed(c) for c in w], name


def test_python_arguments_keep_nulls_and_extremes(sess):
    """12 000 rows in one task cross ``maxRecordsPerBatch`` (10 000), so the
    worker converts two Arrow batches; every argument comes back as its
    type name and repr, which tells NaN from NULL, float from int and 0
    from NULL."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION pw_types(BIGINT, DOUBLE, BOOLEAN, STRING) "
        "RETURNS STRING LANGUAGE PYTHON AS "
        "'return \"|\".join(\"%s:%r\" % (type(a).__name__, a) "
        "for a in (arg0, arg1, arg2, arg3))'"
    )
    rows = sess.sql(
        "SELECT id, pw_types(b, d, f, s) AS t FROM (SELECT id,"
        " CASE WHEN id % 997 = 5 THEN NULL"
        "  WHEN id = 1 THEN CAST('-9223372036854775808' AS BIGINT)"
        "  WHEN id = 2 THEN CAST('9223372036854775807' AS BIGINT)"
        "  ELSE id * 1000000000007 END AS b,"
        " CASE WHEN id % 997 = 6 THEN NULL"
        "  WHEN id = 3 THEN CAST('NaN' AS DOUBLE)"
        "  ELSE CAST(id AS DOUBLE) / 8 END AS d,"
        " CASE WHEN id % 997 = 7 THEN NULL ELSE id % 2 = 0 END AS f,"
        " CASE WHEN id % 997 = 8 THEN NULL ELSE concat('s', CAST(id AS STRING)) END AS s"
        " FROM range(0, 12000, 1, 1))"
    ).collect()

    def expected(i):
        b = {1: -(2**63), 2: 2**63 - 1}.get(i, i * 1000000000007)
        d = float("nan") if i == 3 else i / 8
        args = [
            None if i % 997 == 5 else b,
            None if i % 997 == 6 else d,
            None if i % 997 == 7 else i % 2 == 0,
            None if i % 997 == 8 else f"s{i}",
        ]
        return "|".join("%s:%r" % (type(a).__name__, a) for a in args)

    got = {r.id: r.t for r in rows}
    assert len(got) == 12000
    assert got[10975] == "int:%d|float:1371.875|bool:False|NoneType:None" % (10975 * 1000000000007)
    assert got[1] == "int:-9223372036854775808|float:0.125|bool:False|str:'s1'"
    assert got[3].startswith("int:3000000000021|float:nan|")
    assert {i: got[i] for i in range(12000) if got[i] != expected(i)} == {}
