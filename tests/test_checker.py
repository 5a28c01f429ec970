"""Regression tests for the local correctness checker's type strictness.

The round-2 driver gate failed q32/q48 on an int64-vs-HUGEINT typing
artifact that the old ``tools/check_correctness.py`` canonicalized away
(it cast every integer column to float64 before comparing).  These tests
pin the fixed behavior: the checker must reproduce the driver's
type-sensitive hash semantics and FAIL on a dtype-kind mismatch even when
every value is numerically equal.  No Spark session needed — pure pandas.
"""

from __future__ import annotations

import decimal
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from check_correctness import compare, dtype_kind  # noqa: E402


def test_hugeint_artifact_is_caught():
    # Exactly the old q48 shape: Spark returns int64, DuckDB SUM(BIGINT)
    # surfaces as float64 (HUGEINT through pandas).  Values identical.
    sdf = pd.DataFrame({"k": ["a", "b"], "sum_user_events": pd.array([6047, 12], "int64")})
    odf = pd.DataFrame({"k": ["a", "b"], "sum_user_events": pd.array([6047.0, 12.0], "float64")})
    problems = compare("q48_regression", sdf, odf)
    assert any("dtype-kind mismatch" in p for p in problems), problems


def test_matching_int_kinds_pass():
    sdf = pd.DataFrame({"k": ["a"], "n": pd.array([7], "int64")})
    odf = pd.DataFrame({"k": ["a"], "n": pd.array([7], "int32")})  # width differs, kind same
    assert compare("ok_int", sdf, odf) == []


def test_decimal_vs_float_is_caught():
    sdf = pd.DataFrame({"v": pd.array([1.5], "float64")})
    odf = pd.DataFrame({"v": [decimal.Decimal("1.5")]})
    problems = compare("decimal_drift", sdf, odf)
    assert any("dtype-kind mismatch" in p for p in problems), problems


def test_value_mismatch_still_caught_after_kind_check():
    sdf = pd.DataFrame({"n": pd.array([1, 2], "int64")})
    odf = pd.DataFrame({"n": pd.array([1, 3], "int64")})
    problems = compare("bad_values", sdf, odf)
    assert problems and "mismatch" in problems[0]


def test_dtype_kind_classification():
    assert dtype_kind(pd.Series([1, 2], dtype="int64")) == "int"
    assert dtype_kind(pd.Series([1.0], dtype="float64")) == "float"
    assert dtype_kind(pd.Series(["x"])) == "str"
    assert dtype_kind(pd.Series([True])) == "bool"
    assert dtype_kind(pd.Series([[1, 2]])) == "array"
    assert dtype_kind(pd.Series([decimal.Decimal("1")])) == "decimal"
    assert dtype_kind(pd.Series(pd.to_datetime(["2026-01-01"]))) == "datetime"


def test_nullable_bool_object_column_is_bool():
    # bool subclasses int: a {True, None} object column must classify as
    # bool, and must NOT mismatch against a non-null bool column
    sdf = pd.DataFrame({"ok": pd.Series([True, None], dtype="object")})
    odf = pd.DataFrame({"ok": pd.Series([True, False])})
    assert dtype_kind(sdf["ok"]) == "bool"
    problems = compare("bool_nullable", sdf, odf)
    assert not any("dtype-kind" in p for p in problems), problems


def test_oracle_and_query_registries_align():
    """Driver-contract completeness: every queries() entry must carry an
    oracle_sql() twin and vice versa — an orphan on either side would
    silently downgrade the driver's check (rows-only) or KeyError the
    local sweep."""
    import __spark_entry__ as entry_mod

    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert q == o, (
        f"queries without oracle: {sorted(q - o)}; "
        f"oracles without query: {sorted(o - q)}"
    )


def test_broken_query_module_import_is_loud(monkeypatch):
    """A query module that fails to import must fail queries(), not
    silently drop that module's queries from the registry."""
    import adhesive_spark.queries as pkg
    import __spark_entry__ as entry_mod

    name = "adhesive_spark.queries.estimator_queries"
    monkeypatch.setitem(sys.modules, name, None)
    monkeypatch.delattr(pkg, "estimator_queries", raising=False)
    with pytest.raises(ImportError):
        entry_mod.queries()


def test_name_registered_twice_is_loud(monkeypatch):
    """Two modules registering the same name must raise, not let the
    later module silently replace the earlier query."""
    from adhesive_spark.queries.relational import (
        RELATIONAL_ORACLES,
        RELATIONAL_QUERIES,
    )
    from adhesive_spark.queries.udf_queries import UDF_ORACLES, UDF_QUERIES

    import __spark_entry__ as entry_mod

    name = next(iter(RELATIONAL_QUERIES))
    monkeypatch.setitem(UDF_QUERIES, name, RELATIONAL_QUERIES[name])
    monkeypatch.setitem(UDF_ORACLES, name, RELATIONAL_ORACLES[name])
    with pytest.raises(ValueError, match="registered twice"):
        entry_mod.queries()


def test_query_without_oracle_is_loud(monkeypatch):
    """A query registered without its oracle must raise at registry
    time, not downgrade the correctness check to rows-only."""
    from adhesive_spark.queries.udf_queries import UDF_ORACLES

    import __spark_entry__ as entry_mod

    monkeypatch.delitem(UDF_ORACLES, next(iter(UDF_ORACLES)))
    with pytest.raises(ValueError, match="without oracle"):
        entry_mod.oracle_sql()


def test_complex_typed_cells_hard_fail_both_sides():
    """The r6 q141/q149 ERR class: list-typed cells crash the DRIVER's
    canonicalizer, so the local checker must hard-fail them on EITHER
    side even when both sides agree — matching kinds must not hide the
    protocol violation the way the old stringify-before-sort did."""
    arr = pd.DataFrame({"k": ["a"], "posting_head": [[1, 2, 3]]})
    problems = compare("arrays_both_sides", arr, arr.copy())
    assert any("DRIVER CANONICALIZER" in p for p in problems), problems
    # bytes and dict cells are the same hazard class
    blob = pd.DataFrame({"k": ["a"], "payload": [b"\x00\x01"]})
    assert any(
        "DRIVER CANONICALIZER" in p
        for p in compare("bytes_cells", blob, blob.copy())
    )
    mp = pd.DataFrame({"k": ["a"], "meta": [{"x": 1}]})
    assert any(
        "DRIVER CANONICALIZER" in p
        for p in compare("map_cells", mp, mp.copy())
    )


def test_stress_exec_modes_agree_and_pruning_is_flagged(request):
    """Standing measurement-honesty audit (r10 judge directive 7): the
    class of bug where ``.count()`` lets Catalyst prune the work recurs
    whenever a new reduction lands in the stress harness. Two checks,
    both deterministic (plan-based, not wall-clock — box noise made a
    timing tolerance meaningless at test scale):

    1. ``execute_timed`` returns identical rows_out from noop-mode and
       count-mode on the same ladder shape (the record agrees even
       where the timing would not);
    2. ``count_prunes`` FLAGS the known offender shape (the gopher
       lanes, 27× optimistic when counted in r10) and does NOT flag a
       count-honest shape (a bare filter, where count preserves the
       predicate)."""
    spark = request.getfixturevalue("spark")
    sf_dir = request.getfixturevalue("sf_dir")
    from stress import count_prunes, execute_timed  # tools/ on sys.path

    from adhesive_spark.queries.training_queries import (
        gopher_repetition_report,
    )
    from adhesive_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    shaped = gopher_repetition_report(docs)

    n_noop, _ = execute_timed(shaped, "noop")
    n_count, _ = execute_timed(shaped, "count")
    assert n_noop == n_count and n_noop > 0

    # the offender: counting the report prunes its lane expressions
    assert count_prunes(shaped), (
        "gopher shape no longer count-pruned — if genuinely fixed, "
        "update this pin; if the detector broke, fix count_prunes"
    )
    # a count-honest shape: the filter predicate must survive a count
    honest = docs.where(F.length("text") > 10)
    assert count_prunes(honest) == set()
