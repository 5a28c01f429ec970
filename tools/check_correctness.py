"""Local emulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given scale factor; compare row count, column names, and
order-insensitive values (exact, like a value hash would).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
(``--help`` prints the arguments). Each query prints one line that
starts with ``OK``, ``FAIL`` or ``ROWS`` and ends with the seconds each
engine took, e.g. ``[spark 10.1s, oracle 108.0s]``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

from pathlib import Path

# repo root, CWD-independent: the tool must behave the same when invoked
# from anywhere (the driver may not run from the repo root)
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from adhesive_spark.session import build_spark  # noqa: E402
from adhesive_spark.sources.registry import TABLES  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def dtype_kind(col: pd.Series) -> str:
    """Coarse dtype kind, used to reproduce the driver's TYPE-SENSITIVE value
    hash.  The round-2 driver failures (q32/q48) were int64-vs-HUGEINT typing
    artifacts that the old checker canonicalized away by casting every integer
    column to float64; comparing kinds strictly makes the local gate at least
    as strict as the driver's."""
    if pd.api.types.is_bool_dtype(col):
        return "bool"
    if pd.api.types.is_integer_dtype(col):
        return "int"
    if pd.api.types.is_float_dtype(col):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(col):
        return "datetime"
    # object columns: inspect the first non-null value
    vals = col.dropna()
    if len(vals) == 0:
        return "empty"
    v = vals.iloc[0]
    import decimal

    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "array"
    # bool BEFORE int: Python bool subclasses int, and a nullable boolean
    # column surfaces as object dtype of {True, False, None}
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, float):
        return "float"
    return type(v).__name__


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("int64")
        elif col.dtype == object:
            df[c] = col.astype(str)
        elif pd.api.types.is_integer_dtype(col) or pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("float64")  # unify int32/int64/nullable
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    # Type strictness BEFORE canonicalization: the driver's value hash is
    # type-sensitive (int64 6047 != float64 6047.0), so a kind mismatch is a
    # failure even when every value is numerically equal.
    for c in sorted(sdf.columns):
        ks, ko = dtype_kind(sdf[c]), dtype_kind(odf[c])
        # DRIVER-FAITHFUL hard fail on complex-typed cells: the driver's
        # canonicalizer sorts raw values and crashes on lists/dicts/bytes
        # (pandas `unhashable type: 'list'` — the r6 q141/q149 ERR class).
        # The old checker stringified object columns before sorting, which
        # made it structurally blind to exactly this hazard.
        for side, kind in (("spark", ks), ("oracle", ko)):
            if kind in ("array", "bytes", "dict") or kind in (
                "ndarray", "list", "tuple", "dict", "bytearray",
            ):
                problems.append(
                    f"col {c}: {side} emits complex-typed cells ({kind}) — "
                    "the DRIVER CANONICALIZER CRASHES on these; flatten to "
                    "a string (array_join / array_to_string)"
                )
        if "empty" in (ks, ko):
            continue
        if ks != ko:
            problems.append(
                f"col {c}: dtype-kind mismatch spark={ks}({sdf[c].dtype}) "
                f"oracle={ko}({odf[c].dtype}) — driver hash WILL differ"
            )
    if problems:
        return problems
    s, o = canon(sdf), canon(odf)
    if len(s) != len(o):
        return problems
    for c in s.columns:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = (a.isna() & b.isna()) | np.isclose(
                a.fillna(0), b.fillna(0), rtol=0, atol=0, equal_nan=True
            )
            if not eq.all():
                bad = (~eq).idxmax()
                maxd = float(np.nanmax(np.abs(a - b)))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, max|diff|={maxd:.3g} "
                    f"e.g. {a[bad]} vs {b[bad]}"
                )
        else:
            eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                bad = (~eq).idxmax()
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches e.g. {a[bad]!r} vs {b[bad]!r}"
                )
    return problems


def main() -> int:
    parser = argparse.ArgumentParser(
        description="Check registered queries against their DuckDB oracles."
    )
    parser.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="scale-factor directory holding the <table>.parquet files",
    )
    parser.add_argument(
        "queries", nargs="*", help="query names to check (default: all)"
    )
    args = parser.parse_args()
    sf_dir, only = args.sf_dir, set(args.queries)
    if not os.path.isdir(sf_dir):
        parser.error(f"no scale-factor directory at {sf_dir}")
    qs = entry_mod.queries()
    if only - set(qs):
        parser.error(f"no registered query named {sorted(only - set(qs))}")
    # no console progress bars: they share stdout with the result lines
    spark = build_spark(
        app_name="correctness-check",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry_mod.oracle_sql()
    n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]} "
                  f"[spark {time.time()-t0:.1f}s]")
            n_bad += 1
            continue
        spark_s = f"spark {time.time()-t0:.1f}s"
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{spark_s}]")
            continue
        t1 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e)[:300]} "
                  f"[{spark_s}, oracle {time.time()-t1:.1f}s]")
            n_bad += 1
            continue
        times = f"[{spark_s}, oracle {time.time()-t1:.1f}s]"
        problems = compare(name, sdf, odf)
        if problems:
            n_bad += 1
            print(f"FAIL  {name}: " + "; ".join(problems) + f" {times}")
        else:
            print(f"OK    {name}: {len(sdf)} rows {times}")
    print(f"\n{'ALL OK' if n_bad == 0 else f'{n_bad} FAILURES'}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
