"""Matched interleaved A/B harness (VERDICT r12 item 1).

The r12 box swings 3-10x on minute timescales from outside the guest,
so cross-window wall clocks cannot settle a suspected regression.  This
harness times two shapes of the same query INTERLEAVED in one session —
A B A B ... then B A B A ... (both orderings, so neither shape
systematically inherits the warmer JIT state) — and reports per-pair
deltas, which subtract the box noise that both members of a pair share.

Usage:
    python tools/ab_bench.py <spec.py> [sf_dir] [pairs]
    python tools/ab_bench.py --help

The spec module must define ``VARIANTS: dict[str, Callable[[spark,
sf_dir], DataFrame]]`` with exactly two entries; insertion order names
them A and B.  Results are timed through ``collect()`` (the bench.py
action) after one untimed warm-up of each shape.
Prints one JSON line per run plus a summary.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from adhesive_spark.session import build_spark  # noqa: E402


def main() -> None:
    parser = argparse.ArgumentParser(
        description="Time two variants of one query interleaved in one session."
    )
    parser.add_argument("spec", help="Python file defining VARIANTS (two entries)")
    parser.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.1", help="testdata dir"
    )
    parser.add_argument(
        "pairs", nargs="?", type=int, default=5, help="interleaved pairs"
    )
    args = parser.parse_args()
    spec_path, sf_dir, pairs = args.spec, args.sf_dir, args.pairs

    spec = importlib.util.spec_from_file_location("ab_spec", spec_path)
    if spec is None or not os.path.isfile(spec_path):
        parser.error(f"no Python spec file at {spec_path}")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ab_spec"] = mod
    spec.loader.exec_module(mod)
    (name_a, fn_a), (name_b, fn_b) = list(mod.VARIANTS.items())

    spark = build_spark(app_name="ab-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn) -> float:
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).collect()
        dt = time.perf_counter() - t0
        assert rows is not None
        return dt

    # untimed warm-up of both shapes (JIT, codegen, python workers)
    ra, rb = fn_a(spark, sf_dir).collect(), fn_b(spark, sf_dir).collect()
    # optional result-equality audit when the spec opts in
    if getattr(mod, "CHECK_EQUAL", False):
        ka = sorted(map(str, (tuple(r) for r in ra)))
        kb = sorted(map(str, (tuple(r) for r in rb)))
        assert ka == kb, "variant results differ!"
        print(json.dumps({"results_equal": True, "rows": len(ra)}))

    ta: list[float] = []
    tb: list[float] = []
    orderings: list[str] = []
    for i in range(pairs):
        first_a = i % 2 == 0
        if first_a:
            a = run(fn_a)
            b = run(fn_b)
        else:
            b = run(fn_b)
            a = run(fn_a)
        ta.append(a)
        tb.append(b)
        orderings.append("AB" if first_a else "BA")
        print(
            json.dumps(
                {
                    "pair": i,
                    "order": orderings[-1],
                    name_a: round(a, 3),
                    name_b: round(b, 3),
                    "delta_b_minus_a": round(b - a, 3),
                }
            )
        )

    def med(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    deltas = [b - a for a, b in zip(ta, tb)]
    print(
        json.dumps(
            {
                "spec": os.path.basename(spec_path),
                "sf_dir": sf_dir,
                "pairs": pairs,
                name_a: {"min": round(min(ta), 3), "median": round(med(ta), 3)},
                name_b: {"min": round(min(tb), 3), "median": round(med(tb), 3)},
                "median_delta_b_minus_a": round(med(deltas), 3),
                "b_wins_pairs": sum(1 for d in deltas if d < 0),
                "ratio_b_over_a_median": round(med(tb) / med(ta), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
