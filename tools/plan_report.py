"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query: shuffle (Exchange) count, join strategies, codegen span
count, pushed-filter presence, and nested-loop/cartesian flags — the
scale-contract summary a reviewer would otherwise extract by hand from
``.explain("formatted")``. Plans are ANALYZED, not executed.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from adhesive_spark.session import build_spark  # noqa: E402


_CAP_RE = re.compile(
    r"""F\.col\(\s*["'](\w*id)["']\s*\)\s*<\s*(\d+)   # F.col("doc_id") < 300
      | \b(\w*id)\s*<\s*(\d+)                         # SQL-text "doc_id < 300"
    """,
    re.X,
)


_PY_EVAL_NODE_RE = re.compile(
    r"(?:Arrow|Batch)EvalPython \[([^\]]*)\]|MapIn(?:Pandas|Arrow) (\w+\()"
)
_PY_EVAL_NAME_RE = re.compile(r"(\w+)\(")


def dup_python_eval(plan: str) -> bool:
    """True when the SAME Python function name appears in more than one
    Python node in the plan — an (Arrow|Batch)EvalPython node, or a
    MapInPandas / MapInArrow node, named by its batch function. That is
    the double-evaluation signature (r11 q35 root cause:
    InferFiltersFromGenerate pushed a posexplode size-filter below an
    exchange and the scoring kernel ran twice over the corpus; a map
    kernel under two uses of one DataFrame runs once per use). Every
    name in each EvalPython node's bracket list is counted, not just the
    first, so a duplicate kernel that rides second in one node ([udfA,
    udfB] vs [udfB]) cannot escape (r11 ADVICE). A name repeated WITHIN
    one node is a single pass over the input and is deduped per node. A
    plan recorded dup-free must stay dup-free (ratcheted by
    tests/test_plans.py)."""
    seen: set[str] = set()
    for groups in _PY_EVAL_NODE_RE.findall(plan.split("Initial Plan")[0]):
        names = set(_PY_EVAL_NAME_RE.findall("".join(groups)))
        if names & seen:
            return True
        seen |= names
    return False


def plan_columns(plan: str) -> dict:
    """The PLANS.md columns read off an executed plan's string: shuffles
    (Exchange nodes), BHJ and SMJ join counts, BNL (a nested-loop or
    cartesian join is present) and dupPy (:func:`dup_python_eval`)."""
    return {
        "shuffles": len(re.findall(r"\bExchange\b", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnl": "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan,
        "dup_py": dup_python_eval(plan),
    }


def detect_cap(fn) -> str:
    """Grep a query callable's source for an INPUT cap: a strict
    upper-bound literal on an id column (``doc_id < 300``). Caps keep
    pair-quadratic DuckDB oracles tractable; a capped query's bench
    time measures a FIXED workload regardless of sf — its scale
    evidence lives in tools/stress.py, not bench.py. (A trailing
    ``.limit(N)`` is an output top-k, not an input cap, and is not
    flagged.)"""
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return "-"
    caps = []
    for m in _CAP_RE.finditer(src):
        if m.group(1):
            caps.append(f"{m.group(1)}<{m.group(2)}")
        else:
            caps.append(f"{m.group(3)}<{m.group(4)}")
    # dedupe, keep order
    seen: dict[str, None] = dict.fromkeys(caps)
    return ",".join(seen) if seen else "-"


def input_caps(qs: dict) -> dict[str, str]:
    """The cap manifest: query name → detected input cap (or '-')."""
    return {name: detect_cap(fn) for name, fn in qs.items()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_spark(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    print("# PLANS — physical-plan audit (generated by tools/plan_report.py)")
    print()
    print(f"Scale factor dir: `{sf_dir}`. Plans are analyzed, not executed;")
    print("AQE may further coalesce/replan at runtime (codegen spans only")
    print("materialize at execution — tests/test_plans.py::test_codegen_coverage")
    print("asserts them on the executed flagship). Columns: shuffles = Exchange")
    print("nodes; BHJ/SMJ = broadcast-hash / sort-merge joins; pushed = parquet")
    print("PushedFilters present; BNL = broadcast-nested-loop present.")
    print()
    print("BNL appears ONLY in two intended bounded shapes, never as an")
    print("unbounded pair blowup: (a) kNN/centroid scoring scans")
    print("(q35/q49/q88/q101/q64/q152/q153 and kin) — the corpus streams once")
    print("against a BROADCAST side bounded tiny by construction (<=10 query")
    print("vectors / 16 centroids); (b) scalar/audit cross joins — a 1-row (or")
    print("few-row literal spine) aggregate crossJoin-broadcast back into the")
    print("result (q89/q90/q105/q112/q148/q174 and kin), the standard way to")
    print("attach a global denominator without a shuffle — including the")
    print("bounded-VOCABULARY candidate crossJoin (q267: users x ~100 items")
    print("before the anti-join). The near-dup pair queries (q34/q80) are")
    print("plan-asserted to NEVER use it.")
    print()
    print("cap = input cap detected in the query source (id upper bound or")
    print("limit); capped queries run a FIXED-size workload at every sf so")
    print("their pair-quadratic DuckDB oracles stay tractable — bench times")
    print("for them do NOT scale with sf; their at-scale evidence is the")
    print("tools/stress.py replication ladder (STRESS.md). Enforced by")
    print("tests/test_plans.py::test_cap_manifest_matches_code.")
    print()
    print("dupPy = the same Python function heads MORE THAN ONE Python node")
    print("(an EvalPython node by UDF name, a MapInPandas/MapInArrow node by")
    print("batch-function name) in the ANALYZED (pre-AQE) plan — the")
    print("double-evaluation signature (the r11 q35 class: InferFiltersFromGenerate")
    print("pushing a generator size-filter below an exchange re-ran the kernel")
    print("over the whole corpus; a map kernel under two uses of one DataFrame")
    print("runs once per use). Caveat: consumers of the minhash machinery share the")
    print("signature kernel through an id-keyed exchange (unskewable key, so")
    print("AQE skew-splitting on the band joins stays armed) that pre-AQE")
    print("plans print once per consumer side; runtime stage-reuse")
    print("(ReusedExchange) collapses them to ONE kernel evaluation — the")
    print("remaining YES rows (q37/q163/q317/q334) are exactly these, each")
    print("verified runtime-single-eval-per-config in r11 (q35/q37 pinned by")
    print("executed-plan tests; see ROUND_NOTES r11). recorded-no queries")
    print("must stay no (ratcheted).")
    print()
    print("| query | shuffles | BHJ | SMJ | pushed | BNL | cap | dupPy |")
    print("|---|---|---|---|---|---|---|---|")
    caps = input_caps(qs)
    for name in sorted(qs, key=entry_mod._qnum):
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        fmt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        c = plan_columns(plan)
        pushed = bool(re.search(r"PushedFilters: \[[^\]]+\]", fmt))
        print(
            f"| {name} | {c['shuffles']} | {c['bhj']} | {c['smj']} "
            f"| {'yes' if pushed else '-'} "
            f"| {'yes (bounded scoring)' if c['bnl'] else 'no'} "
            f"| {caps[name]} | {'YES' if c['dup_py'] else 'no'} |"
        )


if __name__ == "__main__":
    main()
