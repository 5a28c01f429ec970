"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

1. Tracing patches ``adhesive_spark`` functions and ``uninstall`` restores
   every module attribute, checked by identity; no timing wrapper is left.
2. A benchmark copy holding only ``BENCHMARK.json`` and ``perfbench/``
   exits non-zero without printing a result.
3. Every workload, ``scale-sf1`` included, runs on the sf0.001 fixture,
   untraced and traced; each run is correct and emits exactly the metrics
   BENCHMARK.json names, each with its unit.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))


def check_tracing_restores() -> None:
    import tracing

    tracing.import_all()
    from adhesive_spark.sources import registry

    assert not tracing.installed_spans(), "timing wrappers in place before install"
    before = tracing.module_snapshot()
    original = registry.load_table
    tracer = tracing.Tracer()
    tracer.install()
    patched = {k for k, v in tracing.module_snapshot().items() if before[k] != v}
    from adhesive_spark.queries import udf_queries

    assert ("adhesive_spark.sources.registry", "load_table") in patched
    # a `from ... import` copy is patched too
    assert ("adhesive_spark.queries.udf_queries", "load_table") in patched
    assert udf_queries.load_table is registry.load_table
    assert any(m.startswith("adhesive_spark.operators.") for m, _ in patched)
    assert registry.load_table.__wrapped__ is original
    assert set(tracing.installed_spans()) == patched
    tracer.uninstall()
    assert tracing.module_snapshot() == before, "uninstall left patched attributes"
    assert not tracing.installed_spans(), "uninstall left timing wrappers"
    print(f"ok  tracing patches {len(patched)} attributes and restores them all")


def check_stripped_copy_fails() -> None:
    (HERE / ".work").mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="stripped-", dir=HERE / ".work"))
    try:
        shutil.copy(ROOT / "BENCHMARK.json", tmp)
        shutil.copytree(HERE, tmp / HERE.name, ignore=shutil.ignore_patterns(
            ".data", ".work", "__pycache__"))
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        p = subprocess.run(
            bench["command"] + ["--workload", bench["workloads"][0]["name"],
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=tmp, capture_output=True, text=True, timeout=180,
        )
        assert p.returncode != 0, "stripped copy exited 0"
        assert '"correct"' not in p.stdout, "stripped copy printed a result"
    finally:
        shutil.rmtree(tmp)
    print("ok  stripped copy exits", p.returncode, "without a result")


def check_workloads() -> None:
    from workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[section]}
        for name in WORKLOADS:
            p = subprocess.run(
                bench["command"] + ["--workload", name, "--seed", "7",
                                    "--seconds", "0.1", "--trace", str(trace),
                                    "--fixture", "sf0.001"],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            assert p.returncode == 0, f"{name} trace={trace}: {p.stderr[-3000:]}"
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0
            assert result["attempted"] >= 1
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{name} trace={trace}: metrics {got} != {want}"
            for k, v in result["metrics"].items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), k
            print(f"ok  {name} trace={trace}: {len(got)} metrics, "
                  f"{result['attempted']} operations")


if __name__ == "__main__":
    check_tracing_restores()
    check_stripped_copy_fails()
    check_workloads()
    print("self-test passed")
