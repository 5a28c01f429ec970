"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the input fixtures once under
``perfbench/.data`` (generated from a fixed seed; the sf1 rung is the sf0.1
set replicated ten times by ``tools/make_scaled_fixture.py``), then runs
``worker.py`` in a fresh process whose jar cache, Spark scratch space and
temporary files live in a private directory that is deleted afterwards.
The worker's last output line, a JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``, is the result.  The exit code is
0 only if the run completed and every result was correct.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / ".data"
WORK = HERE / ".work"

#: Program files the benchmark drives; without them it cannot run.
REQUIRED = (
    "adhesive_spark/__init__.py",
    "__spark_entry__.py",
    "tools/make_scaled_fixture.py",
    "tools/check_correctness.py",
)

WORKER_TIMEOUT_S = 170
SCALE_REPS = 10
#: make_scaled_fixture.py shifts these keys per copy; each must hold
#: SCALE_REPS times the rows of its sf0.1 source
KEYED_TABLES = (
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def _publish(tmp: Path, final: Path, meta: dict) -> None:
    (tmp / "BUILT.json").write_text(json.dumps(meta))
    os.replace(tmp, final)


def ensure_fixture(name: str) -> Path:
    """Build ``.data/<name>`` if it is missing; returns its path."""
    final = DATA / name
    if (final / "BUILT.json").exists():
        return final
    import pyarrow.parquet as pq

    import datagen

    DATA.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"tmp-{name}-", dir=DATA))
    t0 = time.perf_counter()
    if name == "sf1":
        src = ensure_fixture("sf0.1")
        proc = subprocess.run(
            [sys.executable, str(ROOT / "tools/make_scaled_fixture.py"),
             str(src), str(tmp), str(SCALE_REPS)],
            stdout=subprocess.DEVNULL,
        )
        if proc.returncode != 0:
            raise RuntimeError("make_scaled_fixture.py failed")
        src_rows = json.loads((src / "BUILT.json").read_text())["rows"]
        rows = {}
        for t in KEYED_TABLES:
            rows[t] = pq.ParquetDataset(str(tmp / f"{t}.parquet")).read().num_rows
            if rows[t] != SCALE_REPS * src_rows[t]:
                raise RuntimeError(
                    f"sf1 {t}: {rows[t]} rows, expected {SCALE_REPS} x {src_rows[t]}"
                )
    else:
        rows = datagen.generate(str(tmp), float(name[2:]))
    build_s = time.perf_counter() - t0
    _publish(tmp, final, {"sf": name, "build_s": build_s, "rows": rows})
    log(f"built fixture {name} in {build_s:.1f} s")
    return final


def _become_subreaper() -> None:
    """Orphaned descendants (Spark's Python worker daemon runs in its own
    process group) are re-parented here, so they can be reaped."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def reap_all(grace_s: float = 15.0) -> None:
    """Wait for every descendant to end; kill what is left after the grace
    period."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--fixture",
        help="run on this fixture instead of the workload's own "
        "(the self-test uses sf0.001)",
    )
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        log("perfbench: program files missing, nothing to run:", ", ".join(missing))
        return 2
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    fixture = args.fixture or WORKLOADS[args.workload].data
    ensure_fixture(fixture)

    _become_subreaper()
    WORK.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=WORK))
    for d in ("xdg", "local", "tmp", "cwd"):
        (work / d).mkdir()
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(work / "xdg"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        SPARK_GRAFT_CPUS=cpus,
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        TZ="UTC",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, "-u", str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data-root", str(DATA), "--fixture", fixture,
    ]
    proc = subprocess.Popen(
        cmd, cwd=work / "cwd", env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        log(f"perfbench: run exceeded {WORKER_TIMEOUT_S} s and was stopped")
        return 1
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode == 0 or (lines and lines[-1].startswith('{"correct"')):
        print(lines[-1])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
