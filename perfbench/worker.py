"""One benchmark run inside an isolated environment prepared by run.py.

Sets up the Spark session several times, warms up, runs seeded passes of the
workload for the requested time, checks every result against DuckDB
outside the timed region, and prints one JSON result as the last line of
standard output.  Diagnostics go to standard error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402
from statistics import median  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyspark  # noqa: E402

import workloads as W  # noqa: E402
from tracing import Tracer, installed_spans  # noqa: E402

SET_UPS = 5
LADDER_LANG = {"python": "python", "pandas": "pandas", "sql": "sql", "java": "java_hit"}

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_p90_s", "s"),
    ("udf_rows_per_s.python", "rows/s"),
    ("udf_rows_per_s.pandas", "rows/s"),
    ("udf_rows_per_s.sql", "rows/s"),
    ("udf_rows_per_s.java", "rows/s"),
)

OPERATOR_LAYERS = (
    "asof", "clustering", "curation", "dedup", "graph", "grouped",
    "incremental", "inference", "monitoring", "multimodal", "quality",
    "similarity", "sketches", "skew", "text",
)

PER_LAYER = (
    [
        ("queries.construct_s", "s"),
        ("queries.construct_jobs", "count"),
    ]
    + [
        (f"sources.registry.{f}_{k}", u)
        for f in ("load_table", "ensure_parallelism", "checkpoint_corpus")
        for k, u in (("s", "s"), ("calls", "count"))
    ]
    + [
        (f"operators.{m}.{k}", u)
        for m in OPERATOR_LAYERS
        for k, u in (("construct_s", "s"), ("calls", "count"))
    ]
    + [
        ("catalyst.analysis_s", "s"),
        ("catalyst.optimization_s", "s"),
        ("catalyst.planning_s", "s"),
        ("execute.collect_s", "s"),
        ("execute.jobs", "count"),
        ("execute.tasks", "count"),
        ("execute.shuffle_bytes", "bytes"),
        ("execute.python_boot_s", "s"),
        ("execute.python_total_s", "s"),
        ("execute.python_data_sent_bytes", "bytes"),
        ("functions.ddl.parse_us", "us"),
        ("functions.factory.create_ms.python", "ms"),
        ("functions.factory.create_ms.pandas", "ms"),
        ("functions.factory.create_ms.sql", "ms"),
        ("functions.factory.create_ms.java_hit", "ms"),
        ("functions.factory.create_ms.java_cold", "ms"),
        ("functions.factory.javac_calls", "count"),
        ("functions.factory.jar_cache_hit_ratio", "ratio"),
        ("session.build_s", "s"),
        ("memory.peak_rss_mb", "MB"),
        ("memory.jvm_heap_peak_mb", "MB"),
        ("traced.pass_s", "s"),
    ]
)


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def p90(xs: list[float]) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def parquet_path(data: Path, table: str) -> str:
    p = data / f"{table}.parquet"
    return f"{p}/*.parquet" if p.is_dir() else str(p)


def rows_to_pandas(rows: list, columns: list[str]):
    """Collected Rows -> pandas through Arrow, the conversion toPandas()
    applies, so the dtype-strict compare sees the same kinds."""
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(columns)})
    return table.to_pandas()


class Run:
    def __init__(self, args, tracer: Tracer | None):
        self.args = args
        self.wl = W.WORKLOADS[args.workload]
        self.tracer = tracer
        self.data = Path(args.data_root) / args.fixture
        self.meta = json.loads((self.data / "BUILT.json").read_text())
        self.jar_dir = Path(os.environ["XDG_CACHE_HOME"]) / "adhesive_java_cache"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.pass_s: list[float] = []
        self.query_s: dict[str, list[float]] = defaultdict(list)
        self.create_ms: dict[str, list[float]] = defaultdict(list)
        self.first_rows: dict[str, tuple[list[str], list]] = {}
        self.ddl_results: list[tuple[W.DdlOp, list]] = []
        #: (query number, DataFrame) of traced queries not yet read
        self.traced: list[tuple[int, object]] = []
        self.layer: dict[str, float] = defaultdict(float)
        self.measuring = False
        self.rng = random.Random(f"{self.wl.name}:{args.seed}")
        self.stream = W.DdlStream(args.seed)

    # ------------------------------------------------------------------ util
    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        msg = what if exc is None else f"{what}: {type(exc).__name__}: {exc}"
        self.errors.append(msg[:500])
        log("FAIL", msg[:2000])

    def jars(self) -> int:
        return len(list(self.jar_dir.glob("*.jar"))) if self.jar_dir.is_dir() else 0

    def create(self, ddl: str, kind: str) -> None:
        """Time one CREATE through AdhesiveSession.sql; ``kind`` is the
        create_ms bucket (python, pandas, sql, java_hit, java_cold)."""
        self.attempted += 1
        jars = self.jars()
        t0 = time.perf_counter()
        try:
            self.sess.sql(ddl)
        except Exception as e:  # counted as a failed operation
            self.fail(f"CREATE ({kind})", e)
            return
        dt = time.perf_counter() - t0
        compiled = self.jars() - jars
        if kind == "java_cold" and compiled != 1:
            self.fail(f"cold Java CREATE compiled {compiled} jars, expected 1")
        if kind == "java_hit" and compiled != 0:
            self.fail(f"Java cache-hit CREATE compiled {compiled} jars")
        if self.measuring or kind == "java_cold":
            self.create_ms[kind].append(dt * 1000.0)
        if self.measuring:
            self.layer["javac_calls"] += compiled
            if kind.startswith("java"):
                self.layer["java_creates"] += 1

    # ---------------------------------------------------------------- set-up
    def set_up(self, first: bool) -> None:
        """One session set-up: build the session and run one SQL job.  The
        first pays process start and JVM launch; the later ones rebuild the
        session on the running JVM."""
        from adhesive_spark.session import AdhesiveSession, build_spark

        if not first:
            self.spark.stop()
        t0 = T_START if first else time.perf_counter()
        tb = time.perf_counter()
        spark = build_spark(
            app_name=f"perfbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keeps the JVM's temporary files in the run's directory
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
        self.build_s.append(time.perf_counter() - tb)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.sess = AdhesiveSession(spark)
        spark.sql("SELECT COUNT(*) FROM RANGE(100000)").collect()
        self.setup_s.append(time.perf_counter() - t0)

    def warm_up(self) -> None:
        """One untimed pass on the workload's own data.  Query
        workloads first issue the UDF ladder's CREATEs: the Java body is the
        run's first, so javac runs and gives the cold-Java sample."""
        from __spark_entry__ import queries

        self.qs = queries()
        if self.wl.panel:
            for rung, ddl in W.LADDER_DDL.items():
                self.create(ddl, "java_cold" if rung == "java" else LADDER_LANG[rung])
        self.one_pass()

    # --------------------------------------------------------------- tracing
    def _jvm_list(self, seq):
        return self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _plan_metrics(self, qe) -> Counter:
        """Sum the executed plan's SQL metrics by name (query stages and
        reused exchanges included)."""
        out: Counter = Counter()
        stack = [qe.executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            metrics = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                node.metrics()
            )
            for key in metrics.keySet():
                if key.startswith("python"):
                    m = metrics.get(key)
                    v = m.value()
                    mt = m.metricType()
                    if mt == "nsTiming":
                        v = v / 1e9
                    elif mt == "timing":
                        v = v / 1e3
                    out[key] += v
            stack.extend(self._jvm_list(node.children()))
        return out

    def _jobs(self, group: str) -> tuple[int, int, int]:
        """(jobs, completed tasks, shuffle bytes written) of a job group."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                try:
                    shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
                except Exception:  # a skipped stage has no attempt
                    pass
        return len(jobs), tasks, shuffle

    def _catalyst(self, qe) -> None:
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.layer[f"catalyst.{phase}_s"] += opt.get().durationMs() / 1e3

    # ------------------------------------------------------------ operations
    def timed_query(self, key: str, build) -> tuple | None:
        """Construct + collect one query; returns (DataFrame, rows), or
        None on failure.  ``key`` buckets the wall time."""
        self.attempted += 1
        sc = self.spark.sparkContext
        n = self.attempted
        if self.tracer:
            sc.setJobGroup(f"c{n}", "construct")
        try:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            if self.tracer:
                sc.setJobGroup(f"x{n}", "collect")
                t1b = time.perf_counter()
            else:
                t1b = t1
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:
            self.fail(f"query {key}", e)
            return None
        if not self.measuring:
            return df, rows
        self.query_s[key].append((t1 - t0) + (t2 - t1b))
        if self.tracer:
            self.layer["queries.construct_s"] += t1 - t0
            self.layer["execute.collect_s"] += t2 - t1b
            self.traced.append((n, df))
        return df, rows

    def read_traced(self) -> None:
        """Job, Catalyst and plan metrics of the pass's traced queries,
        read after the pass so that their py4j round trips stay out of
        ``traced.pass_s``."""
        for n, df in self.traced:
            cj, _, _ = self._jobs(f"c{n}")
            self.layer["queries.construct_jobs"] += cj
            xj, tasks, shuffle = self._jobs(f"x{n}")
            self.layer["execute.jobs"] += xj
            self.layer["execute.tasks"] += tasks
            self.layer["execute.shuffle_bytes"] += shuffle
            qe = df._jdf.queryExecution()
            self._catalyst(qe)
            pm = self._plan_metrics(qe)
            self.layer["execute.python_boot_s"] += pm["pythonBootTime"]
            self.layer["execute.python_total_s"] += pm["pythonTotalTime"]
            self.layer["execute.python_data_sent_bytes"] += pm["pythonDataSent"]
        self.traced.clear()

    def query_pass(self, order: list[str]) -> None:
        for rung, ddl in W.LADDER_DDL.items():
            self.create(ddl, LADDER_LANG[rung])
        sf = str(self.data)
        t0 = time.perf_counter()
        for name in order:
            fn = self.qs[name]
            res = self.timed_query(name, lambda: fn(self.spark, sf))
            if res is not None and self.measuring and name not in self.first_rows:
                self.first_rows[name] = (res[0].columns, res[1])
        if self.measuring:
            self.pass_s.append(time.perf_counter() - t0)
            self.read_traced()

    def ddl_pass(self, ops: list[W.DdlOp]) -> None:
        from adhesive_spark.sources.registry import load_table

        t0 = time.perf_counter()
        load_table(self.spark, str(self.data), "lineitem").createOrReplaceTempView(
            "lineitem"
        )
        for op in ops:
            kind = {"cold": "java_cold", "hit": "java_hit"}.get(op.java, op.lang.lower())
            failed = self.failed
            self.create(op.ddl, kind)
            if self.failed != failed:
                continue
            res = self.timed_query(op.lang.lower(), lambda: self.sess.sql(op.call))
            if res is not None:
                self.ddl_results.append((op, res[1]))
        if self.measuring:
            self.pass_s.append(time.perf_counter() - t0)
            self.read_traced()

    # ------------------------------------------------------------------ main
    def one_pass(self) -> None:
        if self.wl.panel:
            self.query_pass(W.pass_order(self.rng, self.wl.panel))
        else:
            self.ddl_pass(self.stream.next_pass())

    def measure(self) -> None:
        """At least the workload's ``min_passes``; another one only while it is
        expected (at the mean time per pass so far, CREATEs included) to
        end within ``--seconds``."""
        if self.tracer:
            self.tracer.seconds.clear()
            self.tracer.calls.clear()
        self.measuring = True
        t0 = time.perf_counter()
        n = 0
        while n < self.wl.min_passes or (
            (time.perf_counter() - t0) * (n + 1) / n <= self.args.seconds
        ):
            self.one_pass()
            n += 1
            log(f"pass {len(self.pass_s)}: {self.pass_s[-1]:.3f} s")
        self.measuring = False

    def check(self) -> None:
        """Compare results with DuckDB, outside the timed region."""
        from adhesive_spark.sources.registry import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_path(self.data, t)}')"
            )
        if self.wl.panel:
            from __spark_entry__ import oracle_sql
            from tools.check_correctness import compare

            oracles = oracle_sql()
            for name in self.wl.panel:
                if name not in self.first_rows:
                    continue  # already counted as failed
                cols, rows = self.first_rows[name]
                try:
                    odf = con.execute(oracles[name]).fetchdf()
                    problems = compare(name, rows_to_pandas(rows, cols), odf)
                except Exception as e:
                    problems = [f"{type(e).__name__}: {e}"]
                if problems:
                    self.fail(f"{name} differs from its oracle: " + "; ".join(problems))
        else:
            for op, rows in self.ddl_results:
                want = con.execute(op.oracle).fetchone()
                got = (rows[0][0], rows[0][1]) if rows else None
                if got != (int(want[0]), int(want[1])):
                    self.fail(f"{op.lang} call returned {got}, DuckDB {want}: {op.call}")
        con.close()

    def metrics(self) -> dict[str, float]:
        lineitem_rows = self.meta["rows"]["lineitem"]
        pooled = [t for ts in self.query_s.values() for t in ts]
        ladder_s = {}
        for rung, qname in W.LADDER.items():
            key = qname if self.wl.panel else rung
            ladder_s[rung] = median(self.query_s[key])
        out = {
            "setup_s": median(self.setup_s),
            "pass_s": median(self.pass_s),
            "query_p50_s": median(pooled),
            "query_p90_s": p90(pooled),
        }
        for rung, s in ladder_s.items():
            out[f"udf_rows_per_s.{rung}"] = lineitem_rows / s
        self.samples = {
            "passes": len(self.pass_s),
            "queries": len(pooled),
            "creates": sum(len(v) for v in self.create_ms.values()),
            "set_ups": len(self.setup_s),
        }
        return out

    def layer_metrics(self, untraced: dict[str, float]) -> dict[str, float]:
        passes = len(self.pass_s)
        tr = self.tracer
        out = {k: self.layer[k] / passes for k in (
            "queries.construct_s", "queries.construct_jobs",
            "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
            "execute.collect_s", "execute.jobs", "execute.tasks",
            "execute.shuffle_bytes", "execute.python_boot_s",
            "execute.python_total_s", "execute.python_data_sent_bytes",
        )}
        for f in ("load_table", "ensure_parallelism", "checkpoint_corpus"):
            span = f"sources.registry.{f}"
            out[f"{span}_s"] = tr.seconds[span] / passes
            out[f"{span}_calls"] = tr.calls[span] / passes
        for m in OPERATOR_LAYERS:
            span = f"operators.{m}"
            out[f"{span}.construct_s"] = tr.seconds[span] / passes
            out[f"{span}.calls"] = tr.calls[span] / passes
        parses = tr.calls["functions.ddl.parse"]
        out["functions.ddl.parse_us"] = (
            tr.seconds["functions.ddl.parse"] / parses * 1e6 if parses else 0.0
        )
        for kind in ("python", "pandas", "sql", "java_hit", "java_cold"):
            out[f"functions.factory.create_ms.{kind}"] = median(self.create_ms[kind])
        out["functions.factory.javac_calls"] = self.layer["javac_calls"] / passes
        java = self.layer["java_creates"]
        out["functions.factory.jar_cache_hit_ratio"] = (
            (java - self.layer["javac_calls"]) / java if java else 0.0
        )
        out["session.build_s"] = median(self.build_s)
        jvm = self.spark.sparkContext._gateway.proc.pid
        out["memory.peak_rss_mb"] = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm)) / 1024.0
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        out["memory.jvm_heap_peak_mb"] = sum(
            pool.getPeakUsage().getUsed()
            for pool in mf.getMemoryPoolMXBeans()
            if pool.getType().toString() == "Heap memory"
        ) / 2**20
        out["traced.pass_s"] = untraced["pass_s"]
        return out


def environment(args, spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-root", required=True)
    ap.add_argument("--fixture", required=True)
    args = ap.parse_args()

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    run = Run(args, tracer)
    try:
        for i in range(SET_UPS):
            run.set_up(first=i == 0)
            log(f"set-up {i + 1}: {run.setup_s[-1]:.2f} s")
        for step in (run.warm_up, run.measure, run.check):
            t0 = time.perf_counter()
            step()
            log(f"{step.__name__}: {time.perf_counter() - t0:.2f} s")
        if not tracer:
            spans = installed_spans()
            if spans:
                run.fail(f"untraced run has timing wrappers in place: {spans[:5]}")
        values = run.metrics()
        if tracer:
            values = run.layer_metrics(values)
        env = environment(args, run.spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if tracer:
            tracer.uninstall()
    units = dict(PER_LAYER if tracer else END_TO_END)
    fixture = {k: run.meta[k] for k in ("sf", "build_s", "rows")}
    print(json.dumps({"environment": env, "fixture": fixture,
                      "samples": run.samples, "errors": run.errors[:20]}))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    run.spark.stop()
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
