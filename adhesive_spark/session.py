"""Session construction and the SQL interceptor.

``AdhesiveSession`` is the analog of the reference's
``SessionContext::new().with_function_factory(...)``
(examples/adhesive.rs:11-13): a thin wrapper whose ``sql()`` recognizes the
inline-body ``CREATE FUNCTION`` DDL (which Spark's grammar lacks) and routes
it to the factory, as it does a ``DROP FUNCTION`` of a temporary function;
every other statement passes through to Spark SQL / Catalyst untouched — the
rebuild inherits the relational surface from Spark exactly as the reference
inherits it from DataFusion (SURVEY §2.2).  The wrapper holds no state of
its own: the SparkSession's catalog is the only record of the functions, so
any number of wrappers on one SparkSession see the same ones.

``build_spark`` centralizes the scale-oriented defaults: AQE (runtime
re-planning + skew-join handling), Arrow-batched Python UDF transport
(the reference's zero-copy FFI analog, src/jvm.rs:183-219), Python
worker reuse (the daemon-attached-thread analog, src/jvm.rs:271-274), and,
for local masters, the repo's own Python worker daemon.

The daemon (``adhesive_spark.pyworker``) does two jobs before it hands over
to PySpark's stock daemon.  PySpark's worker invalidates every import cache
at the start of each task, which makes CPython re-read the whole directory
of ``pyspark.zip`` and the spark-core jar, about 0.15-0.2 s of fixed cost
per Python task; the daemon keeps those launch-time archives cached.  And
PySpark converts the arguments of a row-at-a-time Arrow UDF one value at a
time (``to_pylist``); the daemon converts integer, float, bool and string
columns a column at a time, to the same Python objects.  It is set only
for ``local``/``local[...]`` masters, whose workers run on this host and
can import this package from the directory ``build_spark`` adds to
``spark.executorEnv.PYTHONPATH``; a cluster master keeps Spark's stock
daemon and both of those costs.
"""

from __future__ import annotations

import os
import re
from functools import cached_property
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from adhesive_spark.functions.ddl import (
    is_create_function,
    is_drop_function,
    parse_drop_function,
)
from adhesive_spark.functions.factory import FunctionFactory

#: Defaults chosen for the 100 TB design point, applied at build time.
#: On a real cluster the shuffle-partition count should track
#: 2-3× total executor cores and target 100-200 MB per shuffle partition —
#: AQE coalescing makes over-provisioning cheap, so err high.
#: Local masters also get ``LOCAL_MASTER_CONFIGS`` below.
DEFAULT_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # testdata parquet stores tz-naive us timestamps; read them as plain
    # TIMESTAMP at the scan (UTC session => instant-preserving) so ts
    # predicates stay pushdown-eligible and watermarks/windows are legal
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # older testdata stores ns-unit timestamps, which Spark's reader
    # rejects; read them as INT64 nanos (load_table truncates to us)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.python.worker.reuse": "true",
    # sources/pydatasource.SyntheticDocsReader implements pushFilters();
    # Spark 4.1 REFUSES such a reader unless pushdown is enabled
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}

#: Python workers run under ``adhesive_spark.pyworker``, which spares every
#: Python task the ~0.15-0.2 s re-read of Spark's own zip archives and
#: converts row-at-a-time UDF arguments a column at a time; the
#: package's parent directory goes on the workers' path so the daemon
#: imports whatever the driver's cwd.  Local masters only: a cluster's
#: workers cannot import this checkout, so they keep Spark's stock daemon.
LOCAL_MASTER_CONFIGS: dict[str, str] = {
    "spark.python.daemon.module": "adhesive_spark.pyworker",
    "spark.executorEnv.PYTHONPATH": str(Path(__file__).resolve().parents[1]),
}


def build_spark(
    app_name: str = "adhesive-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the singleton SparkSession — the JVM-singleton analog
    (src/jvm.rs:27 ``OnceCell``: one engine per process).

    The default master is ``local[n]`` with n from ``SPARK_GRAFT_CPUS``,
    else the number of CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONFIGS)
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        conf.update(LOCAL_MASTER_CONFIGS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class AdhesiveSession:
    """SparkSession wrapper with the function-factory SQL interceptor.

    >>> sess = AdhesiveSession(build_spark())
    >>> sess.sql("CREATE FUNCTION f1(BIGINT, BIGINT) RETURNS BIGINT "
    ...          "LANGUAGE PYTHON AS 'return arg0 * arg1'")
    >>> sess.sql("SELECT f1(a, b) FROM t").show()
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or build_spark()
        self.factory = FunctionFactory(self.spark)

    @cached_property
    def _ddl_ok(self) -> DataFrame:
        """The empty OK relation a factory DDL returns, like DataFusion's
        DDL result; built once and shared by every CREATE and DROP."""
        return self.spark.sql("SELECT 1 AS ok WHERE 1 = 0")

    def sql(self, query: str, **kwargs) -> DataFrame:
        if is_create_function(query):
            self.factory.create_function(query)
            return self._ddl_ok
        if is_drop_function(query):
            name, if_exists = parse_drop_function(query)
            if self.factory.exists(name):
                self.factory.drop_function(name, if_exists=if_exists)
                return self._ddl_ok
            # not a temporary function: pass through so persistent catalog
            # functions keep Spark's native DROP semantics
            return self.spark.sql(query, **kwargs)
        return self.spark.sql(query, **kwargs)

    # Convenience passthroughs so the wrapper is a drop-in for common use.
    @property
    def read(self):
        return self.spark.read

    @property
    def readStream(self):
        return self.spark.readStream

    @property
    def udf(self):
        return self.spark.udf

    def createDataFrame(self, *args, **kwargs) -> DataFrame:
        return self.spark.createDataFrame(*args, **kwargs)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def stop(self) -> None:
        self.spark.stop()
