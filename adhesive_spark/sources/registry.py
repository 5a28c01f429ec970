"""Table sources.

The reference's only source is an in-memory Arrow batch registered as a
named table (``ctx.register_batch``, examples/adhesive.rs:17-19); file
formats are delegated to the embedded engine. Here both are Spark-native:
``spark.createDataFrame(...).createOrReplaceTempView`` for in-memory, and
``spark.read.parquet/csv/json/orc`` for files (SURVEY §2.2 scans row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The driver-generated TPC-H-ish star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Old-vintage testdata stores ``ts`` as ns-unit parquet, which Spark
    # reads as raw INT64 nanos (``spark.sql.legacy.parquet.nanosAsLong``,
    # set with the scan options in ``session.DEFAULT_CONFIGS``); truncate
    # it to a microsecond TIMESTAMP, identical to DuckDB's ns->us cast.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() == "long":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def ensure_parallelism(
    df: DataFrame,
    *cols: str,
    min_parts: int | None = None,
    by_size: bool = False,
) -> DataFrame:
    """Repartition iff the plan has fewer partitions than the cluster has
    cores — decouples CPU-dense stage parallelism from input-split count.

    At 100 TB inputs arrive in thousands of splits and this is a no-op;
    on small/compacted inputs (single-row-group files — the local
    testdata; or post-coalesce stages on a cluster) a serial scan stage
    would otherwise bottleneck hash/UDF/vector compute on ONE core. The
    repartition shuffle moves only the (small) input, and hash-bucketing
    by ``cols`` keeps downstream same-key joins co-partitioned.

    ``by_size=True`` (requires ``cols``): instead of a fixed
    core-count width, emit a hash repartition with NO explicit
    partition count, which AQE sizes from the measured shuffle bytes
    at runtime (advisory 64 MB/partition). A 1 MB input coalesces to
    ONE task — fixed-width fanout would pay ~cores× per-task
    Python/Arrow overhead to score it — while a replicated-explode
    input (whose split count and Catalyst size stats both lie) still
    fans out by its true bytes. Use for Arrow-kernel stages whose
    per-task overhead dominates on small inputs."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if by_size and cols:
        return df.repartition(*[F.col(c) for c in cols])
    return df.repartition(target, *cols) if cols else df.repartition(target)


def _corpus_ckpt_level():
    from pyspark import StorageLevel

    return StorageLevel.MEMORY_AND_DISK


#: Storage level for CORPUS-SCALED localCheckpoints (see
#: :func:`checkpoint_corpus`): PySpark's MEMORY_AND_DISK maps to the
#: JVM's SERIALIZED memory+disk level — bounded bytes, disk-spillable.
CORPUS_CKPT_LEVEL = _corpus_ckpt_level()


def checkpoint_corpus(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` pinned to SERIALIZED, disk-spillable storage
    for CORPUS-SCALED grains (rows proportional to input docs / events /
    edges / tokens).

    The default local-checkpoint level stores DESERIALIZED JVM objects
    and Spark's disk-block read path re-inflates evicted blocks as
    values (`maybeCacheDiskValuesInMemory`) — at the 10 000× stress rung
    that working set OOMed a 48 g heap on link_prediction before the
    r12 fix pinned serialized storage there (eval_queries).  This
    helper applies the same discipline everywhere a checkpointed grain
    scales with the corpus: PySpark's ``MEMORY_AND_DISK`` maps to the
    JVM's serialized level, blocks are ~an order of magnitude smaller,
    overflow to disk, and re-cache as bounded BYTES.  Contractually
    tiny tables (rung spines, K×K matrices, centroid sets, per-source
    rollups) keep the plain default — deserialized reads are cheaper
    and the bytes are bounded by the schema, not the corpus."""
    return df.localCheckpoint(eager=eager, storageLevel=CORPUS_CKPT_LEVEL)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every parquet table as a temp view; returns the DataFrames."""
    out = {}
    for t in tables:
        df = load_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
