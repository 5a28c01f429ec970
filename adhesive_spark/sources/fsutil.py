"""Shared Hadoop FileSystem access through the JVM gateway.

One incantation for every operator that touches the filesystem directly
(epoch-state bookkeeping, warehouse cleanup, compaction sizing) — works
on any Hadoop-compatible FS (local, HDFS, S3A), so the same code runs on
a laptop and a 1000-executor cluster.
"""

from __future__ import annotations


def hadoop_fs(spark, path_str: str):
    """(fs, path, jvm) for ``path_str`` on the session's Hadoop conf."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def reset_table(spark, table: str) -> None:
    """Drop ``table`` AND delete its warehouse directory.

    With the default in-memory catalog a rebuilt session forgets the
    table but not its warehouse directory, and saveAsTable then refuses
    the "new" name; dropping both makes every rebuild idempotent."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, loc, _ = hadoop_fs(spark, f"{wh}/{table}")
    if fs.exists(loc):
        fs.delete(loc, True)
