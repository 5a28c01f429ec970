"""File-format sources and sinks beyond parquet.

The reference delegates all file I/O to its embedded engine
(``register_csv/parquet/...`` — unused in its own code, SURVEY §2.2
"Scans: files"); here each format maps to the Spark reader/writer with
scale-relevant defaults:

- Parquet is the canonical interchange format (columnar, predicate
  pushdown, column pruning) — everything else round-trips through it.
- Writes support ``partition_by`` (hive-style directory partitioning →
  partition pruning on read: the coarse-grained index at 100 TB) and
  bucketing via ``bucket_by`` (pre-shuffled layout → shuffle-free joins
  on the bucket key; requires ``saveAsTable``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_READERS = ("parquet", "csv", "json", "orc", "avro")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    if fmt not in _READERS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_READERS}")
    reader = spark.read.format(fmt)
    if fmt == "csv":
        # header+schema, never inferSchema on big data (it double-scans)
        reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        # schema-less text formats need explicit schema at scale; allow
        # inference only as an explicit small-data convenience
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
    **options,
) -> None:
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist with a bucketed layout: joins/aggregations on the bucket
    columns read co-located data and skip the shuffle entirely — the
    pre-partitioned-join primitive for repeated big-big joins.

    ``path`` makes it an external table (data at the given location);
    otherwise it lands in the session warehouse dir."""
    writer = (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .format("parquet")
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    *,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a small-files parquet directory into ~target_file_mb
    files — the compaction pass every long-running ingest needs: a
    streaming sink or over-parallel writer leaves thousands of KB-scale
    files whose per-file open/footer cost dominates later scans.

    Output file count = ceil(input bytes / target), derived from the
    source's actual FS size (Hadoop ContentSummary — works on any
    Hadoop FS). The rewrite is one round-robin repartition shuffle of
    the data being compacted; ``sort_within_by`` additionally sorts
    within each output file (run-length/dictionary-friendly layout and
    per-file min/max pruning on those columns — the poor man's
    clustering). Returns the output file count.

    Writes to a NEW directory: compact-then-swap is the caller's atomic
    publish step (the epoch-dir pattern of streaming/ops.py), never an
    in-place overwrite of a directory readers may be scanning.
    """
    import math

    from adhesive_spark.sources.fsutil import hadoop_fs

    fs, src, _ = hadoop_fs(spark, src_path)
    total_bytes = fs.getContentSummary(src).getLength()
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    out = df.repartition(n_out)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dest_path)
    return n_out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 16,
    bits: int = 8,
) -> None:
    """Z-order (Morton-curve) file layout for MULTI-column data skipping
    — the lakehouse OPTIMIZE ZORDER technique as plain Spark: linear
    sorting gives tight per-file min/max on ONE column; interleaving the
    bit representations of several columns clusters rows so every
    z-ordered column gets usefully tight per-file ranges, and a reader's
    min/max (row-group / file footer) pruning skips most files for
    predicates on ANY of them.

    Mechanics: each column is scaled to a ``bits``-bit bucket id between
    its min and max (two driver scalars per column — one tiny agg, the
    same bounded-metadata pattern as the IVF probe), bucket bits are
    interleaved JVM-side into the Morton rank, and the data is
    range-partitioned + sorted by that rank. Cost: the same single
    shuffle a plain sorted write pays.
    """
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        # JVM shiftleft wraps the shift amount mod 64: positions past 63
        # would silently collide bits across columns and destroy the
        # clustering with no error — refuse instead
        raise ValueError(
            f"bits*len(cols) = {bits * len(cols)} exceeds the 63-bit "
            "Morton rank budget; lower bits or z-order fewer columns"
        )
    stats = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    ).first()
    scale = (1 << bits) - 1
    bucket_cols = []
    for c in cols:
        if stats[f"__lo_{c}"] is None:
            raise ValueError(f"z-order column {c!r} is all NULL")
        lo = float(stats[f"__lo_{c}"])
        hi = float(stats[f"__hi_{c}"])
        span = (hi - lo) or 1.0
        b = F.least(
            F.lit(scale),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * scale).cast(
                    "long"
                ),
            ),
        )
        bucket_cols.append(b)
    # Morton rank: interleave bit i of every bucket id
    rank = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bucket_cols):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            rank = rank.bitwiseOR(
                F.shiftleft(bit, i * len(bucket_cols) + j).cast("long")
            )
    (
        df.withColumn("__z", rank)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
