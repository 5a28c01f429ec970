"""Source/sink round-trips: every supported format preserves the data;
partitioned writes prune; bucketed tables join without a shuffle."""

import pytest
from pyspark.sql import functions as F

from adhesive_spark.plans.explain import formatted_plan, physical_plan
from adhesive_spark.sources.formats import (
    read_any,
    write_any,
    write_bucketed_table,
)
from adhesive_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip(spark, nation, fmt, tmp_path_factory):
    path = str(tmp_path_factory.mktemp(f"rt_{fmt}") / "data")
    write_any(nation, path, fmt)
    back = read_any(spark, path, fmt, schema=nation.schema)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )
    assert back.schema == nation.schema


def test_partitioned_write_prunes(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("part") / "orders")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_any(orders, path, partition_by=["o_orderpriority"])
    back = read_any(spark, path).where(F.col("o_orderpriority") == "1-URGENT")
    plan = formatted_plan(back)
    # partition filter must land in the scan, not a post-filter
    assert "PartitionFilters" in plan
    assert "1-URGENT" in plan
    assert back.count() == orders.where(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("wh")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        orders,
        "b_orders",
        bucket_cols=["o_orderkey"],
        n_buckets=8,
        path=str(wh / "b_orders"),
    )
    write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        bucket_cols=["o_orderkey"],
        n_buckets=8,
        path=str(wh / "b_lineitem"),
    )
    joined = (
        spark.table("b_orders")
        .hint("merge")  # force SMJ so the bucket layout is what avoids exchange
        .join(spark.table("b_lineitem"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plan = physical_plan(joined)
    # the join itself must not re-shuffle the two bucketed sides:
    # no Exchange below the SortMergeJoin for the join keys
    assert "SortMergeJoin" in plan
    n_exchanges = plan.count("Exchange hashpartitioning(o_orderkey")
    assert n_exchanges == 0, plan
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path_factory):
    """A join against a filtered dim must prune fact partitions at
    RUNTIME (DPP): the scan carries a dynamicpruning subquery instead of
    reading all partitions."""
    path = str(tmp_path_factory.mktemp("dpp") / "orders")
    orders = load_table(spark, sf_dir, "orders")
    write_any(orders, path, partition_by=["o_orderpriority"])
    fact = read_any(spark, path)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    )
    joined = fact.join(dim, "o_orderpriority").groupBy(
        "o_orderpriority"
    ).agg(F.count("*").alias("n"))
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    got = {r.o_orderpriority for r in joined.collect()}
    assert got == {"1-URGENT", "2-HIGH"}


def test_avro_gated_on_package_presence(spark, tmp_path_factory):
    """Avro is a separate spark-avro artifact: when it is absent, both
    the writer and the reader fail with Spark's own error, which names
    the missing module; when present, a round trip keeps every row."""
    import pytest
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    path = str(tmp_path_factory.mktemp("avro") / "t")
    missing = "Failed to find data source: avro"
    try:
        write_any(df, path, fmt="avro")
    except AnalysisException as e:
        assert missing in str(e), str(e)
        with pytest.raises(AnalysisException, match=missing):
            read_any(spark, path, fmt="avro")
        return
    back = read_any(spark, path, fmt="avro")
    assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_parquet_schema_evolution_merge(spark, tmp_path_factory):
    """Schema evolution: parts written with different (compatible)
    schemas must union under mergeSchema, with the missing column NULL
    for old parts — the append-only-pipeline upgrade path."""
    base = str(tmp_path_factory.mktemp("evolve") / "t")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(
        f"{base}/part=old"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    ).write.parquet(f"{base}/part=new")
    merged = read_any(spark, base, mergeSchema="true")
    assert set(merged.columns) == {"id", "s", "score", "part"}
    rows = {r.id: (r.s, r.score) for r in merged.collect()}
    assert rows[1] == ("a", None)  # old part: evolved column is NULL
    assert rows[2] == ("b", 9.5)


def test_compact_parquet_reduces_files(spark, tmp_path_factory):
    from adhesive_spark.sources.formats import compact_parquet

    src = str(tmp_path_factory.mktemp("cp") / "small")
    dest = str(tmp_path_factory.mktemp("cp") / "compact")
    # 40 tiny files
    spark.range(40000).withColumn("k", F.col("id") % 7).repartition(
        40
    ).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 40
    n_out = compact_parquet(
        spark, src, dest, target_file_mb=128, sort_within_by=["k"]
    )
    files = glob.glob(f"{dest}/part-*.parquet")
    assert len(files) == n_out == 1
    # same data, byte-identical multiset
    a = {(r.id, r.k) for r in spark.read.parquet(dest).collect()}
    b = {(r.id, r.k) for r in spark.read.parquet(src).collect()}
    assert a == b


def test_json_corrupt_record_modes(spark, tmp_path_factory):
    """Dirty-ingest contract at scale: PERMISSIVE quarantines malformed
    rows into _corrupt_record (the pipeline default — one bad crawl line
    must not kill a 100 TB load), DROPMALFORMED silently keeps only the
    clean rows, FAILFAST surfaces the error for strict loads."""
    import pyspark.sql.utils  # noqa: F401

    from adhesive_spark.sources.formats import read_any

    d = tmp_path_factory.mktemp("dirty")
    p = d / "data.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "{this is not json}\n"
        '{"id": 3, "v": "also ok"}\n'
    )
    schema = "id bigint, v string, _corrupt_record string"
    df = read_any(spark, str(p), "json", schema=schema, mode="PERMISSIVE")
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record
    dropped = read_any(
        spark, str(p), "json", schema="id bigint, v string", mode="DROPMALFORMED"
    )
    assert {r.id for r in dropped.collect()} == {1, 3}
    import pytest as _pytest

    with _pytest.raises(Exception, match="FAILFAST|Malformed"):
        read_any(
            spark, str(p), "json", schema="id bigint, v string", mode="FAILFAST"
        ).collect()


def test_python_datasource_synthetic_docs(spark):
    """Spark-4 Python DataSource: schema/partition-planning/generation
    owned in Python, distribution owned by Spark. Pinned properties:
    row count, partition parallelism, and per-document seeding (the same
    corpus under a different partition count)."""
    from adhesive_spark.sources.pydatasource import register_synthetic_docs

    register_synthetic_docs(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_docs", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 8
    assert [f.name for f in df.schema.fields] == [
        "doc_id",
        "source",
        "n_words",
        "text",
    ]
    # deterministic across partition layouts: same rows, any parallelism
    df2 = (
        spark.read.format("synthetic_docs")
        .option("n_docs", 500)
        .option("partitions", 3)
        .load()
    )
    a = {(r.doc_id, r.text) for r in df.collect()}
    b = {(r.doc_id, r.text) for r in df2.collect()}
    assert a == b
    # the generated corpus feeds the real operators
    from adhesive_spark.operators.text import token_count

    got = df.select(F.sum(token_count(F.col("text"))).alias("t")).first().t
    want = df.select(F.sum("n_words").alias("t")).first().t
    assert got == want


def test_python_datasource_streaming(spark, tmp_path_factory):
    """The streaming side of the custom source: offset-tracked
    micro-batches (next_doc high-water mark) draining to exactly the
    batch reader's corpus — replayable-offset determinism."""
    from adhesive_spark.sources.pydatasource import register_synthetic_docs

    register_synthetic_docs(spark)
    ckpt = str(tmp_path_factory.mktemp("pds") / "ckpt")
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("n_docs", 300)
        .option("batch_docs", 80)
        .option("partitions", 4)
        .load()
    )
    # latestOffset is state-free (always the corpus bound), so recovery
    # can never regress offsets and availableNow drains in one trigger;
    # batch_docs governs the per-partition slice size instead
    q = (
        stream.writeStream.format("memory")
        .queryName("t_pds")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = {(r.doc_id, r.text) for r in spark.table("t_pds").collect()}
    batch = (
        spark.read.format("synthetic_docs")
        .option("n_docs", 300)
        .option("partitions", 2)
        .load()
    )
    want = {(r.doc_id, r.text) for r in batch.collect()}
    assert got == want
    assert len(got) == 300


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir, tmp_path_factory):
    """Z-order vs linear sort: per-file min/max ranges must enable
    pruning on BOTH z-ordered columns, where the linear layout prunes on
    its sort column only. Measured directly from parquet footer stats —
    exactly what a reader's row-group pruning consults."""
    import pyarrow.parquet as pq

    from adhesive_spark.sources.formats import write_zordered
    from adhesive_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    d = tmp_path_factory.mktemp("zo")
    linear, zo = str(d / "linear"), str(d / "zorder")
    (
        events.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(linear)
    )
    write_zordered(events, zo, ["user_id", "value"], n_files=8, bits=8)

    def match_fraction(path, col, point):
        import glob

        files = glob.glob(f"{path}/part-*.parquet")
        assert len(files) >= 4, files
        hit = 0
        for f in files:
            md = pq.read_metadata(f)
            names = [
                md.row_group(0).column(j).path_in_schema
                for j in range(md.num_columns)
            ]
            k = names.index(col)
            lo = min(
                md.row_group(i).column(k).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(k).statistics.max
                for i in range(md.num_row_groups)
            )
            if lo <= point <= hi:
                hit += 1
        return hit / len(files)

    # data-derived probes so the test holds at every sf: median user
    # (uniform dimension), but p90 VALUE — the value column is
    # long-tail skewed, so a median probe lands in the dense low
    # buckets that linear 8-bit quantization packs into every file;
    # pruning is only observable out in the sparse tail
    mid_user, mid_value = events.selectExpr(
        "CAST(median(user_id) AS LONG)", "percentile(value, 0.9)"
    ).collect()[0]
    # linear layout: prunes on its sort column, useless on the other
    assert match_fraction(linear, "user_id", mid_user) <= 0.5
    assert match_fraction(linear, "value", mid_value) >= 0.9
    # z-order: BOTH columns prune
    zu = match_fraction(zo, "user_id", mid_user)
    zv = match_fraction(zo, "value", mid_value)
    assert zu <= 0.75, zu
    assert zv <= 0.75, zv
    # same data either way
    assert spark.read.parquet(zo).count() == events.count()


def test_sharded_jsonl_writer_manifest(spark, sf_dir, tmp_path):
    """sharded_jsonl write sink: one shard per task, manifest lists
    every committed shard with row/token counts, and reading back the
    manifest's shards reproduces the input exactly."""
    import json

    from adhesive_spark.sources.pydatasource import register_sharded_jsonl

    register_sharded_jsonl(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 100)
        .repartition(4)
    )
    out = str(tmp_path / "shards")
    docs.write.format("sharded_jsonl").mode("append").option(
        "path", out
    ).option("text_col", "text").save()

    manifest = json.load(open(f"{out}/manifest.json"))
    assert len(manifest["shards"]) == 4
    assert manifest["total_rows"] == docs.count()
    assert manifest["total_tokens"] > 0

    back = spark.read.json([s["path"] for s in manifest["shards"]])
    assert back.count() == manifest["total_rows"]
    got = {r.doc_id for r in back.select("doc_id").collect()}
    assert got == {r.doc_id for r in docs.select("doc_id").collect()}


def test_sharded_jsonl_append_merges_overwrite_cleans(spark, sf_dir, tmp_path):
    """append must MERGE into the existing manifest (no data loss);
    overwrite must publish only the new shards and remove the old
    files."""
    import json
    import os

    from adhesive_spark.sources.pydatasource import register_sharded_jsonl

    register_sharded_jsonl(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")

    a = docs.where(F.col("doc_id") < 50).repartition(2)
    b = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80)).repartition(2)
    for part in (a, b):
        part.write.format("sharded_jsonl").mode("append").option(
            "path", out
        ).save()
    m = json.load(open(f"{out}/manifest.json"))
    assert len(m["shards"]) == 4
    assert m["total_rows"] == a.count() + b.count()

    c = docs.where(F.col("doc_id") >= 90).repartition(1)
    c.write.format("sharded_jsonl").mode("overwrite").option(
        "path", out
    ).save()
    m2 = json.load(open(f"{out}/manifest.json"))
    assert len(m2["shards"]) == 1
    assert m2["total_rows"] == c.count()
    on_disk = {
        f"{out}/{f}" for f in os.listdir(out) if f.startswith("shard-")
    }
    assert on_disk == {s["path"] for s in m2["shards"]}


def test_python_datasource_filter_pushdown(spark):
    """The opt-in pushdown reader must (1) return exactly the requested
    doc_id slice, (2) PLAN only the partitions the clamp needs — scan
    pruning, not post-filtering — and (3) leave the default reader's
    sibling scans untouched (the Spark relation-cache sharp edge the
    opt-in exists to dodge)."""
    from adhesive_spark.sources.pydatasource import (
        _gen_doc,
        register_synthetic_docs,
    )

    register_synthetic_docs(spark)

    def load(push: bool):
        r = (
            spark.read.format("synthetic_docs")
            .option("n_docs", 1000)
            .option("partitions", 8)
        )
        if push:
            r = r.option("pushdown", "true")
        return r.load()

    df = load(True).filter("doc_id >= 100 AND doc_id < 102")
    assert sorted(map(tuple, df.collect())) == [
        _gen_doc(42, 100),
        _gen_doc(42, 101),
    ]
    # 2-doc clamp → 2 planned partitions (down from 8): the pruning
    # happened at partition PLANNING, before any row was generated
    assert df.rdd.getNumPartitions() == 2

    # mixed predicate: the non-doc_id part must be returned to Spark
    # and still applied post-scan
    mixed = load(True).filter(
        "doc_id >= 100 AND doc_id < 120 AND source = 'src1'"
    )
    want = [
        _gen_doc(42, i) for i in range(100, 120) if i % 4 == 1
    ]
    assert sorted(map(tuple, mixed.collect())) == want

    # default reader: filtered scan then a FULL scan of the same load()
    # — the full scan must not inherit the filtered plan
    b = load(False)
    assert b.filter("doc_id < 10").count() == 10
    assert b.count() == 1000


# ns values with sub-microsecond remainders on both sides of the epoch:
# DuckDB's ns -> us cast truncates toward zero, like Spark's ``div``
_NS_TS = [
    -86_400_000_000_001,
    -1_500,
    -1,
    0,
    1_500,
    1_700_000_000_123_456_789,
]


def test_load_table_truncates_ns_timestamps_like_duckdb(spark, tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, TimestampType

    ids = list(range(len(_NS_TS)))
    pq.write_table(
        pa.table({"id": ids, "ts": pa.array(_NS_TS, pa.timestamp("ns"))}),
        tmp_path / "ns_events.parquet",
    )
    raw = spark.read.parquet(str(tmp_path / "ns_events.parquet"))
    assert isinstance(raw.schema["ts"].dataType, LongType)  # the ns branch
    df = load_table(spark, str(tmp_path), "ns_events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = [
        tuple(r)
        for r in df.select("id", F.unix_micros("ts")).orderBy("id").collect()
    ]
    want = duckdb.connect().execute(
        "SELECT id, epoch_us(CAST(ts AS TIMESTAMP)) FROM read_parquet(?) "
        "ORDER BY id",
        [str(tmp_path / "ns_events.parquet")],
    ).fetchall()
    assert got == want
    assert [us for _, us in got][:3] == [-86_400_000_000, -1, 0]


def test_load_table_passes_us_timestamps_through(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    us = [-1, 0, 1_700_000_000_123_456]
    pq.write_table(
        pa.table({"id": [0, 1, 2], "ts": pa.array(us, pa.timestamp("us"))}),
        tmp_path / "us_events.parquet",
    )
    df = load_table(spark, str(tmp_path), "us_events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.schema == spark.read.parquet(str(tmp_path / "us_events.parquet")).schema
    got = df.select(F.unix_micros("ts")).orderBy("id").collect()
    assert [r[0] for r in got] == us
