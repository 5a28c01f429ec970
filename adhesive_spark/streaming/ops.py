"""Structured Streaming operators.

The reference has no streaming surface (SURVEY §2.2 marks it absent);
these are the Spark-first extensions a large-scale event pipeline needs,
built on the same event schema as the batch `events` table so every
streaming op has a batch twin (q22 is the batch twin of
:func:`tumbling_counts`).

All operators take/return streaming DataFrames and are tested with the
file source + ``availableNow`` trigger + memory sink (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from adhesive_spark.sources.registry import checkpoint_corpus


def tumbling_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark.

    State size is bounded by the watermark: windows older than
    (max event time - watermark) are finalized and evicted — the knob
    that keeps 100 TB/day streams in bounded executor memory.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def sessionized_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows per user (gap-based), the streaming-native
    sessionization operator."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "value_sum",
        )
    )


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks in the preceding ``horizon``.

    Both sides are watermarked and the join condition bounds event-time
    distance, so each side's buffered state is evicted once the other
    side's watermark passes — the state-bounding requirement for
    stream-stream joins at scale.
    """
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
        "purchase_value",
    )


def stream_dedup(
    events: DataFrame,
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes — the streaming twin of :func:`dedup_exact`."""
    keys = keys or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def enrich_with_static(
    events: DataFrame,
    dim: DataFrame,
    *,
    key: str = "user_id",
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension — the lookup-table pattern of every event pipeline.
    No state is kept for the static side. Note the static DataFrame's
    file listing is snapshotted at creation: an in-place parquet
    overwrite of its path is NOT picked up (and may fail reads when old
    files vanish); refreshing mid-query needs a transactional table
    format or an explicit re-created DataFrame on restart. The stream
    side carries no watermark requirement because the join adds no
    state.

    ``broadcast_dim=True`` hints the lookup-table case (dim fits on
    executors); pass False for a large dimension so Spark's size-based
    planner can pick a shuffled join instead of failing the broadcast.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on=key, how=how)


def _state_fs(spark, path_str: str):
    """Hadoop FileSystem handle for ``path_str`` (shared incantation)."""
    from adhesive_spark.sources.fsutil import hadoop_fs

    return hadoop_fs(spark, path_str)


def _committed_epochs(spark, state_path: str) -> list[int]:
    """Epoch ids under ``state_path`` whose write COMPLETED (has the
    committer's _SUCCESS marker). A crash mid-write leaves a dir without
    the marker; it is invisible here and safely overwritten on replay."""
    fs, root, jvm = _state_fs(spark, state_path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("__epoch="):
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def read_rollup_state(
    spark, state_path: str, *, epoch: int | None = None
) -> DataFrame:
    """Read a committed rollup/snapshot state (one epoch directory) —
    the latest by default, or TIME-TRAVEL to a specific retained
    ``epoch`` (the maintenance writers keep the previous epoch until
    the next commit, so "current" and "as of the prior epoch" are
    always both readable — the two versions an incident rollback or an
    A/B diff actually needs; a table format with full history is the
    production extension of the same layout).

    Readers never race the writer: each epoch is a fresh directory, the
    previous epoch is retained until the next merge, and only
    _SUCCESS-marked epochs are visible.
    """
    epochs = _committed_epochs(spark, state_path)
    if not epochs:
        raise FileNotFoundError(f"no committed rollup state under {state_path}")
    if epoch is not None:
        if epoch not in epochs:
            raise FileNotFoundError(
                f"epoch {epoch} is not committed/retained under "
                f"{state_path}; retained epochs: {epochs}"
            )
        return spark.read.parquet(f"{state_path}/__epoch={epoch}")
    return spark.read.parquet(f"{state_path}/__epoch={epochs[-1]}")


def _epoch_guarded_snapshot(state_path: str, merge_fn):
    """foreachBatch body factory for SNAPSHOT-style state maintainers
    (rollup merge, CDC apply) — the crash-semantics-critical machinery
    lives ONCE: replay skip on already-committed epochs, previous
    committed snapshot in, fresh ``__epoch=<id>`` dir out (the write
    never touches the dir a reader — or the merge's own input — is
    scanning), previous epoch retained for in-flight readers, older
    epochs deleted. ``merge_fn(batch_df, prev_state_or_None) ->
    DataFrame`` supplies only the merge semantics. (The dedup ingest
    and quality router do NOT fit this shape: they maintain
    append-only epoch unions / paired sinks, not a rolling snapshot.)
    """

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epochs = _committed_epochs(spark, state_path)
        if epochs and epochs[-1] >= epoch_id:
            return  # replayed micro-batch: already applied
        prev = (
            spark.read.parquet(f"{state_path}/__epoch={epochs[-1]}")
            if epochs
            else None
        )
        out = merge_fn(batch_df, prev)
        out.write.mode("overwrite").parquet(
            f"{state_path}/__epoch={epoch_id}"
        )
        fs, _, jvm = _state_fs(spark, state_path)
        for old in epochs[:-1]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{state_path}/__epoch={old}"),
                True,
            )

    return _fn


def streaming_rollup_maintenance(
    events: DataFrame,
    keys: list[str],
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming materialized view: maintain the algebraic rollup state
    (operators/incremental.py) by merging EACH micro-batch's partial
    aggregate into a parquet state table via ``foreachBatch`` — the
    streaming twin of q68's batch merge.

    Per micro-batch cost is `state ⊕ batch-partial`, never a rescan of
    history, so a 100 TB/day stream maintains a rollup with bounded
    work. The state is VERSIONED: each epoch writes a fresh
    ``state_path/__epoch=<id>`` directory (distributed write, nothing is
    ever collected on the driver — key cardinality is unbounded), the
    previous epoch is kept for in-flight readers, older epochs are
    deleted. foreachBatch is at-least-once: a replayed micro-batch is
    detected by its epoch id being <= the latest COMMITTED (_SUCCESS)
    epoch and skipped; a crash mid-write leaves no _SUCCESS, so the
    replay overwrites the torn directory. (A table format with
    transactional MERGE is the production hardening of the same shape.)

    Returns the started StreamingQuery; read the state with
    :func:`read_rollup_state` after (or during) the run.
    """
    from adhesive_spark.operators.incremental import merge_rollup, rollup_events

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = rollup_events(batch_df, keys)
        return merge_rollup(prev, delta, keys) if prev is not None else delta

    return (
        events.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_incremental_dedup(
    docs,
    state_path: str,
    output_path: str,
    *,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuously-deduplicating ingest: per micro-batch, exact-dedup
    WITHIN the batch (min-id survivor) and against the fingerprints of
    everything already accepted, then append the survivors and their
    fingerprints — the streaming twin of operators.dedup.dedup_incremental.

    State is the epoch-directory pattern of
    :func:`streaming_rollup_maintenance`, but append-only: every epoch's
    accepted fingerprints land in ``state_path/__epoch=<id>`` and the
    store is the UNION of all committed epochs (partition discovery);
    accepted documents land in ``output_path/__epoch=<id>``. Replayed
    micro-batches are skipped via the committed-epoch high-water mark, so
    at-least-once delivery never double-accepts. Nothing is collected on
    the driver; the per-batch cost is one anti equi-join of the batch
    against the narrow (fingerprint) store — production buckets the store
    on the fingerprint to keep that join co-located.
    """
    from adhesive_spark.operators.text import fingerprint

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epochs = _committed_epochs(spark, state_path)
        if epochs and epochs[-1] >= epoch_id:
            return  # replayed micro-batch
        b = batch_df.withColumn("__fp", fingerprint(F.col(text_col)))
        if epochs:
            # ONLY committed epoch dirs: blind partition discovery would
            # also read a torn (no-_SUCCESS) dir from a crashed attempt
            # of THIS epoch and anti-join the replay's own docs away
            store = spark.read.parquet(
                *[f"{state_path}/__epoch={e}" for e in epochs]
            ).select("doc_fp")
            b = b.join(
                store.withColumnRenamed("doc_fp", "__fp"), "__fp", "left_anti"
            )
        keep = b.groupBy("__fp").agg(F.min(id_col).alias(id_col))
        # a batch holding several copies of the same (id, text) row would
        # match keep once PER COPY — collapse to one survivor per
        # fingerprint, exactly what the batch twin dedup_exact emits
        survivors = (
            b.join(keep, [id_col, "__fp"])
            .dropDuplicates(["__fp"])
            .transform(checkpoint_corpus)
        )
        survivors.drop("__fp").write.mode("overwrite").parquet(
            f"{output_path}/__epoch={epoch_id}"
        )
        # fingerprints LAST: their _SUCCESS is the commit marker, so a
        # crash between the two writes replays into an overwrite
        survivors.select(F.col("__fp").alias("doc_fp")).write.mode(
            "overwrite"
        ).parquet(f"{state_path}/__epoch={epoch_id}")

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_accepted_docs(spark, output_path: str, state_path: str) -> DataFrame:
    """All documents accepted by :func:`streaming_incremental_dedup` —
    output epochs whose state commit (the _SUCCESS of the fingerprint
    write, which happens LAST in the epoch) landed; a crash between the
    two writes leaves an output dir that is invisible here and
    overwritten on replay."""
    epochs = _committed_epochs(spark, state_path)
    if not epochs:
        raise FileNotFoundError(
            f"no committed epochs in the state store {state_path} (the "
            f"fingerprint _SUCCESS is the commit marker), so no readable "
            f"output under {output_path}"
        )
    return spark.read.parquet(*[f"{output_path}/__epoch={e}" for e in epochs])


def streaming_index_ingest(
    embeddings: DataFrame,
    centroids_table: str,
    output_path: str,
    checkpoint_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> object:
    """Continuously maintain an IVF ANN index from a stream of new
    embeddings: each micro-batch is assigned to its nearest centroid
    (argmax-as-aggregate against the broadcast ``centroids_table``, the
    same math as the batch ``build_ivf_index``) and appended under
    ``output_path/__epoch=<id>`` PARTITIONED BY centroid_id — directory
    partitioning plays the bucket role for appended data, so a probe
    that filters ``centroid_id IN (<probes>)`` reads only the probed
    lists of every epoch (partition pruning at the scan).

    Epoch-committed exactly like :func:`streaming_incremental_dedup`:
    a replayed micro-batch (at-least-once delivery) overwrites its own
    epoch dir instead of double-appending, and readers only union dirs
    whose ``_SUCCESS`` landed.  At 100 TB this is the index
    freshness path — the bulk build is paid once, new vectors flow in
    per epoch, and a periodic compaction folds epochs into the bucketed
    base table.
    """
    from adhesive_spark.operators.similarity import cosine

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epochs = _committed_epochs(spark, output_path)
        if epochs and epochs[-1] >= epoch_id:
            return  # replayed micro-batch: epoch dir already committed
        cents = spark.table(centroids_table)
        scored = batch_df.select(
            F.col(id_col), F.col(vec_col).alias("__vec")
        ).crossJoin(F.broadcast(cents)).select(
            id_col,
            "__vec",
            F.struct(
                F.round(cosine(F.col("__vec"), F.col("cvec")), 6).alias(
                    "sim"
                ),
                (-F.col("centroid_id")).alias("neg_cid"),
            ).alias("__cand"),
        )
        assigned = (
            scored.groupBy(id_col)
            .agg(
                F.first("__vec").alias(vec_col),
                F.max("__cand").alias("__best"),
            )
            .select(
                id_col,
                vec_col,
                (-F.col("__best.neg_cid")).alias("centroid_id"),
            )
        )
        assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{output_path}/__epoch={epoch_id}"
        )

    return (
        embeddings.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_streamed_index(spark, output_path: str) -> DataFrame:
    """Union of all committed epoch dirs of
    :func:`streaming_index_ingest` — filter ``centroid_id`` before an
    action and partition pruning skips every non-probed list."""
    epochs = _committed_epochs(spark, output_path)
    if not epochs:
        raise FileNotFoundError(
            f"no committed index epochs under {output_path}"
        )
    return spark.read.option("basePath", output_path).parquet(
        *[f"{output_path}/__epoch={e}" for e in epochs]
    )


def streaming_quality_router(
    docs: DataFrame,
    accept_path: str,
    reject_path: str,
    *,
    checkpoint_path: str,
    text_col: str = "text",
    min_quality: float = 0.3,
) -> object:
    """Quality-gate a document stream and ROUTE it: per micro-batch,
    score every document (operators.text.quality_score — pure column
    expressions, no Python) and fan the batch out to an accepted sink
    and a quarantine sink carrying the score and a reject reason — the
    standard ingest topology where rejects stay inspectable instead of
    vanishing in a filter.

    Epoch-committed like :func:`streaming_incremental_dedup`: both
    sides land under ``<path>/__epoch=<id>``; the ACCEPT write happens
    LAST so its ``_SUCCESS`` is the epoch's commit marker (readers of
    either side trust only accept-committed epochs; a crash between
    the two writes replays into an overwrite). The batch is
    localCheckpoint'ed once so scoring runs once, not once per sink.
    At 100 TB each side is a straight partitioned append — no
    shuffle, no state store, and back-pressure is per-epoch file IO.
    """
    from adhesive_spark.operators.text import quality_score

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epochs = _committed_epochs(spark, accept_path)
        if epochs and epochs[-1] >= epoch_id:
            return  # replayed micro-batch: epoch already committed
        scored = batch_df.withColumn(
            "quality", quality_score(F.col(text_col))
        ).transform(checkpoint_corpus)
        ok = F.col("quality") >= min_quality
        scored.where(~ok).withColumn(
            "reject_reason", F.lit("low_quality")
        ).write.mode("overwrite").parquet(
            f"{reject_path}/__epoch={epoch_id}"
        )
        # accept side LAST: its _SUCCESS commits the epoch for BOTH sides
        scored.where(ok).write.mode("overwrite").parquet(
            f"{accept_path}/__epoch={epoch_id}"
        )

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_routed(
    spark, side_path: str, accept_path: str
) -> DataFrame:
    """Rows landed by :func:`streaming_quality_router` on one side
    (pass ``accept_path`` twice to read the accepted side) — unions
    only epochs whose accept-side ``_SUCCESS`` (the commit marker)
    landed, so a torn epoch from a crashed attempt is invisible."""
    epochs = _committed_epochs(spark, accept_path)
    if not epochs:
        raise FileNotFoundError(
            f"no committed router epochs under {accept_path} (the accept-"
            f"side _SUCCESS is the commit marker for both sides)"
        )
    return spark.read.parquet(
        *[f"{side_path}/__epoch={e}" for e in epochs]
    )


def compact_streamed_index(
    spark,
    output_path: str,
    table: str,
    *,
    n_buckets: int = 16,
) -> int:
    """Fold every committed ingest epoch into the persisted BUCKETED
    base table — the periodic compaction the streaming_index_ingest
    docstring promises: epoch directories are cheap to append but each
    probe pays one file-listing per epoch, so a compactor periodically
    rewrites base ∪ epochs as one bucketed-by-centroid table (probes
    then bucket-prune like knn_ivf_probe) and retires the epoch dirs.

    Returns the number of epochs folded.  Crash-safe in the same spirit
    as the ingest: the base table swap is a single saveAsTable commit,
    and epoch dirs are deleted only AFTER it succeeds — a crash in
    between leaves duplicates visible to ``read_streamed_index`` but
    nothing lost, and the next compaction converges.
    """
    from adhesive_spark.sources.formats import write_bucketed_table
    from adhesive_spark.sources.fsutil import hadoop_fs

    epochs = _committed_epochs(spark, output_path)
    if not epochs:
        return 0
    fresh = (
        spark.read.option("basePath", output_path)
        .parquet(*[f"{output_path}/__epoch={e}" for e in epochs])
        # the epoch id is commit bookkeeping, not index data — folding
        # it into the base would fragment the schema per compaction
        .drop("__epoch")
    )
    base = None
    if spark.catalog.tableExists(table):
        # materialize the current base OUT of the table before the
        # overwrite (reading the table while overwriting it is illegal)
        base = spark.table(table).transform(checkpoint_corpus)
        merged = base.unionByName(fresh)
    else:
        merged = fresh
    wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    fs, loc, _ = hadoop_fs(spark, f"{wh}/{table}")
    if fs.exists(loc):
        fs.delete(loc, True)
    write_bucketed_table(
        merged, table, bucket_cols=["centroid_id"], n_buckets=n_buckets
    )
    fs, root, _ = _state_fs(spark, output_path)
    for e in epochs:
        p = spark._jvm.org.apache.hadoop.fs.Path(
            f"{output_path}/__epoch={e}"
        )
        fs.delete(p, True)
    return len(epochs)


def streaming_cdc_apply(
    log: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    state_path: str,
    *,
    checkpoint_path: str,
    op_col: str = "op",
    delete_op: str = "delete",
):
    """Streaming MERGE INTO: maintain a current-snapshot table from a
    CDC stream by applying each micro-batch through
    :func:`adhesive_spark.operators.incremental.apply_cdc` — latest op
    per key wins within the batch, the batch supersedes the snapshot,
    surviving deletes drop their key. The streaming twin of q180, and
    the third member of the epoch-committed foreachBatch family
    (rollup maintenance ⊕, dedup ingest, CDC apply).

    State layout and crash semantics are identical to
    :func:`streaming_rollup_maintenance`: each epoch writes a fresh
    ``state_path/__epoch=<id>`` snapshot (distributed write, driver
    never sees a row), ``_SUCCESS`` is the commit marker, replayed
    micro-batches (epoch <= last committed) are skipped, the previous
    epoch is retained for in-flight readers. Per-batch cost is one
    window over the BATCH plus one anti-join against the snapshot —
    history is touched once per epoch, never per row. A table format
    with transactional MERGE (Delta/Iceberg) is the production
    hardening of this exact shape.

    Returns the started StreamingQuery; read the snapshot with
    :func:`read_rollup_state` (same epoch-dir layout).
    """
    from adhesive_spark.operators.incremental import apply_cdc

    def _apply(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        return apply_cdc(
            batch_df,
            key_cols,
            seq_cols,
            op_col,
            base=prev,
            delete_op=delete_op,
        )

    return (
        log.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _apply)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_session_spans(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap: int,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming gap-sessionization: maintain per-key merged session
    ISLANDS from an event stream — the streaming twin of
    :func:`adhesive_spark.operators.asof.session_spans` (q409/q410) and
    the fourth member of the epoch-committed foreachBatch family.

    State = the islands themselves: one row ``(key, __s, __e, __n)``
    per open-or-closed session span, bounded by SESSION count, never
    event count. Each micro-batch turns its events into closed
    intervals ``[t, t + gap - 1]`` carrying an event-count measure,
    unions the previous epoch's islands, and re-sweeps
    (``asof._islands``). That is legal for exactly the reason
    ``skew.salted_sweep`` is: island rows are closed under partial
    evaluation (spans re-merge, measures re-sum) — the epoch split
    plays the role the salt split plays in the batch whale-key engine.

    The mergeability buys a guarantee watermarks cannot: ANY arrival
    order converges to the batch answer bit-for-bit, including a late
    event that retroactively BRIDGES two already-materialized sessions
    into one (``F.session_window`` must drop such an event once the
    watermark passes; a snapshot re-merge just fuses the islands).
    Crash/replay semantics are inherited unchanged from
    :func:`_epoch_guarded_snapshot`.

    Per-epoch cost: one sweep over (batch events + current islands) —
    state the batch supersedes is touched once per epoch, never per
    row. Read the per-key rollup with :func:`read_session_spans`.
    """
    from adhesive_spark.operators.asof import _islands

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        base = batch_df.select(
            F.col(key_col),
            F.col(ts_col).alias("__s"),
            (F.col(ts_col) + F.lit(gap) - F.lit(1)).alias("__e"),
            F.lit(1).cast("long").alias("__n"),
        )
        if prev is not None:
            base = base.unionByName(
                prev.select(
                    key_col, "__s", "__e", F.col("__n").cast("long")
                )
            )
        return _islands(base, [key_col], "__s", "__e", measure_cols=["__n"])

    return (
        events.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_session_spans(
    spark, state_path: str, key_col: str, gap: int
) -> DataFrame:
    """Aggregate the committed island state to the per-key rollup
    ``(key, n_sessions, n_events, span)`` — the same final aggregate
    (and therefore the same integers) as the batch
    :func:`~adhesive_spark.operators.asof.session_spans`."""
    islands = read_rollup_state(spark, state_path)
    return islands.groupBy(key_col).agg(
        F.count("*").alias("n_sessions"),
        F.sum("__n").cast("long").alias("n_events"),
        F.sum(F.col("__e") - F.col("__s") - F.lit(gap) + F.lit(1))
        .cast("long")
        .alias("span"),
    )


def streaming_hll_registers(
    keys: DataFrame,
    col: str,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming cardinality sketch: maintain the 64-register
    HyperLogLog state (operators/sketches.py) across micro-batches by
    MAX-merging each batch's registers into the snapshot — the fourth
    member of the epoch-committed foreachBatch family (rollup ⊕, dedup
    ingest, CDC apply, HLL max-merge).

    This is the streaming payoff of register mergeability: per-batch
    cost is one aggregate over the BATCH to ≤64 rows plus a 64-row
    merge — a stream of any size maintains its distinct-count profile
    with constant state and no key-level shuffle. Crash/replay
    semantics are the `_epoch_guarded_snapshot` contract (committed
    epoch dirs, replayed batches skipped). Replay-safety needs no
    special casing here: max-merge is idempotent, but the epoch guard
    still skips replays so the state write amplification stays one dir
    per NEW epoch.

    Read the estimate with :func:`read_hll_estimate`.
    """
    from adhesive_spark.operators.sketches import hll_registers

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = hll_registers(batch_df, col)
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy("bucket")
            .agg(F.max("m_j").alias("m_j"))
        )

    return (
        keys.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_estimate(spark, state_path: str) -> DataFrame:
    """One-row (m, nonempty, s_scaled, est_hll) from the committed
    streaming register state — the same estimator the batch q241 uses,
    so stream-then-estimate equals batch-estimate exactly (test)."""
    from adhesive_spark.operators.sketches import (
        hll_estimate_from_registers,
    )

    return hll_estimate_from_registers(read_rollup_state(spark, state_path))


def streaming_cms_counters(
    items: DataFrame,
    col: str,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming Count-Min maintenance: each micro-batch's D x W
    counter table (operators/sketches.py) ADD-merges into the
    epoch-committed snapshot — the additive sibling of
    :func:`streaming_hll_registers` (max-merge). Per-batch cost is one
    map-side-combining aggregate to <=64 counter rows plus a 64-row
    merge; the frequency profile of an unbounded stream lives in
    constant state. Probe the committed state with
    ``operators.sketches.cms_probe`` via :func:`read_rollup_state`.
    """
    from adhesive_spark.operators.sketches import cms_build

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = cms_build(batch_df, col)
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy("r", "c")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return (
        items.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_cusum_daily(
    events: DataFrame,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming CUSUM drift state: each micro-batch's purchase revenue
    ADD-merges into a per-day cents table — the additive state behind
    the batch change-point detector (eval_queries q259). State is
    bounded by the CALENDAR (one row per day ever seen), not the
    stream: per-batch cost is one map-side-combining day aggregate over
    the batch plus an ~n_days-row merge, under the same
    `_epoch_guarded_snapshot` replay contract as the rollup/HLL/CMS
    family. Read the alarm shortlist with :func:`read_cusum_alarms`.
    """

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = (
            batch_df.where(F.col("event_type") == "purchase")
            .select(
                F.expr("unix_micros(ts) div 86400000000").alias("day"),
                F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias(
                    "cents"
                ),
            )
            .groupBy("day")
            .agg(F.sum("cents").cast("long").alias("rev"))
        )
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy("day")
            .agg(F.sum("rev").cast("long").alias("rev"))
        )

    return (
        events.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_cusum_alarms(spark, state_path: str, top: int = 5) -> DataFrame:
    """Top-``top`` |CUSUM| days from the committed streaming day-state
    — the identical integer arithmetic as the batch q259 (exact-cents
    mean, running residual sum, |cusum| shortlist), so stream-then-read
    equals the batch detector row-for-row (test)."""
    from pyspark.sql import Window

    daily = read_rollup_state(spark, state_path)
    mean = daily.agg(
        F.expr("CAST(sum(rev) div count(*) AS BIGINT)").alias("mean_rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.crossJoin(F.broadcast(mean))
        .select(
            "day",
            "rev",
            F.sum(F.col("rev") - F.col("mean_rev")).over(w).alias(
                "cusum_cents"
            ),
        )
    )
    return cusum.orderBy(
        F.abs(F.col("cusum_cents")).desc(), F.col("day")
    ).limit(top)


def streaming_grid_cells(
    points: DataFrame,
    x_col: str,
    y_col: str,
    state_path: str,
    *,
    checkpoint_path: str,
    cell_milli: int = 25,
):
    """Streaming embedding-density state: each micro-batch's points
    quantize to the q260 grid (exact milli integers, +1e6 shift) and
    their per-cell counts ADD-merge into the epoch-committed snapshot.
    State is bounded by the GRID (occupied cells), not the stream —
    the additive sibling of the day-state CUSUM: a point stream of any
    size maintains its density profile in a few hundred rows, and the
    batch q260 clustering (core filter → components) reads straight
    off the committed cells. The density drift of an embedding feed —
    new dense regions appearing between epochs — is a diff of two
    committed snapshots.
    """

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = (
            batch_df.select(
                F.expr(
                    f"(CAST(ROUND(CAST({x_col} AS DOUBLE) * 1000, 0)"
                    f" AS BIGINT) + 1000000) div {cell_milli}"
                ).alias("cx"),
                F.expr(
                    f"(CAST(ROUND(CAST({y_col} AS DOUBLE) * 1000, 0)"
                    f" AS BIGINT) + 1000000) div {cell_milli}"
                ).alias("cy"),
            )
            .groupBy("cx", "cy")
            .agg(F.count("*").cast("long").alias("n"))
        )
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy("cx", "cy")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    return (
        points.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_srm_counts(
    events: DataFrame,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming sample-ratio-mismatch state: per micro-batch, each
    user's md5-parity arm and purchase count ADD-merge into a per-
    (user, arm) table — the live state behind the q266 A/B guard.
    State is bounded by the user population (not the event stream);
    the alarm read (:func:`read_srm_guard`) recomputes the exact
    chi-square identity off the committed state, so the experiment
    dashboard's SRM bit is live without rescanning any events.
    """

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = (
            batch_df.select(
                "user_id",
                F.expr(
                    "conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
                    " 16, 10) % 2"
                )
                .cast("long")
                .alias("arm"),
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .cast("long")
                .alias("purchases"),
            )
            .groupBy("user_id", "arm")
            .agg(F.sum("purchases").cast("long").alias("purchases"))
        )
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy("user_id", "arm")
            .agg(F.sum("purchases").cast("long").alias("purchases"))
        )

    return (
        events.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_srm_guard(spark, state_path: str) -> DataFrame:
    """One-row A/B readout off the committed per-user state — the
    identical integer arithmetic as the batch q266 (per-arm users and
    purchase rates in ppm, SRM chi² via (u0−u1)²/(u0+u1) in milli), so
    stream-then-read equals the batch readout column-for-column."""
    per_user = read_rollup_state(spark, state_path)
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("long").alias("users"),
        F.sum("purchases").cast("long").alias("purchases"),
    )
    a0 = arms.where(F.col("arm") == 0).select(
        F.col("users").alias("u0"), F.col("purchases").alias("p0")
    )
    a1 = arms.where(F.col("arm") == 1).select(
        F.col("users").alias("u1"), F.col("purchases").alias("p1")
    )
    return a0.crossJoin(F.broadcast(a1)).select(
        "u0",
        "u1",
        "p0",
        "p1",
        F.expr(
            "CAST((u0 - u1) * (u0 - u1) * 1000 div (u0 + u1) AS BIGINT)"
        ).alias("srm_chi2_milli"),
        F.expr("CAST(p0 * 1000000 div u0 AS BIGINT)").alias("rate0_ppm"),
        F.expr("CAST(p1 * 1000000 div u1 AS BIGINT)").alias("rate1_ppm"),
        F.expr(
            "CAST(p0 * 1000000 div u0 - p1 * 1000000 div u1 AS BIGINT)"
        ).alias("rate_delta_ppm"),
    )


def streaming_mom_state(
    events: DataFrame,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming median-of-means monitor state: maintain the 16-row
    (bucket, n, Σcents) MoM partial sums
    (queries/estimator_queries.mom_bucket_sums) across micro-batches by
    per-bucket ADDITION — the robust-mean sibling of the HLL max-merge
    member of the epoch-committed foreachBatch family. Addition is not
    idempotent, so replay-safety leans entirely on the
    `_epoch_guarded_snapshot` contract (committed epoch dirs, replayed
    batches skipped) — same as the rollup-⊕ member.

    Constant state at any stream size: per-batch cost is one 16-row
    aggregate over the BATCH plus a 16-row merge; the readout
    (:func:`read_mom_estimate`) is the exact batch q373 row, because
    (n, Σ) partial sums are mergeable across ANY split of the stream.
    """
    from adhesive_spark.queries.estimator_queries import mom_bucket_sums

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = mom_bucket_sums(batch_df)
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy("b")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("s").cast("long").alias("s"),
            )
        )

    return (
        events.writeStream.foreachBatch(
            _epoch_guarded_snapshot(state_path, _merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_mom_estimate(spark, state_path: str) -> DataFrame:
    """One-row q373 readout (n_events, totals, global mean, MoM,
    bucket extremes, dev_ppm) from the committed streaming MoM state —
    bit-equal to the batch query on the same rows (test)."""
    from adhesive_spark.queries.estimator_queries import mom_report

    return mom_report(read_rollup_state(spark, state_path))
