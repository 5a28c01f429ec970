"""Structured Streaming operators.

The reference has no streaming surface (SURVEY §2.2 marks it absent);
these are the Spark-first extensions a large-scale event pipeline needs,
built on the same event schema as the batch `events` table so every
streaming op has a batch twin (q22 is the batch twin of
:func:`tumbling_counts`).

All operators take/return streaming DataFrames and are tested with the
file source + ``availableNow`` trigger + memory sink (tests/test_streaming.py).

The ``streaming_*`` sinks share one epoch-commit protocol, written once
here (:func:`_start`, :func:`_guarded`, :func:`_snapshot`,
:func:`_read_committed`, :func:`_delete_epochs`, :func:`_fold`). Each
micro-batch runs through ``foreachBatch`` and lands in a fresh
``<path>/__epoch=<id>`` directory (a distributed write; no row reaches
the driver, so key cardinality is unbounded):

- Commit marker. An epoch is committed when the ``_SUCCESS`` file of
  its marker directory lands. A sink that writes several directories
  per epoch writes the marker directory last, so a crash between the
  writes leaves the epoch uncommitted.
- Replay skip. ``foreachBatch`` is at-least-once: a micro-batch whose
  epoch id is <= the last committed epoch was already applied and is
  skipped, so a replay never applies a batch twice (an additive state
  would double).
- Torn epochs. A crash mid-write leaves a directory without
  ``_SUCCESS``. Readers union only committed epochs, so a torn one is
  invisible, and the replay of that epoch overwrites it.
- Retention. A snapshot sink reads the previous committed epoch, writes
  the new one and then deletes the older ones, so the previous epoch
  stays readable for in-flight readers and for
  ``read_rollup_state(epoch=...)``. An append-only sink keeps every
  epoch (its state is their union) until a compaction folds them.

Algebraic states (HLL, CMS, CUSUM, grid, SRM, MoM) merge through one
fold: the batch's delta and the previous state regroup by the state's
keys, each column under its own aggregate. Per-batch cost is the
batch's aggregate plus a merge with the state, never a rescan of
history. A table format with transactional MERGE is the production
hardening of the same shape.

:func:`streaming_cusum_daily`'s batch twin is
``operators.monitoring.daily_purchase_rev``: each micro-batch's delta is
that function over the batch, and :func:`read_cusum_alarms` is the same
``cusum_alarms`` readout as the batch q259.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adhesive_spark.operators.monitoring import (
    arm_purchases,
    cusum_alarms,
    daily_purchase_rev,
    grid_cell,
    srm_readout,
)
from adhesive_spark.sources.fsutil import hadoop_fs
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


def _epoch_dir(path: str, epoch: int) -> str:
    """The directory of ``epoch`` under ``path``."""
    return f"{path}/__epoch={epoch}"


def _committed_epochs(spark, state_path: str) -> list[int]:
    """Epoch ids under ``state_path`` whose write COMPLETED (has the
    committer's _SUCCESS marker), ascending."""
    fs, root, jvm = hadoop_fs(spark, state_path)
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


def _read_committed(
    spark,
    path: str,
    epochs: list[int] | None = None,
    *,
    missing: str = "",
    partitioned: bool = False,
) -> DataFrame:
    """Union of the ``epochs`` directories under ``path`` — by default
    every committed one. A caller whose commit marker lives under
    another path, or that acts on the same list afterwards, passes the
    list it read. An empty list raises ``FileNotFoundError(missing)``.
    ``partitioned`` reads with ``path`` as basePath, so ``__epoch`` and
    a writer's ``partitionBy`` columns come back as columns."""
    if epochs is None:
        epochs = _committed_epochs(spark, path)
    if not epochs:
        raise FileNotFoundError(missing or f"no committed epochs under {path}")
    reader = spark.read.option("basePath", path) if partitioned else spark.read
    return reader.parquet(*[_epoch_dir(path, e) for e in epochs])


def _delete_epochs(spark, path: str, epochs: list[int]) -> None:
    """Delete the ``epochs`` directories under ``path``."""
    fs, _, jvm = hadoop_fs(spark, path)
    for e in epochs:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_epoch_dir(path, e)), True)


def _guarded(marker_path: str, body):
    """foreachBatch function that runs ``body(batch_df, epoch_id,
    epochs)`` once per epoch: a batch whose epoch id is not past the
    last committed epoch under ``marker_path`` is a replay and is
    skipped. ``epochs`` are the committed epochs when the batch starts;
    ``body`` must write the ``marker_path`` epoch last."""

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        epochs = _committed_epochs(batch_df.sparkSession, marker_path)
        if epochs and epochs[-1] >= epoch_id:
            return  # replayed micro-batch: already committed
        body(batch_df, epoch_id, epochs)

    return _fn


def _snapshot(state_path: str, merge_fn):
    """foreachBatch function of a snapshot state: the previous committed
    epoch (None on the first) and the batch go through ``merge_fn(
    batch_df, prev) -> DataFrame``, the result is the new epoch, and the
    epochs before the previous one are deleted."""

    def _body(batch_df: DataFrame, epoch_id: int, epochs: list[int]) -> None:
        spark = batch_df.sparkSession
        prev = _read_committed(spark, state_path, epochs[-1:]) if epochs else None
        merge_fn(batch_df, prev).write.mode("overwrite").parquet(
            _epoch_dir(state_path, epoch_id)
        )
        _delete_epochs(spark, state_path, epochs[:-1])

    return _guarded(state_path, _body)


def _fold(delta_fn, keys: list[str], merge: dict[str, str]):
    """``merge_fn`` of an algebraic state: the batch's
    ``delta_fn(batch_df)`` and the previous state regroup by ``keys``,
    each column in ``merge`` under its aggregate (``"sum"`` or
    ``"max"``), cast back to the delta's type."""

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = delta_fn(batch_df)
        if prev is None:
            return delta
        return (
            delta.unionByName(prev)
            .groupBy(*keys)
            .agg(
                *[
                    getattr(F, how)(c).cast(delta.schema[c].dataType).alias(c)
                    for c, how in merge.items()
                ]
            )
        )

    return _merge


def _start(stream: DataFrame, batch_fn, checkpoint_path: str):
    """Start ``stream`` into the foreachBatch function ``batch_fn`` with
    its progress in ``checkpoint_path``; returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup_state(
    spark, state_path: str, *, epoch: int | None = None
) -> DataFrame:
    """Read a committed snapshot state (one epoch directory) — the
    latest by default, or TIME-TRAVEL to a specific retained ``epoch``
    (the snapshot sinks keep the previous epoch until the next commit,
    so "current" and "as of the prior epoch" are always both readable —
    the two versions an incident rollback or an A/B diff actually
    needs; a table format with full history is the production extension
    of the same layout)."""
    epochs = _committed_epochs(spark, state_path)
    if epoch is not None and epochs:
        if epoch not in epochs:
            raise FileNotFoundError(
                f"epoch {epoch} is not committed/retained under "
                f"{state_path}; retained epochs: {epochs}"
            )
        epochs = [epoch]
    return _read_committed(
        spark,
        state_path,
        epochs[-1:],
        missing=f"no committed rollup state under {state_path}",
    )


def streaming_rollup_maintenance(
    events: DataFrame,
    keys: list[str],
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming materialized view: maintain the algebraic rollup state
    (operators/incremental.py) by merging EACH micro-batch's partial
    aggregate into the snapshot state — the streaming twin of q68's
    batch merge. Per micro-batch cost is `state ⊕ batch-partial`, never
    a rescan of history.

    Commit path: ``state_path``, one snapshot write per epoch. Returns
    the started StreamingQuery; read the state with
    :func:`read_rollup_state` after (or during) the run.
    """
    from adhesive_spark.operators.incremental import merge_rollup, rollup_events

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = rollup_events(batch_df, keys)
        return merge_rollup(prev, delta, keys) if prev is not None else delta

    return _start(events, _snapshot(state_path, _merge), checkpoint_path)


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
    The per-batch cost is one anti equi-join of the batch against the
    narrow (fingerprint) store — production buckets the store on the
    fingerprint to keep that join co-located.

    Commit path: ``state_path``, append-only (the fingerprint store is
    the union of its committed epochs). Write order: accepted documents
    to ``output_path``, then the fingerprints to ``state_path``.
    """
    from adhesive_spark.operators.text import fingerprint

    def _apply(batch_df: DataFrame, epoch_id: int, epochs: list[int]) -> None:
        b = batch_df.withColumn("__fp", fingerprint(F.col(text_col)))
        if epochs:
            # ONLY committed epoch dirs: blind partition discovery would
            # also read a torn (no-_SUCCESS) dir from a crashed attempt
            # of THIS epoch and anti-join the replay's own docs away
            store = _read_committed(
                batch_df.sparkSession, state_path, epochs
            ).select(F.col("doc_fp").alias("__fp"))
            b = b.join(store, "__fp", "left_anti")
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
            _epoch_dir(output_path, epoch_id)
        )
        survivors.select(F.col("__fp").alias("doc_fp")).write.mode(
            "overwrite"
        ).parquet(_epoch_dir(state_path, epoch_id))

    return _start(docs, _guarded(state_path, _apply), checkpoint_path)


def read_accepted_docs(spark, output_path: str, state_path: str) -> DataFrame:
    """All documents accepted by :func:`streaming_incremental_dedup` —
    the output epochs whose fingerprint write (the commit marker)
    landed."""
    return _read_committed(
        spark,
        output_path,
        _committed_epochs(spark, state_path),
        missing=(
            f"no committed epochs in the state store {state_path} (the "
            f"fingerprint _SUCCESS is the commit marker), so no readable "
            f"output under {output_path}"
        ),
    )


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
    batch ``build_ivf_index``'s own assignment) and appended PARTITIONED
    BY centroid_id — directory partitioning plays the bucket role for
    appended data, so a probe that filters ``centroid_id IN (<probes>)``
    reads only the probed lists of every epoch (partition pruning at the
    scan). At 100 TB this is the index freshness path — the bulk build
    is paid once, new vectors flow in per epoch, and
    :func:`compact_streamed_index` periodically folds the epochs into
    the bucketed base table.

    Commit path: ``output_path``, append-only, one write per epoch.
    """
    from adhesive_spark.operators.similarity import _nearest_centroid

    def _apply(batch_df: DataFrame, epoch_id: int, _epochs: list[int]) -> None:
        assigned = _nearest_centroid(
            batch_df, batch_df.sparkSession.table(centroids_table), id_col, vec_col
        )
        assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
            _epoch_dir(output_path, epoch_id)
        )

    return _start(embeddings, _guarded(output_path, _apply), checkpoint_path)


def read_streamed_index(spark, output_path: str) -> DataFrame:
    """Union of all committed epoch dirs of
    :func:`streaming_index_ingest` — filter ``centroid_id`` before an
    action and partition pruning skips every non-probed list."""
    return _read_committed(
        spark,
        output_path,
        missing=f"no committed index epochs under {output_path}",
        partitioned=True,
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
    vanishing in a filter. The batch is localCheckpoint'ed once so
    scoring runs once, not once per sink. At 100 TB each side is a
    straight append — no shuffle, no state store, and back-pressure is
    per-epoch file IO.

    Commit path: ``accept_path``, append-only; it commits the epoch for
    both sides. Write order: rejects to ``reject_path``, then accepts.
    """
    from adhesive_spark.operators.text import quality_score

    def _apply(batch_df: DataFrame, epoch_id: int, _epochs: list[int]) -> None:
        scored = batch_df.withColumn(
            "quality", quality_score(F.col(text_col))
        ).transform(checkpoint_corpus)
        ok = F.col("quality") >= min_quality
        scored.where(~ok).withColumn(
            "reject_reason", F.lit("low_quality")
        ).write.mode("overwrite").parquet(_epoch_dir(reject_path, epoch_id))
        scored.where(ok).write.mode("overwrite").parquet(
            _epoch_dir(accept_path, epoch_id)
        )

    return _start(docs, _guarded(accept_path, _apply), checkpoint_path)


def read_routed(
    spark, side_path: str, accept_path: str
) -> DataFrame:
    """Rows landed by :func:`streaming_quality_router` on one side
    (pass ``accept_path`` twice to read the accepted side) — the epochs
    whose accept-side write (the commit marker) landed."""
    return _read_committed(
        spark,
        side_path,
        _committed_epochs(spark, accept_path),
        missing=(
            f"no committed router epochs under {accept_path} (the accept-"
            f"side _SUCCESS is the commit marker for both sides)"
        ),
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
    from adhesive_spark.sources.fsutil import reset_table

    epochs = _committed_epochs(spark, output_path)
    if not epochs:
        return 0
    # the epoch id is commit bookkeeping, not index data — folding it
    # into the base would fragment the schema per compaction
    fresh = _read_committed(
        spark, output_path, epochs, partitioned=True
    ).drop("__epoch")
    if spark.catalog.tableExists(table):
        # materialize the current base OUT of the table before the
        # overwrite (reading the table while overwriting it is illegal)
        merged = spark.table(table).transform(checkpoint_corpus).unionByName(fresh)
    else:
        merged = fresh
    reset_table(spark, table)
    write_bucketed_table(
        merged, table, bucket_cols=["centroid_id"], n_buckets=n_buckets
    )
    _delete_epochs(spark, output_path, epochs)
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
    surviving deletes drop their key. The streaming twin of q180.
    Per-batch cost is one window over the BATCH plus one anti-join
    against the snapshot — history is touched once per epoch, never per
    row.

    Commit path: ``state_path``, one snapshot write per epoch. Returns
    the started StreamingQuery; read the snapshot with
    :func:`read_rollup_state`.
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

    return _start(log, _snapshot(state_path, _apply), checkpoint_path)


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
    :func:`adhesive_spark.operators.asof.session_spans` (q409/q410).

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

    Commit path: ``state_path``, one snapshot write per epoch. Read the
    per-key rollup with :func:`read_session_spans`.
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

    return _start(events, _snapshot(state_path, _merge), checkpoint_path)


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
    MAX-merging each batch's registers into the snapshot — the
    streaming payoff of register mergeability: per-batch cost is one
    aggregate over the BATCH to ≤64 rows plus a 64-row merge, so a
    stream of any size keeps its distinct-count profile in constant
    state. Max-merge is idempotent, but the replay skip still keeps the
    write amplification at one dir per NEW epoch.

    Commit path: ``state_path``, one snapshot write per epoch. Read the
    estimate with :func:`read_hll_estimate`.
    """
    from adhesive_spark.operators.sketches import hll_registers

    merge = _fold(lambda b: hll_registers(b, col), ["bucket"], {"m_j": "max"})
    return _start(keys, _snapshot(state_path, merge), checkpoint_path)


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
    counter table (operators/sketches.py) ADD-merges into the snapshot —
    the additive sibling of :func:`streaming_hll_registers`. Per-batch
    cost is one map-side-combining aggregate to <=64 counter rows plus
    a 64-row merge.

    Commit path: ``state_path``, one snapshot write per epoch. Probe the
    committed state with ``operators.sketches.cms_probe`` via
    :func:`read_rollup_state`.
    """
    from adhesive_spark.operators.sketches import cms_build

    merge = _fold(lambda b: cms_build(b, col), ["r", "c"], {"cnt": "sum"})
    return _start(items, _snapshot(state_path, merge), checkpoint_path)


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
    stream.

    Commit path: ``state_path``, one snapshot write per epoch. Read the
    alarm shortlist with :func:`read_cusum_alarms`.
    """
    merge = _fold(daily_purchase_rev, ["day"], {"rev": "sum"})
    return _start(events, _snapshot(state_path, merge), checkpoint_path)


def read_cusum_alarms(spark, state_path: str, top: int = 5) -> DataFrame:
    """Top-``top`` |CUSUM| days from the committed streaming day-state
    — the identical integer arithmetic as the batch q259 (exact-cents
    mean, running residual sum, |cusum| shortlist), so stream-then-read
    equals the batch detector row-for-row (test)."""
    return cusum_alarms(read_rollup_state(spark, state_path), top)


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
    quantize to the q260 grid (``operators.monitoring.grid_cell``) and
    their per-cell counts ADD-merge into the snapshot. State is bounded
    by the GRID (occupied cells), not the stream, and the batch q260
    clustering (core filter → components) reads straight off the
    committed cells. The density drift of an embedding feed — new dense
    regions appearing between epochs — is a diff of two committed
    snapshots.

    Commit path: ``state_path``, one snapshot write per epoch.
    """

    def _cells(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                grid_cell(x_col, cell_milli).alias("cx"),
                grid_cell(y_col, cell_milli).alias("cy"),
            )
            .groupBy("cx", "cy")
            .agg(F.count("*").cast("long").alias("n"))
        )

    merge = _fold(_cells, ["cx", "cy"], {"n": "sum"})
    return _start(points, _snapshot(state_path, merge), checkpoint_path)


def streaming_srm_counts(
    events: DataFrame,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming sample-ratio-mismatch state: per micro-batch, each
    user's md5-parity arm and purchase count
    (``operators.monitoring.arm_purchases``) ADD-merge into a per-
    (user, arm) table — the live state behind the q266 A/B guard.
    State is bounded by the user population (not the event stream);
    :func:`read_srm_guard` recomputes the exact chi-square identity off
    the committed state, so the experiment dashboard's SRM bit is live
    without rescanning any events.

    Commit path: ``state_path``, one snapshot write per epoch.
    """
    merge = _fold(arm_purchases, ["user_id", "arm"], {"purchases": "sum"})
    return _start(events, _snapshot(state_path, merge), checkpoint_path)


def read_srm_guard(spark, state_path: str) -> DataFrame:
    """One-row A/B readout off the committed per-user state — the batch
    q266's own ``operators.monitoring.srm_readout``, so stream-then-read
    equals the batch readout column-for-column."""
    return srm_readout(read_rollup_state(spark, state_path))


def streaming_mom_state(
    events: DataFrame,
    state_path: str,
    *,
    checkpoint_path: str,
):
    """Streaming median-of-means monitor state: maintain the 16-row
    (bucket, n, Σcents) MoM partial sums
    (queries/estimator_queries.mom_bucket_sums) across micro-batches by
    per-bucket ADDITION. Addition is not idempotent, so replay safety
    rests on the replay skip. Constant state at any stream size: the
    readout (:func:`read_mom_estimate`) is the exact batch q373 row,
    because (n, Σ) partial sums are mergeable across ANY split of the
    stream.

    Commit path: ``state_path``, one snapshot write per epoch.
    """
    from adhesive_spark.queries.estimator_queries import mom_bucket_sums

    merge = _fold(mom_bucket_sums, ["b"], {"n": "sum", "s": "sum"})
    return _start(events, _snapshot(state_path, merge), checkpoint_path)


def read_mom_estimate(spark, state_path: str) -> DataFrame:
    """One-row q373 readout (n_events, totals, global mean, MoM,
    bucket extremes, dev_ppm) from the committed streaming MoM state —
    bit-equal to the batch query on the same rows (test)."""
    from adhesive_spark.queries.estimator_queries import mom_report

    return mom_report(read_rollup_state(spark, state_path))
