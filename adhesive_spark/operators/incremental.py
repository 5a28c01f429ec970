"""Incremental aggregate maintenance.

At 100 TB you never recompute history: a rollup table is maintained by
merging each new micro-batch/partition of facts into the previous
aggregate state. That works exactly for ALGEBRAIC measures — ones with
a merge function over partial states: count/sum merge by +, min/max by
min/max, avg is DERIVED from (sum, count) at read time. (Holistic
measures — exact median, exact distinct — need sketches instead:
approx_count_distinct state, t-digest; see q42 for the HLL path.)

:func:`rollup_events` builds the state shape; :func:`merge_rollup`
merges two states (full outer on keys + coalesced merge expressions);
the invariant ``merge(state(A), state(B)) == state(A ∪ B)`` is what the
oracle checks (q68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rollup_events(events: DataFrame, keys: list[str]) -> DataFrame:
    """Aggregate state for the events rollup: algebraic partials only.

    The sum partial is kept as exact integer cents (``value_sum_c``,
    see :func:`adhesive_spark.operators.text.scaled_long`): float sums
    are order-dependent, so an incrementally merged state would drift
    ulps away from a full recompute — the exact invariant
    ``merge(state(A), state(B)) == state(A ∪ B)`` only holds bit-for-bit
    in integer arithmetic. Derive ``value_sum_c / 100.0`` at read time.
    """
    from adhesive_spark.operators.text import scaled_long

    return events.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(scaled_long(F.col("value"), 2)).alias("value_sum_c"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


def merge_rollup(state: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two rollup states: one full-outer join on the rollup keys,
    then per-measure merge expressions. Shuffle cost is the state size,
    not history size — the point of incremental maintenance."""
    s = state.select(
        *keys,
        *[F.col(c).alias(f"__s_{c}") for c in state.columns if c not in keys],
    )
    d = delta.select(
        *keys,
        *[F.col(c).alias(f"__d_{c}") for c in delta.columns if c not in keys],
    )
    z = F.lit(0).cast("long")
    merged = s.join(d, keys, "full_outer").select(
        *keys,
        (F.coalesce("__s_n", z) + F.coalesce("__d_n", z)).alias("n"),
        (
            F.coalesce("__s_value_sum_c", z) + F.coalesce("__d_value_sum_c", z)
        ).alias("value_sum_c"),
        F.least(
            F.coalesce("__s_value_min", F.col("__d_value_min")),
            F.coalesce("__d_value_min", F.col("__s_value_min")),
        ).alias("value_min"),
        F.greatest(
            F.coalesce("__s_value_max", F.col("__d_value_max")),
            F.coalesce("__d_value_max", F.col("__s_value_max")),
        ).alias("value_max"),
    )
    return merged


def apply_cdc(
    log: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    *,
    base: DataFrame | None = None,
    delete_op: str = "delete",
) -> DataFrame:
    """MERGE-INTO semantics over a CDC log: latest-op-per-key wins,
    surviving deletes drop the key.  The reconciliation step every
    CDC-fed lakehouse table needs (Debezium/DMS-style logs → current
    snapshot):

    - latest per key under the ``seq_cols`` DESCENDING total order
      (e.g. [ts, event_id] — the tie-break column must be unique per
      key or "latest" is undefined);
    - drop keys whose winning op is ``delete_op``.

    Latest-per-key is a ``row_number()==1`` window (measured, r11):
    Spark 4 plans the filter as WindowGroupLimit with a PARTIAL
    map-side pass, so each map partition forwards at most one row per
    key before the exchange — the shape is already map-combined, and
    its only linear term is the per-partition local sort.  The
    recorded negative result is one ``max(struct(seq..., payload))``
    aggregate: a struct-max plans as SortAggregate (no mutable hash
    buffer for structs), so partial AND final phases sort the full log
    by key — 5× SLOWER than the window at the 1000× rung (179.2 s vs
    34.5 s over 100 M rows) — and it needs every payload column to be
    orderable.  It survives only as the equality reference in
    tests/_twins.py (identical winners: struct null ordering == the
    window's DESC NULLS LAST, and unique ``seq_cols`` mean the payload
    never decides a comparison).

    With ``base`` given, base rows join in as lowest-priority upserts
    (a log entry for the key always supersedes), implemented by a
    left-anti of base against the log's keys + union — the base is
    touched once, no per-row comparison against history.

    At 100 TB: one key shuffle of (at most) one combined row per key
    per map partition; the base path is an anti join on distinct log
    keys (broadcastable when the batch is small).  Compare q110 (SCD2)
    which keeps every version; this operator materializes only the
    current snapshot.
    """
    w = F.row_number().over(
        Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in seq_cols]
        )
    )
    latest = log.withColumn("__rn", w).where(F.col("__rn") == 1).drop("__rn")
    # only an EXPLICIT delete drops the key: a NULL/missing op is a
    # malformed upsert, not a tombstone (a bare != would null out
    # and silently delete such keys)
    latest = latest.where(
        ~F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False))
    )
    if base is None:
        return latest
    untouched = base.join(
        log.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return untouched.unionByName(latest.select(*base.columns))
