"""One-pass pipeline monitoring via ``DataFrame.observe``.

A 100 TB curation job cannot afford a second scan to know what it just
did — "how many rows, how many nulls, what was the quality mass" must
ride the SAME action that produces the output.  Spark's Observation API
attaches named aggregate expressions to a plan node; they are computed
by accumulators during whatever action the caller runs next (a write, a
collect), costing zero extra passes and zero extra shuffles.

This is the Spark-native analog of the metrics side-channel a native
engine would thread through its operators; the reference has no
counterpart (its 6-row demo prints results directly), so this module is
extension surface (SURVEY §2.3 — pipeline operations).

The event-series monitors sit here too: :func:`daily_purchase_rev` is
the per-day purchase revenue that the batch forecast, seasonality and
change-point queries read and that ``streaming.ops.streaming_cusum_daily``
maintains per micro-batch, and :func:`cusum_alarms` is the CUSUM
readout that the batch query (q259) and ``streaming.ops.read_cusum_alarms``
share. Their DuckDB twin is ``queries.oracle_fragments._DAILY_REV``.
Likewise :func:`arm_purchases` and :func:`srm_readout` are the A/B
state and readout of q266 and ``streaming.ops.streaming_srm_counts``/
``read_srm_guard`` (q272 splits by the same :func:`parity_arm`), and
:func:`grid_cell` is the density grid of q260 and
``streaming.ops.streaming_grid_cells``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def attach_metrics(
    df: DataFrame,
    metrics: dict[str, Column],
    *,
    name: str | None = None,
) -> tuple[DataFrame, Observation]:
    """Attach named aggregate ``metrics`` to ``df``'s plan.

    Returns ``(df, observation)``; run any ONE action on the returned
    DataFrame, then read ``observation.get`` (a dict) — the values were
    gathered during that action by accumulators, not by a second scan.

    Each metric must be an aggregate expression (the same rule as
    ``observe``); non-aggregates raise at attach time.
    """
    obs = Observation(name) if name else Observation()
    keys = list(metrics)
    observed = df.observe(obs, *[metrics[k].alias(k) for k in keys])
    return observed, obs


def corpus_metrics(text_col: str = "text") -> dict[str, Column]:
    """The standard curation-job counters: row count, null/empty texts,
    total characters, and quality mass (sum of the rounded q-score, so
    mean quality = quality_mass / rows at read time) — all computable as
    accumulator-friendly aggregates."""
    from adhesive_spark.operators.text import quality_score, scaled_long

    c = F.col(text_col)
    return {
        "n_rows": F.count(F.lit(1)),
        "n_null_text": F.count_if(c.isNull() | (F.length(c) == 0)),
        "total_chars": F.coalesce(F.sum(F.length(c)), F.lit(0)).cast("long"),
        "quality_mass": F.coalesce(
            F.sum(scaled_long(quality_score(c), 4)), F.lit(0)
        ).cast("long"),
    }


def observed_write(
    df: DataFrame,
    path: str,
    *,
    metrics: dict[str, Column],
    mode: str = "overwrite",
) -> dict[str, object]:
    """Write ``df`` as parquet and return the metric values gathered
    DURING the write — the one-pass "write + audit row" primitive.  The
    caller persists the returned dict next to the output (manifest,
    metastore comment, job log); nothing here re-reads the data."""
    observed, obs = attach_metrics(df, metrics)
    observed.write.mode(mode).parquet(path)
    return dict(obs.get)


def daily_purchase_rev(events: DataFrame) -> DataFrame:
    """(day, rev): purchase revenue per epoch day (``unix_micros(ts) div
    86400000000``, no engine calendar functions), in cents quantized per
    row before the sum, so the integers are engine-exact. The result is
    additive across any split of the events."""
    return (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )


def cusum_alarms(daily: DataFrame, top: int = 5) -> DataFrame:
    """(day, rev, cusum_cents) for the ``top`` days of largest |CUSUM|
    (ties to the earlier day) over a (day, rev) series: the running sum
    of each day's revenue minus the integer mean revenue."""
    mean = daily.agg(
        F.expr("CAST(sum(rev) div count(*) AS BIGINT)").alias("mean_rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(mean)).select(
        "day",
        "rev",
        F.sum(F.col("rev") - F.col("mean_rev")).over(w).alias("cusum_cents"),
    )
    return cusum.orderBy(
        F.abs(F.col("cusum_cents")).desc(), F.col("day")
    ).limit(top)


def parity_arm() -> Column:
    """The md5-parity experiment arm (0 or 1) of ``user_id``: the low
    bit of its portable 32-bit hash — the deterministic stand-in for an
    assignment service."""
    from adhesive_spark.operators.dedup import portable_hash32

    return portable_hash32(F.col("user_id").cast("string")) % 2


def arm_purchases(events: DataFrame) -> DataFrame:
    """(user_id, arm, purchases): each user's parity arm and purchase
    count. Additive across any split of the events."""
    return (
        events.select(
            "user_id",
            parity_arm().alias("arm"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("long")
            .alias("is_purch"),
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("is_purch").cast("long").alias("purchases"))
    )


def srm_readout(per_user: DataFrame) -> DataFrame:
    """One-row two-arm A/B readout over (user_id, arm, purchases): users
    and purchases per arm, the sample-ratio-mismatch chi-square against
    a 50/50 split via ``(u0 - u1)² / (u0 + u1)`` in milli, and per-arm
    purchase rates and their delta in ppm. Integers only, division
    last."""
    # materialize the 2-row arm table once: the a0/a1 pivot sides would
    # each re-run the per-user aggregate
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("long").alias("users"),
        F.sum("purchases").cast("long").alias("purchases"),
    ).localCheckpoint(eager=True)
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


def grid_cell(expr: str, cell_milli: int) -> Column:
    """Grid cell index of the SQL expression ``expr`` for
    ``cell_milli``-wide cells: exact milli integers, shifted by +1e6 so
    the ids stay positive and every engine's integer division agrees
    (no floor-vs-truncate hazard)."""
    return F.expr(
        f"(CAST(ROUND(CAST({expr} AS DOUBLE) * 1000, 0) AS BIGINT)"
        f" + 1000000) div {cell_milli}"
    )
