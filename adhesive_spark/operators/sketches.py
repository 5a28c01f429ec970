"""Distributed cardinality / frequency sketches in exact integer math.

HyperLogLog registers and Count-Min counters are the two workhorse
sketches of a 100 TB profiling pass: both build in ONE hash aggregate
over the raw stream, both merge associatively across partitions
(``max`` for HLL registers, ``+`` for CMS counters), so a 1000-executor
cluster computes them with a single shuffle to a tiny fixed-size state
— no distinct-shuffle of the full key stream.

Everything here is branch-free integer arithmetic on md5-prefix hashes
(the house cross-engine hash, see operators/text.py), so the DuckDB
oracle twins reproduce the sketch BIT-FOR-BIT — estimates included.
The estimator constant is a fixed ppm literal on both sides, keeping
the driver's type-strict value hash exact.

HLL has one register builder (:func:`_registers`), one estimator
(:func:`_estimate`) and one DuckDB oracle (:func:`hll_oracle_sql`),
grouped or not: the ungrouped functions are the zero-group-column case.

Reference parity note: the reference engine (milenkovicm/adhesive,
src/fusion.rs) delegates all relational work to DataFusion and ships
no sketching; this module is SURVEY §2.3 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit hash = 15 hex chars of md5; BIGINT-safe in both engines.
_HASH_HEX_CHARS = 15
_HASH_BITS = 4 * _HASH_HEX_CHARS

# HLL bias-correction constant alpha_64 = 0.7213 / (1 + 1.079/64),
# quantized to ppm. The SAME literal appears in the SQL oracle; the
# estimate is exact integer math from here on.
HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers
HLL_ALPHA_PPM = 709340
# Σ 2^-M_j is carried as Σ 2^(SCALE - M_j); SCALE bounds the sum at
# m * 2^SCALE = 2^61 < 2^63.
HLL_SCALE = _HASH_BITS - HLL_P + 1  # 55


def hash60(col: Column) -> Column:
    """60-bit integer hash from the md5-hex prefix — the same
    construction DuckDB mirrors with
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _HASH_HEX_CHARS), 16, 10
    ).cast("long")


def _registers(
    df: DataFrame,
    col: str,
    group_cols=(),
    *,
    carry=(),
    extra=(),
) -> DataFrame:
    """HLL registers ``(group_cols…, bucket, m_j)`` of ``df[col]``.

    bucket = h mod m; rho = leading-zero rank of the remaining bits
    (via ``length(bin(x))``, identical in Spark and DuckDB); m_j =
    ``max(rho)`` per (group, bucket). ``carry`` columns ride through
    the rho projection for the ``extra`` aggregates."""
    h = hash60(F.col(col))
    keep = [*group_cols, *carry]
    return (
        df.select(
            *keep,
            (h % F.lit(HLL_M)).alias("bucket"),
            F.shiftright(h, HLL_P).alias("_rem"),
        )
        .select(
            *keep,
            "bucket",
            F.when(F.col("_rem") == 0, F.lit(HLL_SCALE).cast("long"))
            .otherwise(
                F.lit(HLL_SCALE).cast("long")
                - F.length(F.bin(F.col("_rem"))).cast("long")
            )
            .alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_j"), *extra)
    )


def _estimate(regs: DataFrame, group_cols=(), *, exact=None) -> DataFrame:
    """The estimator over a register table, per group: nonempty,
    s_scaled = Σ 2^(SCALE − m_j) with empty registers counted at
    2^SCALE, and est_hll. alpha · m² · 2^SCALE overflows BIGINT, so the
    numerator is carried in DECIMAL(38,0) (HUGEINT on the oracle side)
    and BOTH divisions happen last — the early-division factoring loses
    the whole estimate to truncation (2^SCALE div S is a single-digit
    quotient here). The ungrouped estimate leads with ``m``; ``exact``
    (an aggregate aliased ``exact_distinct``) rides the register sum."""
    keys = [*group_cols] or ["m"]
    head = [*group_cols] or [F.lit(HLL_M).cast("long").alias("m")]
    tail = [] if exact is None else ["exact_distinct"]
    summed = regs.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("nonempty"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_SCALE} - m_j AS INT))"
            )
        )
        .cast("long")
        .alias("s_nonempty"),
        *([] if exact is None else [exact]),
    )
    return summed.select(
        *head,
        "nonempty",
        (
            F.col("s_nonempty")
            + (F.lit(HLL_M) - F.col("nonempty"))
            * F.lit(1 << HLL_SCALE).cast("long")
        ).alias("s_scaled"),
        *tail,
    ).select(
        *keys,
        "nonempty",
        "s_scaled",
        F.expr(
            f"CAST(((CAST({HLL_ALPHA_PPM} AS DECIMAL(38,0))"
            f" * {HLL_M} * {HLL_M} * {1 << HLL_SCALE})"
            f" div s_scaled) div 1000000 AS BIGINT)"
        ).alias("est_hll"),
        *tail,
    )


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """The 64-row HLL register table (bucket, m_j) for ``df[col]`` —
    the mergeable state: registers from ANY partition of the stream
    max-merge into the whole-stream registers (property-tested), which
    is what makes this a one-aggregate distributed/streaming sketch."""
    return _registers(df, col)


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """One-row (m, nonempty, s_scaled, est_hll) from a register table —
    the estimator half of :func:`hll_estimate`, shared with the
    streaming register maintainer (streaming/ops.py)."""
    return _estimate(regs)


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """One-row HyperLogLog cardinality estimate over ``df[col]``.

    Registers are ``max(rho)`` per bucket — a single hash aggregate to
    64 rows, mergeable across any partitioning (:func:`_registers`).
    The raw estimator alpha*m^2 / Σ2^-M_j runs in scaled-integer form
    (:func:`_estimate`): empty registers contribute 2^SCALE each, and
    no precision is lost to intermediate truncation.

    No small-range (linear-counting) correction is applied — callers
    profiling columns with <2.5*m distinct values should read
    ``nonempty`` instead (documented, matches the oracle).

    Output: m, nonempty, s_scaled, est_hll, exact_distinct, err_ppm —
    all BIGINT. ``exact_distinct`` is computed alongside so the query
    doubles as its own error audit — and because rho is a pure function
    of the key hash, BOTH halves derive from one distinct-key pass:
    max(rho) over duplicate keys equals max(rho) over distinct keys, so
    the register table and the exact count share the distinct exchange
    the exact path needs anyway (one corpus scan, not two). The
    pure-sketch single-aggregate path stays in :func:`hll_registers`
    for callers that do not carry the audit.
    """
    # countDistinct skips NULL keys; the register table keeps the
    # NULL-bucket row exactly as hll_registers does (groupBy retains the
    # null group, max(rho)=NULL drops out of the sum) — so the per-row
    # count() below must count keys, not rows.
    keys = df.select(F.col(col).cast("string").alias("__k")).distinct()
    per_bucket = _registers(
        keys, "__k", carry=["__k"], extra=[F.count("__k").alias("__cnt")]
    )
    exact = (
        F.coalesce(F.sum("__cnt"), F.lit(0)).cast("long").alias("exact_distinct")
    )
    return _estimate(per_bucket, exact=exact).select(
        "*",
        F.expr(
            "CAST(abs(est_hll - exact_distinct) * 1000000"
            " div exact_distinct AS BIGINT)"
        ).alias("err_ppm"),
    )


def hll_oracle_sql(source_sql: str, col: str, group_cols=()) -> str:
    """DuckDB twin of :func:`hll_estimate` over ``source_sql``; with
    ``group_cols``, of :func:`hll_estimate_grouped` plus the per-group
    ``exact_distinct`` and ``err_ppm``, ordered by the group columns."""
    g = "".join(f"{c}, " for c in group_cols)
    by = ", ".join(group_cols)
    head = g or f"CAST({HLL_M} AS BIGINT) AS m, "
    return f"""
    WITH hashed AS (
      SELECT {g}h % {HLL_M} AS bucket,
             CASE WHEN (h >> {HLL_P}) = 0
                  THEN CAST({HLL_SCALE} AS BIGINT)
                  ELSE CAST({HLL_SCALE} AS BIGINT)
                       - CAST(length(bin(h >> {HLL_P})) AS BIGINT)
             END AS rho,
             raw
      FROM (
        SELECT {g}CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1,
                                    {_HASH_HEX_CHARS})) AS BIGINT) AS h,
               CAST({col} AS VARCHAR) AS raw
        FROM ({source_sql})
      )
    ),
    regs AS (
      SELECT {g}bucket, MAX(rho) AS m_j, COUNT(DISTINCT raw) AS n_raw
      FROM hashed GROUP BY {g}bucket
    ),
    summed AS (
      SELECT {g}CAST(COUNT(*) AS BIGINT) AS nonempty,
             CAST(SUM(CAST(1 AS BIGINT) << CAST({HLL_SCALE} - m_j AS INT))
                  AS BIGINT) AS s_nonempty,
             CAST(COALESCE(SUM(n_raw), 0) AS BIGINT) AS exact_distinct
      FROM regs {f"GROUP BY {by}" if group_cols else ""}
    ),
    est AS (
      SELECT {head}nonempty, s_scaled,
             CAST(((CAST({HLL_ALPHA_PPM} AS HUGEINT)
                    * {HLL_M} * {HLL_M} * {1 << HLL_SCALE})
                   // s_scaled) // 1000000 AS BIGINT) AS est_hll,
             exact_distinct
      FROM (
        SELECT *, s_nonempty + ({HLL_M} - nonempty)
                    * (CAST(1 AS BIGINT) << {HLL_SCALE}) AS s_scaled
        FROM summed
      )
    )
    SELECT {g or "m, "}nonempty, s_scaled, est_hll, exact_distinct,
           CAST(abs(est_hll - exact_distinct) * 1000000
                // exact_distinct AS BIGINT) AS err_ppm
    FROM est
    {f"ORDER BY {by}" if group_cols else ""}
    """


# --- Count-Min sketch --------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 16  # deliberately narrow so collisions (the interesting
# case) occur even on small vocabularies; overcount is the point.
CMS_SALTS = tuple(f"cms{r}" for r in range(CMS_DEPTH))


def cms_col(col: Column, salt: str) -> Column:
    """Column index of ``col`` in CMS row ``salt``."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8), 16, 10)
        .cast("long")
        % F.lit(CMS_WIDTH)
    )


def cms_build(
    items: DataFrame, col: str, *, weight_col: str | None = None
) -> DataFrame:
    """Count-Min counter table (r, c, cnt) over the item stream.

    One explode by the D salt rows then one hash aggregate to a
    D*W-row counter table — counters merge by ``+`` so partial
    aggregation happens map-side; the sketch is a broadcastable
    64-row summary of any size stream.

    ``weight_col``: build from a pre-aggregated (item, count) grain
    instead of the raw stream — ``cnt`` becomes the SUM of the weights
    hashing to each counter, which is integer-identical to counting the
    expanded stream (counter merge is ``+``). Lets a caller that
    already paid for the per-item counts hash |vocab| rows instead of
    re-exploding the corpus.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("r"),
                cms_col(F.col(col), salt).alias("c"),
            )
            for r, salt in enumerate(CMS_SALTS)
        ]
    )
    measure = (
        F.count("*") if weight_col is None else F.sum(F.col("__w"))
    )
    keep = [F.explode(rows).alias("rc")] + (
        [] if weight_col is None else [F.col(weight_col).alias("__w")]
    )
    return (
        items.select(*keep)
        .select(
            F.col("rc.r").alias("r"),
            F.col("rc.c").alias("c"),
            *([] if weight_col is None else [F.col("__w")]),
        )
        .groupBy("r", "c")
        .agg(measure.cast("long").alias("cnt"))
    )


def cms_probe(sketch: DataFrame, probes: DataFrame, col: str) -> DataFrame:
    """Point-estimate each probe key: min over the D row counters.

    ``sketch`` is tiny (D*W rows) — broadcast to the probe side; the
    estimate upper-bounds the true count by construction.
    """
    keyed = probes.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        cms_col(F.col(col), salt).alias("c"),
                    )
                    for r, salt in enumerate(CMS_SALTS)
                ]
            )
        ).alias("rc"),
    ).select(col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    return (
        keyed.join(F.broadcast(sketch), ["r", "c"])
        .groupBy(col)
        .agg(F.min("cnt").cast("long").alias("est_cms"))
    )


def hll_estimate_grouped(
    df: DataFrame, col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HLL estimates: registers keyed by (group, bucket) —
    the rollup form. Each group carries its own 64-register state, so a
    100 TB per-source cardinality profile is ONE aggregate to
    |groups|*64 rows; group estimates merge upward by the same max rule
    (the mergeable-HLL rollup q90 demonstrates with DataSketches, here
    rebuilt at register level). Output per group: nonempty, s_scaled,
    est_hll — exact-twin columns are the caller's to add."""
    return _estimate(_registers(df, col, group_cols), group_cols)
