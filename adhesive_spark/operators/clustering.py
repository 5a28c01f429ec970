"""Embedding clustering as pure DataFrame algebra.

- :func:`label_centroids` — element-wise mean vector per label:
  posexplode → groupBy (label, dim) → avg. ONE shuffle keyed on
  (label, dim); no vector ever passes through Python. Long-form output
  (label, pos, val) is the scale-native layout — rebuilding arrays is a
  presentation step.
- :func:`kmeans` — spherical k-means (cosine), deterministic seeding
  (the k lowest-id vectors), fixed iteration count. Each iteration is
  the IVF assignment step (broadcast centroids, rank-1 window) plus the
  centroid recomputation above — i.e. the operator composes from the
  same primitives the similarity/IVF stack uses. Determinism contract:
  similarities are rounded to 6 decimals before argmin ranking and
  centroid coordinates to 9 decimals between iterations, so the
  trajectory is bit-reproducible across engines (raw float ordering is
  not) — this is what makes an ITERATIVE algorithm oracle-checkable.

The reference has no iterative or ML operators; north-star surface
(BASELINE.json), built on Catalyst-only primitives.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from adhesive_spark.operators.text import fround
from adhesive_spark.sources.registry import checkpoint_corpus


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    *,
    ndigits: int = 6,
) -> DataFrame:
    """(label, pos, val): element-wise mean embedding per label."""
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    return pos.groupBy("label", "pos").agg(
        fround(F.avg("val"), ndigits).alias("val")
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment. Ties resolve to the lowest cid,
    same contract as ORDER BY sim DESC, cid. vectors: (vec_id, v);
    centroids: (cid, cv) → (vec_id, v, cid).

    The k centroids (tiny by contract) are materialized into an Arrow
    kernel that computes the RAW cosine of each vector against all of
    them in one trip, replaying the HOF fold's per-dimension IEEE
    order; rounding to 6 dp and the argmax stay SPARK-side (``round``'s
    HALF_UP must come from one engine, or the DuckDB-oracle trajectory
    contract breaks), via an in-row zip_with + array_max over k
    elements.  Assignment is thereby MAP-ONLY: no crossJoin×k
    expansion, no vec_id re-aggregation shuffle.  Its labels equal the broadcast crossJoin + HOF cosine +
    max(struct(sim, -cid)) reference in tests/_twins.py
    (test_scale_ops::test_kmeans_assign_vectorized_matches_hof).

    NOTE: the centroid block is collected EAGERLY at plan-construction
    time (a Spark job runs inside this call) — the returned plan
    snapshots the centroids rather than recomputing them per execution,
    the same bytes a broadcast would pin. Zero centroids return an
    empty frame with the same columns."""
    crows = (
        centroids.select("cid", F.col("cv").cast("array<double>").alias("cv"))
        .orderBy("cid")
        .collect()
    )
    if not crows:
        return vectors.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    vectors.schema["vec_id"],
                    vectors.schema["v"],
                    centroids.schema["cid"],
                ]
            ),
        )
    return _assign_vectorized(vectors, crows)


def _assign_vectorized(vectors: DataFrame, crows) -> DataFrame:
    """Map-only assignment core: kernel emits raw sims (bit-exact with
    the HOF fold), Spark rounds and argmaxes in-row over k elements.

    Corner inputs mirror the HOF fold (r10 ADVICE): null or ragged
    vectors and zero-norm pairs emit null sims (the crossJoin
    reference's try_divide/null-fold results) instead of crashing
    np.stack or leaking NaN; the homogeneous no-null batch — every
    committed caller — takes the original byte-identical fast path.
    Sims are computed in float64 regardless of stored element width."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    cids = [r["cid"] for r in crows]
    C = np.array([list(r["cv"]) for r in crows], dtype=np.float64)
    kn = len(cids)
    dim = C.shape[1] if C.ndim == 2 else 0
    c_norm_sq = (C * C).sum(axis=1) if kn else np.zeros(0)

    def _score_block(A: "np.ndarray") -> "np.ndarray":
        n, d = A.shape
        acc = np.zeros((n, kn))
        na = np.zeros(n)
        nc = np.zeros(kn)
        for j in range(d):
            acc += A[:, j : j + 1] * C[None, :, j]
            na += A[:, j] * A[:, j]
            nc += C[:, j] * C[:, j]
        denom = np.sqrt(na)[:, None] * np.sqrt(nc)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = acc / denom
        sims[denom == 0.0] = np.nan
        return sims

    @pandas_udf(ArrayType(DoubleType()))
    def _sims(v: pd.Series) -> pd.Series:
        vals = v.values
        n = len(vals)
        lens = np.fromiter(
            (x.shape[0] if x is not None else -1 for x in vals),
            dtype=np.int64,
            count=n,
        )
        if n and (lens == dim).all() and (c_norm_sq != 0.0).all():
            A = np.stack(vals).astype(np.float64, copy=False)
            if ((A * A).sum(axis=1) != 0.0).all():
                return pd.Series(list(_score_block(A)))
        out = [None] * n
        good = np.nonzero(lens == dim)[0]
        if good.size:
            A = np.stack([vals[i] for i in good]).astype(
                np.float64, copy=False
            )
            sims = _score_block(A)
            # per-PAIR zero-norm mask (a single zero-norm centroid must
            # not null out the other centroids' sims); NaN from NaN
            # elements stays a value, matching the HOF fold
            zero_pair = ((A * A).sum(axis=1)[:, None] == 0.0) | (
                c_norm_sq[None, :] == 0.0
            )
            for pos, i in enumerate(good):
                zp = zero_pair[pos]
                row = sims[pos]
                out[i] = [
                    None if zp[j] else float(row[j]) for j in range(kn)
                ]
        for i in range(n):
            if out[i] is None:
                out[i] = [None] * kn
        return pd.Series(out)

    neg_cids = F.array(*[F.lit(-c) for c in cids])
    best = F.array_max(
        F.zip_with(
            F.transform(F.col("__sims"), lambda s: F.round(s, 6)),
            neg_cids,
            lambda s, nc: F.struct(s.alias("sim"), nc.alias("neg_cid")),
        )
    )
    return (
        vectors.select(
            "vec_id",
            "v",
            _sims(F.col("v").cast("array<double>")).alias("__sims"),
        )
        .select("vec_id", "v", (-best["neg_cid"]).alias("cid"))
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """(cid, cv): element-wise mean of each cluster, rounded for
    cross-engine trajectory stability, rebuilt into ordered arrays."""
    long = assigned.select(
        "cid", F.posexplode("v").alias("pos", "val")
    ).groupBy("cid", "pos").agg(fround(F.avg("val"), 9).alias("val"))
    return long.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))),
            lambda s: s["val"],
        ).alias("cv")
    )


def kmeans(
    df: DataFrame,
    *,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``n_iter`` spherical k-means iterations; returns the final
    centroids long-form: (cid, pos, val) with val rounded to 6.

    Per-iteration plan cost is two shuffles (top-1 window by vec;
    centroid groupBy); the centroid relation is tiny and broadcast.
    Lineage is cut per iteration — mandatory for any iterative
    DataFrame algorithm (plan growth is exponential otherwise).
    """
    vectors = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).transform(checkpoint_corpus)
    centroids = (
        vectors.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    for _ in range(n_iter):
        assigned = _assign(vectors, centroids)
        centroids = _recompute(assigned).localCheckpoint(eager=True)
    return centroids.select(
        "cid", F.posexplode("cv").alias("pos", "val")
    ).select("cid", "pos", fround(F.col("val"), 6).alias("val"))
