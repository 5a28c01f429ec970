"""Embedding clustering as DataFrame algebra.

- :func:`label_centroids` — element-wise mean vector per label:
  posexplode → groupBy (label, dim) → avg. ONE shuffle keyed on
  (label, dim); no vector ever passes through Python. Long-form output
  (label, pos, val) is the scale-native layout — rebuilding arrays is a
  presentation step.
- :func:`kmeans` — spherical k-means (cosine), deterministic seeding
  (the k lowest-id vectors), fixed iteration count. Each iteration is
  a map-only assignment (the collected centroids scored by
  :func:`similarity.cosine_sims`, the kNN kernel, argmax in-row) plus
  the centroid recomputation above. Determinism contract:
  similarities are rounded to 6 decimals before argmin ranking and
  centroid coordinates to 9 decimals between iterations, so the
  trajectory is bit-reproducible across engines (raw float ordering is
  not) — this is what makes an ITERATIVE algorithm oracle-checkable.

The reference has no iterative or ML operators; north-star surface
(BASELINE.json), built on Catalyst primitives and the one cosine
kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from adhesive_spark.operators.similarity import cosine_sims
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

    The k centroids (tiny by contract) are collected into
    :func:`similarity.cosine_sims`, which scores each vector against all
    of them in one Arrow trip, bit-equal to the HOF cosine fold;
    rounding to 6 dp and the argmax stay SPARK-side (``round``'s
    HALF_UP must come from one engine, or the DuckDB-oracle trajectory
    contract breaks), via an in-row zip_with + array_max over k
    elements.  Assignment is thereby MAP-ONLY: no crossJoin×k
    expansion, no vec_id re-aggregation shuffle.  Its labels equal the
    broadcast crossJoin + HOF cosine + max(struct(sim, -cid)) reference
    in tests/_twins.py, corner inputs (null, ragged, zero-norm, NaN
    elements) included (test_scale_ops).

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
    neg_cids = F.array(*[F.lit(-r["cid"]) for r in crows])
    sims = cosine_sims([r["cv"] for r in crows])
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
            sims(F.col("v").cast("array<double>")).alias("__sims"),
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

    Per-iteration plan cost is the two shuffles of the centroid
    recomputation; the assignment is map-only against the k collected
    centroids.
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
