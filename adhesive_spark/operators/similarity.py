"""Similarity search over embedding columns (SURVEY §2.3 north-star).

Embeddings are ``array<float>`` columns. Two paths:

- :func:`knn_bruteforce` — exact cosine top-k. The query set is
  broadcast (it is small by construction); the corpus streams through a
  single projection + per-query top-k window. No corpus shuffle except
  the final top-k aggregation, which moves only k rows per query per
  partition (TakeOrdered-style).
- :func:`knn_lsh` / :func:`embedding_neardup_pairs` — random-hyperplane
  (sign) LSH: bucket on sign-bit bands, search within buckets. This is
  the 100 TB path: candidate generation is an equi-join on band keys.

Dot products use built-in higher-order functions (``zip_with`` +
``aggregate`` — JVM-side, no Python in the loop); :func:`cosine_sims`
is the one Arrow kernel that replays the same fold for a block of
vectors (kNN queries, k-means centroids).
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from adhesive_spark.operators.curation import cap_per_group
from adhesive_spark.sources.registry import checkpoint_corpus, ensure_parallelism


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a, b):
    """Total cosine: null when either vector has zero norm (ANSI mode —
    the session default — would otherwise fail the whole query with
    DIVIDE_BY_ZERO on one degenerate row). Null/ragged inputs yield
    null through the zip_with/aggregate fold; NaN elements propagate
    NaN. Identical to plain division for every nonzero-norm pair."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _rank_top_k(scored: DataFrame, k: int, query_id_col: str, id_col: str):
    """The ``k`` best (query, id, sim, rank) rows per query: sim DESC,
    ties broken by id — the ranking every kNN path shares."""
    return cap_per_group(
        scored, query_id_col, [F.col("sim").desc(), F.col(id_col)], k
    ).select(query_id_col, id_col, "sim", "rank")


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding) — the SMALL broadcast side of
    the contract (the corpus is the scale side).  Ranking window
    partitioned by query id; ties broken by corpus id for determinism.

    The query block is collected into :func:`cosine_sims`, which scores
    each corpus vector against every query in one Arrow trip; its sims
    are bit-equal to the Catalyst HOF cosine fold (the crossJoin
    reference in tests/_twins.py, machine-checked in test_scale_ops).
    NOTE: the query block is collected EAGERLY at plan-construction
    time (a Spark job runs inside this call), so upstream errors
    surface here and later changes to the ``queries`` DataFrame's
    inputs are NOT picked up by re-executing the returned plan —
    snapshot semantics, matching what broadcasting a collected block
    implies. Zero queries return an empty frame with the same columns.

    Corner inputs score as the HOF fold does (test_scale_ops): a null
    or ragged vector, a null element on either side and a zero-norm
    pair give ``sim = null`` (ranked last); a NaN element gives NaN
    (ranked first). Sims are computed in float64 whatever the stored
    element width.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    )
    qrows = q.collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    q.schema[query_id_col],
                    corpus.schema[id_col],
                    StructField("sim", DoubleType()),
                    StructField("rank", IntegerType(), False),
                ]
            ),
        )
    qid_lit = F.array(*[F.lit(r[0]) for r in qrows])
    sims = cosine_sims([r[1] for r in qrows])
    # by_size: AQE sizes the kernel stage's fanout from the measured
    # shuffle bytes — a ~1 MB corpus scores in ONE task (32 fixed-width
    # tasks cost ~0.4 s of per-task Python overhead to score 2k rows,
    # the r10 bench finding) while the 2 M-row ladder, whose split
    # count lies about its size, still fans out to ~bytes/64 MB tasks.
    scored = (
        ensure_parallelism(corpus, id_col, by_size=True)
        .select(
            F.col(id_col),
            sims(F.col(vec_col).cast("array<double>")).alias("__sims"),
        )
        .select(
            F.col(id_col),
            # posexplode_OUTER, deliberately: plain posexplode lets
            # Catalyst infer `size(__sims)>0 AND isnotnull(__sims)` and
            # push it below the exchange, which re-evaluates the Arrow
            # kernel over the ENTIRE corpus a second time just to
            # decide the filter (r11 plan read: two ArrowEvalPython
            # nodes). The kernel always returns a length-qn array, so
            # outer emits exactly the same rows — with ONE evaluation.
            F.posexplode_outer(F.col("__sims")).alias("__qpos", "__sim"),
        )
        .select(
            F.element_at(qid_lit, F.col("__qpos") + 1).alias(query_id_col),
            F.col(id_col),
            F.round(F.col("__sim"), 6).alias("sim"),
        )
    )
    return _rank_top_k(scored, k, query_id_col, id_col)


def _score_block(A: np.ndarray, Q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sims, valid) of every row of ``A`` against every row of ``Q``.

    Dot and both norms accumulate dimension by dimension, j ascending,
    as the HOF fold does, so every float64 add and multiply happens in
    the same IEEE sequence and the sims are bit-equal to :func:`cosine`.
    A zero denominator is invalid (``try_divide``'s null); a NaN from
    NaN elements stays a valid value."""
    n, d = A.shape
    acc = np.zeros((n, Q.shape[0]))
    na = np.zeros(n)
    nq = np.zeros(Q.shape[0])
    for j in range(d):
        acc += A[:, j : j + 1] * Q[None, :, j]
        na += A[:, j] * A[:, j]
        nq += Q[:, j] * Q[:, j]
    denom = np.sqrt(na)[:, None] * np.sqrt(nq)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return acc / denom, denom != 0.0


def cosine_sims(qvecs: list):
    """Arrow UDF ``array<double> -> array<double>``: the :func:`cosine`
    of a vector against each of ``qvecs`` (a small block collected on
    the driver: kNN queries, k-means centroids), one entry per block
    vector in block order.

    The kernel reads the column's offsets, flat values and null bitmaps
    directly, groups rows by length (one group for homogeneous
    embeddings) and scores each group against the same-length block
    vectors with :func:`_score_block`. A pair is null where the HOF fold
    is null: a null or ragged vector, a null element on either side, or
    a zero denominator."""
    groups: dict[int, list[int]] = {}
    for i, q in enumerate(qvecs):
        if q is not None and None not in q:
            groups.setdefault(len(q), []).append(i)
    blocks = [
        (np.array([qvecs[i] for i in cols], dtype=np.float64), cols)
        for cols in groups.values()
    ]
    qn = len(qvecs)

    @arrow_udf(ArrayType(DoubleType()))
    def _sims(cv: pa.Array) -> pa.Array:
        n = len(cv)
        off = cv.offsets.to_numpy()
        flat = cv.values.to_numpy(zero_copy_only=False)
        nulls_upto = np.concatenate(
            ([0], np.cumsum(cv.values.is_null().to_numpy(zero_copy_only=False)))
        )
        ok = cv.is_valid().to_numpy(zero_copy_only=False) & (
            nulls_upto[off[1:]] == nulls_upto[off[:-1]]
        )
        out = np.zeros((n, qn))
        valid = np.zeros((n, qn), dtype=bool)
        for Q, cols in blocks:
            L = Q.shape[1]
            rows = np.nonzero(ok & (np.diff(off) == L))[0]
            sims, v = _score_block(flat[off[rows, None] + np.arange(L)], Q)
            out[np.ix_(rows, cols)] = sims
            valid[np.ix_(rows, cols)] = v
        return pa.ListArray.from_arrays(
            np.arange(n + 1, dtype=np.int32) * qn,
            pa.array(out.ravel(), mask=~valid.ravel()),
        )

    return _sims


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket(vec_col, dim: int, *, n_planes: int = 16, seed: int = 42):
    """Random-hyperplane sign signature packed into a long bucket key."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(dot(vec_col, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(1 << i))
    return bucket


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket.
    Recall depends on n_planes (fewer planes → bigger buckets → higher
    recall & cost). At 100 TB the bucket join replaces the cross join —
    shuffle on bucket key instead of full scan per query."""
    cb = ensure_parallelism(corpus, id_col).select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        lsh_bucket(F.col(vec_col), dim, n_planes=n_planes, seed=seed).alias("__bucket"),
    )
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col), dim, n_planes=n_planes, seed=seed).alias("__bucket"),
    )
    scored = cb.join(F.broadcast(qb), "__bucket").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__cvec"), F.col("__qvec")), 6).alias("sim"),
    )
    return _rank_top_k(scored, k, query_id_col, id_col)


def build_ivf_index(
    corpus: DataFrame,
    *,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) for an IVF (inverted-file) ANN index.

    Centroids seed as the ``n_lists`` lowest-id corpus vectors — a
    deterministic seeding that keeps the whole index SQL-expressible for
    the correctness oracle.  ``refine_iters`` > 0 runs that many
    spherical k-means iterations over the seeds (the production path:
    refined centroids distribute the inverted lists by the corpus's real
    density, which is what keeps recall stable as the corpus grows) —
    iterations reuse the clustering operators' deterministic contract
    (sim rounded to 6, centroid coords floor-rounded to 9 between
    iterations), so the refined index stays fully oracle-checkable; a
    centroid whose cluster empties drops out, identically in both
    engines.  ``assigned`` maps every corpus vector to its nearest
    centroid: one broadcast of the centroids, one scan of the corpus,
    argmax-as-aggregate per vector (map-side combined) — at 100 TB this
    is the bulk-index build whose only corpus shuffle is the per-id
    aggregation (plus two narrow pos-keyed shuffles per refinement
    iteration, each over (cid, pos, val) rows, never the corpus width).
    """
    if refine_iters > 0:
        from adhesive_spark.operators.clustering import _assign, _recompute

        vectors = corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
        ).transform(checkpoint_corpus)
        cents = (
            vectors.orderBy("vec_id")
            .limit(n_lists)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        )
        for _ in range(refine_iters):
            cents = _recompute(_assign(vectors, cents)).localCheckpoint(
                eager=True
            )
        centroids = cents.select(
            F.col("cid").alias("centroid_id"), F.col("cv").alias("cvec")
        )
        # the final assignment scans the ALREADY-MATERIALIZED vector
        # projection instead of re-reading (and re-casting) the corpus
        # source — one fewer full corpus pass per index build
        corpus = vectors.select(
            F.col("vec_id").alias(id_col), F.col("v").alias(vec_col)
        )
    else:
        # n_lists rows, but the subtree is a full TakeOrdered corpus
        # pass — materialize it once so each broadcast consumer (the
        # assignment, the probe scorer, semantic-dedup's rescoring)
        # reuses the tiny result instead of re-running the scan.
        centroids = (
            corpus.orderBy(id_col)
            .limit(n_lists)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
    assigned = _nearest_centroid(
        ensure_parallelism(corpus, id_col), centroids, id_col, vec_col
    )
    return centroids, assigned


def _nearest_centroid(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, centroid_id): each vector's nearest centroid
    (``centroids`` = (centroid_id, cvec), broadcast), lowest id on ties
    — the IVF assignment of the batch build and the streaming ingest.
    Argmax-as-aggregate (max over struct(sim, -cid)): map-side partial
    combining beats a rank-1 window's full sort of the corpus×k rows."""
    scored = vectors.select(
        F.col(id_col), F.col(vec_col).alias("__vec")
    ).crossJoin(F.broadcast(centroids)).select(
        id_col,
        "__vec",
        F.struct(
            F.round(cosine(F.col("__vec"), F.col("cvec")), 6).alias("sim"),
            (-F.col("centroid_id")).alias("neg_cid"),
        ).alias("__cand"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.first("__vec").alias(vec_col), F.max("__cand").alias("__best"))
        .select(id_col, vec_col, (-F.col("__best.neg_cid")).alias("centroid_id"))
    )


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query, __qvec, centroid_id): each query's ``n_probe`` nearest
    inverted lists (centroid sim DESC, lowest centroid id on ties)."""
    qscored = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    ).crossJoin(F.broadcast(centroids)).select(
        query_id_col,
        "__qvec",
        "centroid_id",
        F.round(cosine(F.col("__qvec"), F.col("cvec")), 6).alias("__csim"),
    )
    return cap_per_group(
        qscored,
        query_id_col,
        [F.col("__csim").desc(), F.col("centroid_id")],
        n_probe,
    ).select(query_id_col, "__qvec", "centroid_id")


def _ivf_search(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Top-k over the probed lists only: ``probes`` is broadcast and
    equi-joined to the index on centroid_id, every candidate scored."""
    cand = assigned.join(F.broadcast(probes), "centroid_id").select(
        query_id_col,
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("sim"),
    )
    return _rank_top_k(cand, k, query_id_col, id_col)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: each query probes only its ``n_probe``
    nearest inverted lists instead of the whole corpus — the
    partition-pruned ANN path (probe fraction = n_probe/n_lists).
    ``refine_iters`` k-means-refines the centroids before indexing
    (see :func:`build_ivf_index`).

    Scale shape: queries×centroids is broadcast-sized; the candidate
    join hits only probed lists (equi-join on centroid_id), so the
    corpus-side shuffle is bounded by the probe fraction.

    Cost note: this one-shot call pays the index BUILD (a full corpus
    pass) plus the probe; one-off searches on modest corpora are faster
    brute-force. IVF wins when the ``assigned`` index is persisted
    (write_bucketed_table on centroid_id) and amortized across many
    query batches — then each search touches n_probe/n_lists of the
    data with no corpus scan at all.
    """
    centroids, assigned = build_ivf_index(
        corpus,
        n_lists=n_lists,
        id_col=id_col,
        vec_col=vec_col,
        refine_iters=refine_iters,
    )
    probes = _ivf_probes(queries, centroids, n_probe, query_id_col, vec_col)
    return _ivf_search(assigned, probes, k, id_col, vec_col, query_id_col)


def persist_ivf_index(
    corpus: DataFrame,
    table: str,
    *,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index for amortized probing: ``assigned`` is
    written PARTITIONED BY centroid_id — one directory per inverted
    list, the literal on-disk analog of an IVF posting file — and the
    tiny centroid set as ``<table>__centroids``.

    This is the knn_ivf docstring's amortized path made concrete: the
    build's full corpus pass is paid ONCE; every subsequent
    :func:`knn_ivf_probe` reads only the probed list directories via
    DYNAMIC partition pruning (the probe join's broadcast result prunes
    the scan at runtime — no driver round-trip, no index rebuild).
    """
    from adhesive_spark.sources.fsutil import reset_table

    for t in (table, f"{table}__centroids"):
        reset_table(corpus.sparkSession, t)
    centroids, assigned = build_ivf_index(
        corpus, n_lists=n_lists, id_col=id_col, vec_col=vec_col
    )
    # one shuffle at BUILD time groups each inverted list into its own
    # directory (amortized across every probe batch thereafter)
    assigned.repartition(n_lists, "centroid_id").write.partitionBy(
        "centroid_id"
    ).format("parquet").saveAsTable(table)
    centroids.write.mode("overwrite").format("parquet").saveAsTable(
        f"{table}__centroids"
    )


def knn_ivf_probe(
    spark,
    queries: DataFrame,
    table: str,
    *,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a :func:`persist_ivf_index` table: NO corpus scan and NO
    index build — the per-search cost a production ANN service pays.

    Scale shape: the probed (query, centroid) pairs join the
    centroid_id-PARTITIONED index by broadcast, and Catalyst inserts a
    ``dynamicpruningexpression(centroid_id IN dynamicpruning#N)``
    partition filter into the index scan — at runtime only the probed
    inverted-list directories are read (≤ n_probe·n_queries of n_lists),
    with zero Exchange on the index side and ZERO driver round-trip
    (the former ``.isin(collect())`` literal-pruning path is gone).
    """
    probes = (
        _ivf_probes(
            queries,
            spark.table(f"{table}__centroids"),
            n_probe,
            query_id_col,
            vec_col,
        )
        # materialize the ≤ n_queries·n_probe probe set once (cuts its
        # tiny ranking window out of every downstream plan) ...
        .localCheckpoint(eager=True)
        # ... then a trivially-true residual bound marks the build side
        # as SELECTIVE, which is what lets Catalyst plan dynamic
        # partition pruning off the broadcast result (DPP only fires
        # when the pruning side carries a filter predicate)
        .where(F.col("centroid_id") >= 0)
    )
    return _ivf_search(
        spark.table(table), probes, k, id_col, vec_col, query_id_col
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization (the int8 storage/ANN
    compression step of an embedding pipeline): scale each vector by
    qmax/max|x| and round to integers in [-qmax, qmax].

    One projection, no shuffle, all built-in higher-order functions.
    Returns scalar summaries per vector — n_dims, the scale, exact
    integer checksums of the quantized codes (q_sum/q_min/q_max), and
    the reconstruction RMSE — rather than the code array itself, so the
    result is oracle-hashable; the codes are recomputable from (vec,
    scale) by construction.
    """
    from adhesive_spark.operators.text import fround

    qmax = float(2 ** (bits - 1) - 1)
    v = F.col("__v")
    s_expr = F.array_max(F.transform(v, lambda x: F.abs(x)))

    # Bind scale (and then the code array) ONCE per row via the
    # single-element-transform scope:
    # a projected column would be re-inlined into the lambdas by
    # CollapseProject and the array_max scan would run per element —
    # O(d²) per row (verified in the optimized plan).
    def _with_s(sv):
        # NULL (not 0) divisor for zero vectors: the filter on s > 0
        # runs ABOVE this projection, so the expression itself must
        # never produce NaN/Infinity (ANSI mode turns the int cast of
        # those into a runtime error); NULL just propagates and the
        # row is dropped by the filter.
        sd = F.when(sv > 0, sv)
        q_expr = F.transform(
            v, lambda x: F.round(x / sd * qmax, 0).cast("int")
        )

        def _with_q(qv):
            err2 = F.aggregate(
                F.zip_with(
                    v,
                    qv,
                    lambda x, c: (x - c * sd / qmax) * (x - c * sd / qmax),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.struct(
                sv.alias("s"),
                F.aggregate(
                    qv, F.lit(0).cast("long"), lambda acc, x: acc + x
                ).alias("q_sum"),
                F.array_min(qv).alias("q_min"),
                F.array_max(qv).alias("q_max"),
                err2.alias("err2"),
            )

        return F.element_at(F.transform(F.array(q_expr), _with_q), 1)

    packed = F.element_at(F.transform(F.array(s_expr), _with_s), 1)
    return (
        df.select(F.col(id_col), F.col(vec_col).alias("__v"))
        # filter on a standalone O(d) scan so the packed struct is
        # evaluated once, in the projection, for surviving rows only
        .where(s_expr > 0)
        .withColumn("__p", packed)
        .select(
            id_col,
            F.size("__v").alias("n_dims"),
            fround(F.col("__p.s"), 6).alias("scale"),
            F.col("__p.q_sum").alias("q_sum"),
            F.col("__p.q_min").alias("q_min"),
            F.col("__p.q_max").alias("q_max"),
            fround(F.sqrt(F.col("__p.err2") / F.size("__v")), 6).alias("rmse"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    use_lsh: bool = False,
    n_planes: int = 8,
    seed: int = 42,
    block_col: str | None = None,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    Three candidate-generation modes, because exact all-pairs cosine has
    no subquadratic blocking that preserves completeness:

    - ``block_col``: exact WITHIN blocks (label/shard/source) via an
      equi-join on the block key — a shuffled hash/sort-merge join, one
      shuffle on the block key, no nested loop. The 100 TB exact path:
      block size bounds the quadratic term.
    - ``use_lsh``: sign-signature buckets — near-identical vectors
      collide w.h.p.; recall is probabilistic, shuffle is bucket-sized.
    - neither: a full O(n²) nested-loop self-join. REFUSED unless
      ``allow_full_cross=True`` — at any real corpus size this plan is a
      BroadcastNestedLoopJoin that never finishes, so the quadratic
      escape hatch must be spelled out at the call site.
    """
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("vec")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("__blk"))
    base = ensure_parallelism(df, id_col).select(*cols)
    if use_lsh:
        if dim is None:
            raise ValueError("dim required for LSH mode")
        base = base.withColumn(
            "__bucket", lsh_bucket(F.col("vec"), dim, n_planes=n_planes, seed=seed)
        )
    # materialize the (projected, bucketed) side ONCE before the
    # self-join: the two aliases are separate subtrees to Catalyst
    # (ReuseExchange does not collapse them — measured on q127: 4
    # upstream scans, 0 reused), so an upstream pipeline (IVF
    # assignment, casts, the LSH bucket kernel) would run twice; the
    # checkpointed rows are exactly the bytes the join shuffle carries
    base = base.transform(checkpoint_corpus)
    if use_lsh:
        l, r = base.alias("l"), base.alias("r")
        cond = (F.col("l.__bucket") == F.col("r.__bucket")) & (
            F.col("l.id") < F.col("r.id")
        )
        if block_col is not None:
            cond = (F.col("l.__blk") == F.col("r.__blk")) & cond
        joined = l.join(r, cond)
    elif block_col is not None:
        l, r = base.alias("l"), base.alias("r")
        joined = l.join(
            r,
            (F.col("l.__blk") == F.col("r.__blk"))
            & (F.col("l.id") < F.col("r.id")),
        )
    else:
        if not allow_full_cross:
            raise ValueError(
                "exact all-pairs cosine with no blocking is an O(n²) "
                "nested-loop join; pass block_col= (exact within blocks), "
                "use_lsh=True (approximate), or allow_full_cross=True to "
                "accept the quadratic plan on a provably small input"
            )
        l, r = base.alias("l"), base.alias("r")
        joined = l.join(r, F.col("l.id") < F.col("r.id"))
    return (
        joined.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.vec"), F.col("r.vec")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_representatives(
    corpus: DataFrame,
    *,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic (cluster-level) dedup: assign every vector to its nearest
    deterministic centroid (the :func:`build_ivf_index` assignment) and
    keep ONE representative per cluster — the member most similar to the
    centroid, lowest id on ties. The diversity-sampling complement of
    pairwise near-dup removal: instead of dropping close PAIRS, it thins
    dense semantic regions to one exemplar each.

    Scale shape: one broadcast of the centroids + one corpus scan for
    assignment (argmax-as-aggregate, map-side combined), then a single
    per-cluster max-struct aggregation — shuffle width is n rows of
    (cluster, sim, id), never pairs.
    """
    centroids, assigned = build_ivf_index(
        corpus, n_lists=n_clusters, id_col=id_col, vec_col=vec_col
    )
    scored = assigned.join(F.broadcast(centroids), "centroid_id").select(
        "centroid_id",
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("centroid_sim"),
    )
    best = scored.groupBy("centroid_id").agg(
        F.max(
            F.struct(
                F.col("centroid_sim").alias("sim"),
                (-F.col(id_col)).alias("neg_id"),
            )
        ).alias("__best"),
        F.count("*").alias("cluster_size"),
    )
    return best.select(
        "centroid_id",
        (-F.col("__best.neg_id")).alias(id_col),
        F.col("__best.sim").alias("centroid_sim"),
        "cluster_size",
    )
