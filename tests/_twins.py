"""Reference twins for the package's Arrow-kernel and window engines.

Each function here is the slower, pure-Catalyst formulation of one
production operator. The package keeps a single engine per operator;
the equality tests compare that engine against these references, row
for row. Not collected by pytest (no ``test_`` prefix).

- :func:`knn_bruteforce_hof` — ``similarity.knn_bruteforce``;
- :func:`assign_hof` — the k-means ``clustering._assign`` step;
- :func:`minhash_sig_hof` — the signatures of
  ``dedup.minhash_base_and_bands``;
- :func:`gopher_repetition_report_hof` —
  ``training_queries.gopher_repetition_report``;
- :func:`apply_cdc_agg` — ``incremental.apply_cdc`` (without ``base``);
- :func:`connected_components_minlabel` — ``graph.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adhesive_spark.operators.dedup import minhash_signature
from adhesive_spark.operators.similarity import cosine
from adhesive_spark.operators.text import normalize_text, tokens
from adhesive_spark.sources.registry import checkpoint_corpus, ensure_parallelism


def knn_bruteforce_hof(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Broadcast crossJoin of the queries, HOF-fold cosine per pair,
    top-k window per query."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    )
    scored = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cvec")
    ).crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__cvec"), F.col("__qvec")), 6).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def assign_hof(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Broadcast crossJoin of the centroids, HOF-fold cosine rounded to
    6 dp, ``max(struct(sim, -cid))`` per vector: (vec_id, v, cid)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "v",
        F.struct(
            F.round(
                cosine(
                    F.col("v").cast("array<double>"),
                    F.col("cv").cast("array<double>"),
                ),
                6,
            ).alias("sim"),
            (-F.col("cid")).alias("neg_cid"),
        ).alias("__cand"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.first("v").alias("v"), F.max("__cand").alias("__best"))
        .select("vec_id", "v", (-F.col("__best.neg_cid")).alias("cid"))
    )


def minhash_sig_hof(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig): the pure-HOF MinHash signature
    (``minhash_signature`` → ``minhash_signature_from_base``) over the
    same md5 shingle hashes the kernel reads."""
    return df.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(text_col), num_perm, shingle_n, seed).alias(
            "sig"
        ),
    )


def _run_masses(grams):
    """(top, dup) char masses over a gram array via one aggregate over
    the sorted grams: acc carries the current run (prev, cnt) and the
    two masses; finish folds the final run in."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
    )

    def close_run(acc):
        mass = acc["cnt"] * F.length(acc["prev"]).cast("long")
        return (
            F.greatest(acc["top"], mass),
            acc["dup"]
            + F.when(acc["cnt"] >= 2, mass).otherwise(F.lit(0).cast("long")),
        )

    def step(acc, g):
        top2, dup2 = close_run(acc)
        return F.when(
            g == acc["prev"],
            F.struct(
                acc["prev"].alias("prev"),
                (acc["cnt"] + 1).alias("cnt"),
                acc["top"].alias("top"),
                acc["dup"].alias("dup"),
            ),
        ).otherwise(
            F.struct(
                g.alias("prev"),
                F.lit(1).cast("long").alias("cnt"),
                top2.alias("top"),
                dup2.alias("dup"),
            )
        )

    def finish(acc):
        top2, dup2 = close_run(acc)
        return F.struct(top2.alias("top"), dup2.alias("dup"))

    return F.aggregate(F.array_sort(grams), init, step, finish)


def _lane_masses(toks):
    def lane(n):
        k = F.size(toks) - (n - 1)
        grams = F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return _run_masses(grams)

    return F.struct(*[lane(n).alias(f"m{n}") for n in (2, 3, 4, 5, 6, 7)])


def gopher_repetition_report_hof(docs: DataFrame) -> DataFrame:
    """The q281 per-source report with each lane's gram masses built,
    sorted and run-length-scanned in-row by higher-order functions.
    toks is bound once per row via the single-element transform scope."""
    base = docs.select(
        "source",
        F.length(normalize_text(F.col("text"))).cast("long").alias(
            "n_chars"
        ),
        F.element_at(
            F.transform(F.array(tokens(F.col("text"))), _lane_masses), 1
        ).alias("m"),
    )
    rules = [
        (f"fail_top{n}", f"m.m{n}.top", thr)
        for n, thr in ((2, 200000), (3, 180000), (4, 160000))
    ] + [
        (f"fail_dup{n}", f"m.m{n}.dup", thr)
        for n, thr in ((5, 150000), (6, 140000), (7, 130000))
    ]
    fails = base.select(
        "source",
        *[
            (F.expr(f"{mass} * 1000000 div greatest(n_chars, 1L)") > thr)
            .cast("int")
            .alias(name)
            for name, mass, thr in rules
        ],
    )
    return fails.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        *[F.sum(name).cast("long").alias(name) for name, _, _ in rules],
    )


def apply_cdc_agg(
    log: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    *,
    delete_op: str = "delete",
) -> DataFrame:
    """Latest op per key as one ``max(struct(seq..., payload))``
    aggregate, then drop keys whose winning op is ``delete_op``. Every
    payload column must be orderable."""
    payload_cols = [c for c in log.columns if c not in key_cols]
    best = log.groupBy(*key_cols).agg(
        F.max(
            F.struct(
                *[F.col(c) for c in seq_cols],
                F.struct(*[F.col(c) for c in payload_cols]).alias("__row"),
            )
        ).alias("__best")
    )
    latest = best.select(
        *key_cols,
        *[F.col(f"__best.__row.{c}").alias(c) for c in payload_cols],
    ).select(*log.columns)
    return latest.where(
        ~F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False))
    )


def connected_components_minlabel(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) by min-label propagation: each node starts
    labeled with its own id and every round takes the min label among
    itself and its neighbors (one join on neighbor + groupBy node), so
    it needs O(component diameter) rounds. Always runs the distributed
    loop; raises when a component's diameter exceeds ``max_iter``."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    sym = sym.transform(checkpoint_corpus)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    # ``max_iter`` bounds CHANGING rounds; convergence is detected by a
    # quiescent round, so up to max_iter+1 joins run. Counting changing
    # rounds (not loop trips) avoids a spurious failure when the final
    # allowed round makes the last change and the next one merely
    # confirms quiescence.
    converged = False
    changing_rounds = 0
    for _ in range(max_iter + 1):
        nb = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("component").alias("nb_comp")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nb_comp").alias("nb_min"))
        )
        new_labels = (
            labels.join(nb.withColumnRenamed("a", "node"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nb_min", "component")
                ).alias("component"),
            )
            .transform(checkpoint_corpus)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
        changing_rounds += 1
        if changing_rounds > max_iter:
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_minlabel did not converge within "
            f"max_iter={max_iter} rounds; the graph has a component with "
            f"diameter > {max_iter} — raise max_iter"
        )
    return labels
