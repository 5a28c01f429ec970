"""Sketch / retrieval / graph-maintenance queries (q241+): distributed
cardinality and frequency sketches, quantized BM25 retrieval, PMI
collocation mining, bounded k-core peeling, and product-quantized ANN.

Like scale_queries, every query keeps its arithmetic in exact integers
(ppm / milli fixed point, shared md5-prefix hashing) so the driver's
type-strict value hash matches DuckDB bit-for-bit — including the
sketch ESTIMATES, which is what makes a sketch testable: the oracle
reproduces the registers, not just the exact answer.

Reference parity note: the reference engine (milenkovicm/adhesive)
delegates its relational surface to DataFusion and ships none of this;
this module is SURVEY §2.3 extension surface for the 100 TB pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from adhesive_spark.operators.sketches import (
    CMS_WIDTH,
    cms_build,
    cms_probe,
    hll_estimate,
    hll_oracle_sql,
)
from adhesive_spark.operators.text import tokens
from adhesive_spark.queries.oracle_fragments import _TOKS
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

SKETCH_QUERIES: dict = {}
SKETCH_ORACLES: dict = {}

# --- q241: HyperLogLog cardinality audit -------------------------------------


def q241_hll_cardinality(spark, sf_dir):
    """HyperLogLog distinct-count sketch over ``lineitem.l_orderkey``
    (~15 k distinct per sf0.01) with its own error audit: registers,
    scaled harmonic sum, integer estimator, exact distinct, and the
    estimate's error in ppm — one row.

    At 100 TB this is THE cardinality profile: one hash aggregate to a
    64-register state that merges with ``max`` across executors, vs the
    full-key distinct shuffle the exact path needs. The query carries
    both so the sketch's ~13 % (m=64) error band is measured, not
    assumed. Estimator math and the DuckDB twin are bit-identical; see
    operators/sketches.py.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return hll_estimate(li, "l_orderkey")


SKETCH_QUERIES["q241_hll_cardinality"] = q241_hll_cardinality

SKETCH_ORACLES["q241_hll_cardinality"] = hll_oracle_sql(
    "SELECT l_orderkey FROM lineitem", "l_orderkey"
)


# --- q242: Count-Min heavy hitters -------------------------------------------


def q242_cms_heavyhitters(spark, sf_dir):
    """Count-Min frequency sketch over the document token stream,
    probed at the exact top-10 tokens: true count, sketch estimate,
    and the collision overcount per token.

    The sketch is a 4x16 counter table built in ONE map-side-combining
    aggregate (width deliberately narrow so collisions — the failure
    mode worth testing — actually occur); probes broadcast-join the
    64-row sketch. est >= true always; the overcount column quantifies
    the bias a 100 TB frequency pass would carry at this width.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok")).where(
        F.col("tok") != ""
    )
    # one tokenize+explode pass: the per-token count grain (closed
    # ~30-word lexicon) is materialized once; the sketch is built from
    # it WEIGHTED (sum of counts per counter — integer-identical to
    # counting the raw stream) and the exact top-10 is a sort of the
    # same grain, where sketch/top/probe each re-ran the corpus explode
    counts = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("true_cnt"))
        .transform(checkpoint_corpus)
    )
    sketch = cms_build(counts, "tok", weight_col="true_cnt")
    top = (
        counts
        .orderBy(F.col("true_cnt").desc(), F.col("tok"))
        .limit(10)
    )
    est = cms_probe(sketch, top.select("tok"), "tok")
    return (
        top.join(est, "tok")
        .select(
            "tok",
            "true_cnt",
            "est_cms",
            (F.col("est_cms") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.col("true_cnt").desc(), F.col("tok"))
    )


SKETCH_QUERIES["q242_cms_heavyhitters"] = q242_cms_heavyhitters


def _cms_salts_values() -> str:
    from adhesive_spark.operators.sketches import CMS_SALTS

    return ", ".join(
        f"({r}, '{salt}')" for r, salt in enumerate(CMS_SALTS)
    )


SKETCH_ORACLES["q242_cms_heavyhitters"] = f"""
    WITH clean AS (
      SELECT tok FROM (
        SELECT unnest({_TOKS}) AS tok FROM documents
      ) WHERE tok <> ''
    ),
    salts AS (
      SELECT * FROM (VALUES {_cms_salts_values()}) AS t(r, salt)
    ),
    sketch AS (
      SELECT CAST(s.r AS BIGINT) AS r,
             CAST(('0x' || substr(md5(s.salt || c.tok), 1, 8))
                  AS BIGINT) % {CMS_WIDTH} AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM clean c CROSS JOIN salts s
      GROUP BY 1, 2
    ),
    top AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM clean GROUP BY tok
      ORDER BY true_cnt DESC, tok LIMIT 10
    ),
    probe AS (
      SELECT t.tok, t.true_cnt, CAST(s.r AS BIGINT) AS r,
             CAST(('0x' || substr(md5(s.salt || t.tok), 1, 8))
                  AS BIGINT) % {CMS_WIDTH} AS c
      FROM top t CROSS JOIN salts s
    ),
    est AS (
      SELECT p.tok, p.true_cnt, CAST(MIN(k.cnt) AS BIGINT) AS est_cms
      FROM probe p JOIN sketch k ON p.r = k.r AND p.c = k.c
      GROUP BY p.tok, p.true_cnt
    )
    SELECT tok, true_cnt, est_cms, est_cms - true_cnt AS overcount
    FROM est ORDER BY true_cnt DESC, tok
"""


# --- q243: quantized BM25 retrieval ------------------------------------------


_BM25_TERMS = ("hash", "join", "vector")


def q243_bm25_retrieval(spark, sf_dir):
    """BM25 document retrieval for the fixed query {hash, join, vector}
    in exact fixed-point integers: k1=1.2 / b=0.75 carried as milli
    literals, idf log2-quantized via ``length(bin(N div df))`` (this
    corpus is a closed ~30-word lexicon, so idf is flat — the
    discrimination here comes from tf and length normalization; on a
    real heavy-tailed vocabulary the same circuit spreads idf too).

    Scale shape: ONE explode-aggregate produces dl and all three term
    frequencies per doc (tf pivoted into columns, so the corpus is
    shuffled once, by doc_id); df and avgdl reduce that table to 1-row
    broadcast sides, scoring is a per-row expression over the same
    table, and the top-15 is a TakeOrdered — no corpus-wide window, no
    pair join, ~4 shuffles total. A doc with zero query-term hits
    contributes 0 to every term and is filtered before ranking (the
    oracle's (doc, term) tf table has the same membership). This is
    the scoring half of retrieval; q141/q149 hold the inverted-index
    half.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    # materialize the per-doc (dl, tf*) table once: the corpus-stats
    # aggregate AND the scoring pass each re-ran the tokenize+explode
    # kernel plus the doc aggregate; the checkpoint holds one narrow
    # row per document (the same bytes its shuffle writes)
    per_doc = toked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).transform(checkpoint_corpus)
    stats = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(sum(dl) * 1000 div count(*) AS BIGINT)").alias(
            "avgdl_milli"
        ),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    # per-term BM25 component; tf=0 contributes exactly 0, matching the
    # oracle's (doc, term)-membership tf table
    term_score = " + ".join(
        f"(CAST(length(bin(n_docs div df{i})) AS BIGINT)"
        f" * CAST(tf{i} * 2200 * 1000000 div (tf{i} * 1000"
        f" + (1200 * (250 + (750 * (dl * 1000000 div avgdl_milli))"
        f" div 1000)) div 1000) AS BIGINT))"
        for i in range(len(_BM25_TERMS))
    )
    return (
        per_doc.where(
            sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS))) > 0
        )
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(f"CAST({term_score} AS BIGINT)").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(15)
    )


SKETCH_QUERIES["q243_bm25_retrieval"] = q243_bm25_retrieval

SKETCH_ORACLES["q243_bm25_retrieval"] = f"""
    WITH toked AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    clean AS (SELECT doc_id, tok FROM toked WHERE tok <> ''),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      FROM clean GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(CAST(SUM(dl) AS BIGINT) * 1000
                  // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS avgdl_milli
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM clean WHERE tok IN ('hash', 'join', 'vector')
      GROUP BY doc_id, tok
    ),
    df_t AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(length(bin(s.n_docs // d.df)) AS BIGINT)
               * CAST(t.tf * 2200 * 1000000
                      // (t.tf * 1000
                          + (1200 * (250 + (750 * (l.dl * 1000000
                                                   // s.avgdl_milli))
                                     // 1000)) // 1000)
                      AS BIGINT) AS term_score
      FROM tf t
      JOIN df_t d ON t.tok = d.tok
      JOIN dl l ON t.doc_id = l.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
"""


# --- q244: PMI collocation mining --------------------------------------------


def q244_pmi_collocations(spark, sf_dir):
    """Collocation mining: adjacent token pairs ranked by integer
    lift (observed / expected co-occurrence, in ppm — the exp() -free
    core of PMI). Expected uses per-slot marginals: count of bigrams
    with the same LEFT token times count with the same RIGHT token
    over the bigram total. Division order is fixed and mirrored in the
    oracle so the quantized lift matches exactly.

    Scale shape: one window-free explode (posexplode + self-zip via
    slice) to the bigram stream, three hash aggregates (pair, left
    marginal, right marginal — the marginals are vocabulary-sized,
    broadcastable), one final top-20. Linear in corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ts")).where(
        F.size("ts") >= 2
    )
    bi = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, size(ts) - 1),"
                " slice(ts, 2, size(ts) - 1),"
                " (x, y) -> struct(x, y))"
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y")).where(
        (F.col("x") != "") & (F.col("y") != "")
    )
    # one bigram-explode pass (q221 shape): the (x, y) grain is
    # materialized once; the slot marginals and the total are SUMS of
    # it, where four separate aggregates each re-ran the zip/explode
    pair = bi.groupBy("x", "y").agg(
        F.count("*").cast("long").alias("c_xy")
    ).transform(checkpoint_corpus)
    left = pair.groupBy("x").agg(F.sum("c_xy").cast("long").alias("c_x"))
    right = pair.groupBy("y").agg(F.sum("c_xy").cast("long").alias("c_y"))
    total = pair.agg(F.sum("c_xy").cast("long").alias("n_bi"))
    return (
        pair.where(F.col("c_xy") >= 25)
        .join(F.broadcast(left), "x")
        .join(F.broadcast(right), "y")
        .crossJoin(F.broadcast(total))
        .select(
            "x",
            "y",
            "c_xy",
            F.expr(
                "CAST((c_xy * 1000000 div c_x) * n_bi div c_y AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), F.col("x"), F.col("y"))
        .limit(20)
    )


SKETCH_QUERIES["q244_pmi_collocations"] = q244_pmi_collocations

SKETCH_ORACLES["q244_pmi_collocations"] = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS ts FROM documents
    ),
    bi AS (
      SELECT ts[i] AS x, ts[i + 1] AS y
      FROM (SELECT ts FROM toks WHERE len(ts) >= 2),
           UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE ts[i] <> '' AND ts[i + 1] <> ''
    ),
    pair AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY x, y
    ),
    lefts AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c_x FROM bi GROUP BY x
    ),
    rights AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c_y FROM bi GROUP BY y
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bi FROM bi)
    SELECT p.x, p.y, p.c_xy,
           CAST((p.c_xy * 1000000 // l.c_x) * t.n_bi // r.c_y
                AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN lefts l ON p.x = l.x
    JOIN rights r ON p.y = r.y
    CROSS JOIN total t
    WHERE p.c_xy >= 25
    ORDER BY lift_ppm DESC, p.x, p.y LIMIT 20
"""


# --- q245: bounded k-core peeling --------------------------------------------


_KCORE_K = 6
_KCORE_ROUNDS = 3
# Low-quantity lanes only: the full part–supplier graph is so dense
# (min degree > 20 at sf0.01) that nothing peels; on the qty<=5 slice
# with k=6 each round keeps removing nodes (992 -> 966 -> 891 edges at
# sf0.01), so the bounded-iteration cascade is actually exercised.
_KCORE_EDGE_FILTER = 5


def q245_kcore_peel(spark, sf_dir):
    """Bounded k-core peeling of the part–supplier affiliation graph:
    drop every node with degree < k, recompute degrees, repeat for a
    FIXED 3 rounds (unrolled — the oracle mirrors the same 3 CTE
    levels, so bounded iteration is part of the spec, not an
    approximation gap). Emits one row per round with surviving node
    and edge counts — the shrinkage curve is the health signal a graph
    maintenance job alerts on.

    Scale shape: per round, one degree aggregate + one semi-join back
    to the edge list — 2 shuffles per round, never a pair join. At
    100 TB the fixed round count is the budget guard the recursive
    formulation lacks (same policy as graph.connected_components'
    max-round guard).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") <= _KCORE_EDGE_FILTER)
        .select(
            (F.col("l_partkey") + F.lit(1000000)).alias("u"),
            F.col("l_suppkey").alias("v"),
        )
        .distinct()
    )
    # Each round's edge list feeds THREE consumers (degree table, next
    # round's semi-joins, the per-round stats row) and depends on every
    # previous round — without a materialization boundary Catalyst
    # re-derives the whole peel chain per consumer (multiplicative
    # blow-up; 15 s -> ~3 s at sf0.01). Same policy as q131's oriented
    # edge list: at 100 TB the per-round edge list is the artifact an
    # iterative graph job persists anyway.
    edges = li.transform(checkpoint_corpus)
    out = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("d"))
        )
        keep = deg.where(F.col("d") >= _KCORE_K).select("node")
        edges = (
            edges.join(
                keep.withColumnRenamed("node", "u").hint("broadcast"),
                "u",
                "semi",
            ).join(
                keep.withColumnRenamed("node", "v").hint("broadcast"),
                "v",
                "semi",
            )
        ).select("u", "v").transform(checkpoint_corpus)
        stats = edges.agg(
            F.lit(rnd).cast("long").alias("round"),
            F.count("*").cast("long").alias("n_edges"),
            (
                F.countDistinct("u") + F.countDistinct("v")
            )
            .cast("long")
            .alias("n_nodes"),
        )
        out.append(stats)
    res = out[0]
    for s in out[1:]:
        res = res.unionAll(s)
    return res.orderBy("round")


SKETCH_QUERIES["q245_kcore_peel"] = q245_kcore_peel


def _kcore_round_sql(prev: str, rnd: int) -> str:
    return f"""
    deg{rnd} AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM {prev}
        UNION ALL SELECT v AS node FROM {prev}
      ) GROUP BY node
    ),
    keep{rnd} AS (SELECT node FROM deg{rnd} WHERE d >= {_KCORE_K}),
    e{rnd} AS (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT node FROM keep{rnd})
        AND v IN (SELECT node FROM keep{rnd})
    ),
    s{rnd} AS (
      SELECT CAST({rnd} AS BIGINT) AS round,
             CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(COUNT(DISTINCT u) + COUNT(DISTINCT v) AS BIGINT)
               AS n_nodes
      FROM e{rnd}
    )"""


SKETCH_ORACLES["q245_kcore_peel"] = (
    """
    WITH e0 AS (
      SELECT DISTINCT l_partkey + 1000000 AS u, l_suppkey AS v
      FROM lineitem WHERE l_quantity <= {_KCORE_EDGE_FILTER}
    ),""".format(_KCORE_EDGE_FILTER=_KCORE_EDGE_FILTER)
    + ",".join(
        _kcore_round_sql(f"e{r - 1}", r) for r in range(1, _KCORE_ROUNDS + 1)
    )
    + """
    SELECT round, n_edges, n_nodes FROM (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
      SELECT * FROM s3
    ) ORDER BY round
    """
)


# --- q246: product-quantized ANN (ADC) ---------------------------------------


_PQ_SUBSPACES = 4
_PQ_SUBDIM = 16  # 64-dim embeddings / 4 subspaces
_PQ_CENTROIDS = 8  # codebook entries per subspace: vec_id 0..7
_PQ_QUERIES = 5  # probe vectors: vec_id 0..4
_PQ_TOPK = 10


def q246_pq_ann(spark, sf_dir):
    """Product-quantized approximate nearest neighbor with asymmetric
    distance computation (ADC), end-to-end in exact integers: vectors
    are milli-quantized (the house ROUND(x*1000) fixed-point), split
    into 4 x 16-dim subspaces, coded against a deterministic codebook
    (the subvectors of vec_id 0..7), and probes score corpus vectors by
    summing 4 precomputed query->centroid partial distances — never
    touching the original vectors.

    This is the memory-bound ANN shape for 100 TB: the corpus collapses
    to 4 bytes/vector of codes (16x smaller than even int8), the
    codebook and the per-query ADC lookup table (queries x 32 rows) are
    broadcast, and scoring is a broadcast-join + one aggregate — no
    pair shuffle, no full-vector scan at query time. Codebook training
    here is nearest-seed assignment (deterministic for the oracle); the
    k-means refinement loop q101 uses would slot in unchanged.

    Top-10 per probe by ADC distance, ties broken by corpus id.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("mv"),
    )
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("s"),
                        F.slice(
                            F.col("mv"), s * _PQ_SUBDIM + 1, _PQ_SUBDIM
                        ).alias("sv"),
                    )
                    for s in range(_PQ_SUBSPACES)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    # centroids x subspaces rows; evaluated once for its two broadcast
    # consumers (corpus coding + the per-query ADC table) instead of
    # re-running the pruned scan + explode per consumer
    codebook = (
        sub.where(F.col("vec_id") < _PQ_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
        )
        .localCheckpoint(eager=True)
    )
    l2sq = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    w_assign = Window.partitionBy("vec_id", "s").orderBy("dist", "cid")
    codes = (
        sub.join(F.broadcast(codebook), "s")
        .select(
            "vec_id",
            "s",
            "cid",
            F.expr(l2sq.format(a="sv", b="cv")).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cid").alias("code"))
    )
    # per-query ADC lookup: distance from each query subvector to each
    # codebook centroid — queries x subspaces x centroids rows, broadcast
    adc = (
        sub.where(F.col("vec_id") < _PQ_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "s", "sv")
        .join(F.broadcast(codebook), "s")
        .select(
            "query_id",
            "s",
            F.col("cid").alias("code"),
            F.expr(l2sq.format(a="sv", b="cv")).alias("pdist"),
        )
    )
    corpus_codes = codes.where(F.col("vec_id") >= _PQ_CENTROIDS)
    w_rank = Window.partitionBy("query_id").orderBy("dist_adc", "vec_id")
    return (
        corpus_codes.join(F.broadcast(adc), ["s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdist").cast("long").alias("dist_adc"))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "vec_id", "dist_adc", "rank")
    )


SKETCH_QUERIES["q246_pq_ann"] = q246_pq_ann

_PQ_L2_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, {n}),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
)

SKETCH_ORACLES["q246_pq_ann"] = f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS mv
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, CAST(s AS BIGINT) AS s,
             mv[s * {_PQ_SUBDIM} + 1 : (s + 1) * {_PQ_SUBDIM}] AS sv
      FROM emb, UNNEST(generate_series(0, {_PQ_SUBSPACES - 1})) AS u(s)
    ),
    codebook AS (
      SELECT vec_id AS cid, s, sv AS cv FROM sub
      WHERE vec_id < {_PQ_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, s, cid,
             {_PQ_L2_SQL.format(n=_PQ_SUBDIM, a="sv", b="cv")} AS dist
      FROM sub JOIN codebook USING (s)
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, cid) AS rn
        FROM assign
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, q.s, c.cid AS code,
             {_PQ_L2_SQL.format(n=_PQ_SUBDIM, a="q.sv", b="c.cv")} AS pdist
      FROM sub q JOIN codebook c USING (s)
      WHERE q.vec_id < {_PQ_QUERIES}
    ),
    scored AS (
      SELECT a.query_id, k.vec_id, CAST(SUM(a.pdist) AS BIGINT) AS dist_adc
      FROM codes k
      JOIN adc a ON a.s = k.s AND a.code = k.code
      WHERE k.vec_id >= {_PQ_CENTROIDS}
      GROUP BY a.query_id, k.vec_id
    )
    SELECT query_id, vec_id, dist_adc, rank FROM (
      SELECT query_id, vec_id, dist_adc,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist_adc, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK}
    ORDER BY query_id, rank
"""


# --- q247: multi-touch attribution -------------------------------------------


def q247_attribution(spark, sf_dir):
    """Multi-touch revenue attribution, exact to the cent: every
    purchase's value is split across the user's click/view touchpoints
    in the 24 h before it under TWO models — linear (equal credit,
    largest-remainder so the cents sum exactly; most-recent touches get
    the remainder) and last-touch (winner takes all). Purchases with no
    touch in the window credit a 'direct' channel, so
    sum(attributed) == sum(purchase cents) per model — the audit
    invariant tests/test_sketches.py asserts.

    Scale shape: one user-keyed range join bounded by the 24 h window
    (touch fan-in per purchase is window-bounded, never the user's full
    history), one window function per purchase group, one final
    aggregate to models x channels. The range predicate rides the SMJ;
    no pair term beyond the bounded window.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    joined = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.expr("p_ts - INTERVAL 24 HOURS")),
        "left",
    )
    w_p = Window.partitionBy("p_id")
    w_rank = Window.partitionBy("p_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id")
    )
    credited = joined.select(
        "p_id",
        "cents",
        F.coalesce("channel", F.lit("direct")).alias("channel"),
        F.count("t_id").over(w_p).alias("n_touch"),
        F.row_number().over(w_rank).alias("rn"),
    ).select(
        "p_id",
        "channel",
        F.when(F.col("n_touch") == 0, F.col("cents"))
        .otherwise(
            F.expr("cents div n_touch")
            + F.when(
                F.col("rn") <= F.expr("cents % n_touch"), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("linear_cents"),
        F.when((F.col("n_touch") == 0) | (F.col("rn") == 1), F.col("cents"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("last_cents"),
    )
    per_model = credited.select(
        "channel",
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear").alias("model"),
                    F.col("linear_cents").alias("cents"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_cents").alias("cents"),
                ),
            )
        ).alias("mc"),
    ).select("channel", F.col("mc.model").alias("model"), F.col("mc.cents").alias("cents"))
    return (
        per_model.groupBy("model", "channel")
        .agg(
            F.sum("cents").cast("long").alias("attributed_cents"),
            F.count("*").cast("long").alias("n_touchpoints"),
        )
        .orderBy("model", "channel")
    )


SKETCH_QUERIES["q247_attribution"] = q247_attribution

SKETCH_ORACLES["q247_attribution"] = """
    WITH p AS (
      SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS t_id, user_id AS t_user, ts AS t_ts,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT p.p_id, p.cents, t.t_id, t.t_ts, t.channel
      FROM p LEFT JOIN t
        ON p.p_user = t.t_user AND t.t_ts <= p.p_ts
       AND t.t_ts > p.p_ts - INTERVAL 24 HOUR
    ),
    windowed AS (
      SELECT p_id, cents,
             COALESCE(channel, 'direct') AS channel,
             CAST(COUNT(t_id) OVER (PARTITION BY p_id) AS BIGINT)
               AS n_touch,
             ROW_NUMBER() OVER (PARTITION BY p_id
                                ORDER BY t_ts DESC, t_id) AS rn
      FROM joined
    ),
    credited AS (
      SELECT p_id, channel,
             CAST(CASE WHEN n_touch = 0 THEN cents
                  ELSE cents // n_touch
                       + CASE WHEN rn <= cents % n_touch THEN 1 ELSE 0 END
             END AS BIGINT) AS linear_cents,
             CAST(CASE WHEN n_touch = 0 OR rn = 1 THEN cents
                  ELSE 0 END AS BIGINT) AS last_cents
      FROM windowed
    ),
    per_model AS (
      SELECT channel, 'linear' AS model, linear_cents AS cents
      FROM credited
      UNION ALL
      SELECT channel, 'last_touch' AS model, last_cents AS cents
      FROM credited
    )
    SELECT model, channel,
           CAST(SUM(cents) AS BIGINT) AS attributed_cents,
           CAST(COUNT(*) AS BIGINT) AS n_touchpoints
    FROM per_model GROUP BY model, channel
    ORDER BY model, channel
"""


# --- q248: IVF-PQ composed ANN -----------------------------------------------


_IVFPQ_LISTS = 8  # coarse centroids: vec_id 8..15
_IVFPQ_PROBE = 2  # lists probed per query


def q248_ivfpq_ann(spark, sf_dir):
    """IVF-PQ: the FAISS-style composition of a coarse inverted-file
    partition (8 lists, probe 2) with product-quantized residual-free
    codes — the standard billion-vector ANN architecture, here as pure
    DataFrame algebra in exact integers.

    Corpus vectors (vec_id >= 16) are assigned to their nearest coarse
    centroid (vec_id 8..15, full 64-dim milli L2) AND coded in 4 x
    16-dim PQ subspaces (codebook vec_id 0..7, as q246). A query probes
    its 2 nearest lists only; candidates in those lists are scored by
    the broadcast ADC lookup table. The two prunings compose: at 100 TB
    the coarse assignment is the partition key (only probed partitions
    are scanned — q83's SelectedBucketsCount machinery applies
    unchanged) and each candidate costs 4 code lookups, not a 64-dim
    scan. Top-10 per query; candidate sets are list-bounded so recall
    is traded for the ~n_lists/n_probe scan reduction q152-style evals
    would measure.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("mv"),
    )
    l2full = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    # n_lists rows; evaluated once for its two broadcast consumers
    # (corpus coarse-assignment + query probing)
    coarse = (
        emb.where(
            (F.col("vec_id") >= _PQ_CENTROIDS)
            & (F.col("vec_id") < _PQ_CENTROIDS + _IVFPQ_LISTS)
        )
        .select(F.col("vec_id").alias("list_id"), F.col("mv").alias("lv"))
        .localCheckpoint(eager=True)
    )
    corpus = emb.where(F.col("vec_id") >= _PQ_CENTROIDS + _IVFPQ_LISTS)
    w_list = Window.partitionBy("vec_id").orderBy("ldist", "list_id")
    assigned = (
        corpus.join(F.broadcast(coarse))
        .select(
            "vec_id",
            "list_id",
            F.expr(l2full.format(a="mv", b="lv")).alias("ldist"),
        )
        .withColumn("rn", F.row_number().over(w_list))
        .where(F.col("rn") == 1)
        .select("vec_id", "list_id")
    )
    # PQ codes for the corpus (same construction as q246)
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("s"),
                        F.slice(
                            F.col("mv"), s * _PQ_SUBDIM + 1, _PQ_SUBDIM
                        ).alias("sv"),
                    )
                    for s in range(_PQ_SUBSPACES)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    # as q246: one evaluation for the coding + ADC broadcasts
    codebook = (
        sub.where(F.col("vec_id") < _PQ_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv"))
        .localCheckpoint(eager=True)
    )
    l2sq = l2full
    w_assign = Window.partitionBy("vec_id", "s").orderBy("dist", "cid")
    codes = (
        sub.where(F.col("vec_id") >= _PQ_CENTROIDS + _IVFPQ_LISTS)
        .join(F.broadcast(codebook), "s")
        .select(
            "vec_id",
            "s",
            "cid",
            F.expr(l2sq.format(a="sv", b="cv")).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cid").alias("code"))
    )
    # query side: probed lists + ADC lookup table, both broadcastable
    queries = emb.where(F.col("vec_id") < _PQ_QUERIES)
    w_probe = Window.partitionBy("query_id").orderBy("ldist", "list_id")
    probed = (
        queries.join(F.broadcast(coarse))
        .select(
            F.col("vec_id").alias("query_id"),
            "list_id",
            F.expr(l2full.format(a="mv", b="lv")).alias("ldist"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= _IVFPQ_PROBE)
        .select("query_id", "list_id")
    )
    adc = (
        sub.where(F.col("vec_id") < _PQ_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "s", "sv")
        .join(F.broadcast(codebook), "s")
        .select(
            "query_id",
            "s",
            F.col("cid").alias("code"),
            F.expr(l2sq.format(a="sv", b="cv")).alias("pdist"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy("dist_adc", "vec_id")
    return (
        assigned.join(F.broadcast(probed), "list_id")
        .select("query_id", "vec_id")
        .join(codes, "vec_id")
        .join(F.broadcast(adc), ["query_id", "s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdist").cast("long").alias("dist_adc"))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "vec_id", "dist_adc", "rank")
    )


SKETCH_QUERIES["q248_ivfpq_ann"] = q248_ivfpq_ann

SKETCH_ORACLES["q248_ivfpq_ann"] = f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS mv
      FROM embeddings
    ),
    coarse AS (
      SELECT vec_id AS list_id, mv AS lv FROM emb
      WHERE vec_id >= {_PQ_CENTROIDS}
        AND vec_id < {_PQ_CENTROIDS + _IVFPQ_LISTS}
    ),
    assigned AS (
      SELECT vec_id, list_id FROM (
        SELECT e.vec_id, c.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_PQ_L2_SQL.format(n=64, a="e.mv", b="c.lv")},
                          c.list_id) AS rn
        FROM emb e CROSS JOIN coarse c
        WHERE e.vec_id >= {_PQ_CENTROIDS + _IVFPQ_LISTS}
      ) WHERE rn = 1
    ),
    sub AS (
      SELECT vec_id, CAST(s AS BIGINT) AS s,
             mv[s * {_PQ_SUBDIM} + 1 : (s + 1) * {_PQ_SUBDIM}] AS sv
      FROM emb, UNNEST(generate_series(0, {_PQ_SUBSPACES - 1})) AS u(s)
    ),
    codebook AS (
      SELECT vec_id AS cid, s, sv AS cv FROM sub
      WHERE vec_id < {_PQ_CENTROIDS}
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT b.vec_id, b.s, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id, b.s
                 ORDER BY {_PQ_L2_SQL.format(n=_PQ_SUBDIM, a="b.sv", b="c.cv")},
                          c.cid) AS rn
        FROM sub b JOIN codebook c USING (s)
        WHERE b.vec_id >= {_PQ_CENTROIDS + _IVFPQ_LISTS}
      ) WHERE rn = 1
    ),
    probed AS (
      SELECT query_id, list_id FROM (
        SELECT q.vec_id AS query_id, c.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_PQ_L2_SQL.format(n=64, a="q.mv", b="c.lv")},
                          c.list_id) AS rn
        FROM emb q CROSS JOIN coarse c
        WHERE q.vec_id < {_PQ_QUERIES}
      ) WHERE rn <= {_IVFPQ_PROBE}
    ),
    adc AS (
      SELECT q.vec_id AS query_id, q.s, c.cid AS code,
             {_PQ_L2_SQL.format(n=_PQ_SUBDIM, a="q.sv", b="c.cv")} AS pdist
      FROM sub q JOIN codebook c USING (s)
      WHERE q.vec_id < {_PQ_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, CAST(SUM(d.pdist) AS BIGINT) AS dist_adc
      FROM assigned a
      JOIN probed p ON a.list_id = p.list_id
      JOIN codes k ON k.vec_id = a.vec_id
      JOIN adc d ON d.query_id = p.query_id AND d.s = k.s
                AND d.code = k.code
      GROUP BY p.query_id, a.vec_id
    )
    SELECT query_id, vec_id, dist_adc, rank FROM (
      SELECT query_id, vec_id, dist_adc,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist_adc, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK}
    ORDER BY query_id, rank
"""


# --- q249: per-group HLL rollup ----------------------------------------------


def q249_hll_per_group(spark, sf_dir):
    """Per-supplier distinct-part cardinality via GROUPED HyperLogLog:
    each supplier carries its own 64-register state keyed
    (supplier, bucket) — one aggregate to |suppliers|*64 rows — next to
    the exact distinct twin and per-group error ppm. This is the rollup
    form of q241: group registers max-merge upward into region/global
    estimates without rescanning (the property q90 demonstrates with
    DataSketches HLL unions, here rebuilt at register level and
    bit-exact vs the oracle).

    Scale shape: the grouped sketch is one (group, bucket) hash
    aggregate — state is groups x 64 however large the fact stream is;
    the exact twin's distinct shuffle is carried only for the audit.
    """
    from adhesive_spark.operators.sketches import hll_estimate_grouped

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey"
    )
    est = hll_estimate_grouped(li, "l_partkey", ["l_suppkey"])
    exact = li.groupBy("l_suppkey").agg(
        F.countDistinct(F.expr("CAST(l_partkey AS STRING)"))
        .cast("long")
        .alias("exact_distinct")
    )
    return (
        est.join(exact, "l_suppkey")
        .select(
            "l_suppkey",
            "nonempty",
            "s_scaled",
            "est_hll",
            "exact_distinct",
            F.expr(
                "CAST(abs(est_hll - exact_distinct) * 1000000"
                " div exact_distinct AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("l_suppkey")
    )


SKETCH_QUERIES["q249_hll_per_group"] = q249_hll_per_group


def _hll_grouped_oracle(group: str) -> str:
    from adhesive_spark.operators.sketches import (
        _HASH_HEX_CHARS,
        HLL_ALPHA_PPM,
        HLL_M,
        HLL_P,
        HLL_SCALE,
    )

    return f"""
    WITH hashed AS (
      SELECT {group}, h % {HLL_M} AS bucket,
             CASE WHEN (h >> {HLL_P}) = 0
                  THEN CAST({HLL_SCALE} AS BIGINT)
                  ELSE CAST({HLL_SCALE} AS BIGINT)
                       - CAST(length(bin(h >> {HLL_P})) AS BIGINT)
             END AS rho,
             raw
      FROM (
        SELECT {group},
               CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1,
                                    {_HASH_HEX_CHARS})) AS BIGINT) AS h,
               CAST(l_partkey AS VARCHAR) AS raw
        FROM lineitem
      )
    ),
    regs AS (
      SELECT {group}, bucket, MAX(rho) AS m_j
      FROM hashed GROUP BY {group}, bucket
    ),
    summed AS (
      SELECT {group}, CAST(COUNT(*) AS BIGINT) AS nonempty,
             CAST(SUM(CAST(1 AS BIGINT) << CAST({HLL_SCALE} - m_j AS INT))
                  AS BIGINT) AS s_nonempty
      FROM regs GROUP BY {group}
    ),
    wide AS (
      SELECT {group}, nonempty,
             s_nonempty + ({HLL_M} - nonempty)
               * (CAST(1 AS BIGINT) << {HLL_SCALE}) AS s_scaled
      FROM summed
    ),
    est AS (
      SELECT {group}, nonempty, s_scaled,
             CAST(((CAST({HLL_ALPHA_PPM} AS HUGEINT)
                    * {HLL_M} * {HLL_M} * {1 << HLL_SCALE})
                   // s_scaled) // 1000000 AS BIGINT) AS est_hll
      FROM wide
    ),
    exact AS (
      SELECT {group}, CAST(COUNT(DISTINCT raw) AS BIGINT)
               AS exact_distinct
      FROM hashed GROUP BY {group}
    )
    SELECT e.{group}, e.nonempty, e.s_scaled, e.est_hll,
           x.exact_distinct,
           CAST(abs(e.est_hll - x.exact_distinct) * 1000000
                // x.exact_distinct AS BIGINT) AS err_ppm
    FROM est e JOIN exact x USING ({group})
    ORDER BY e.{group}
    """


SKETCH_ORACLES["q249_hll_per_group"] = _hll_grouped_oracle("l_suppkey")


# --- q250: basket affinity (co-visitation) -----------------------------------


def q250_basket_affinity(spark, sf_dir):
    """Market-basket affinity over clickstreams: which item pairs
    (the ``k`` property of click events) are clicked by the SAME user
    disproportionately often. Support = co-clicking users, lift in ppm
    over independent popularity (per-user presence, mirrored division
    order). The complement of q244's ADJACENCY collocations: baskets
    ignore order and distance.

    Scale shape: distinct (user, item) presence first (one aggregate —
    this is the dedup that keeps the pair join basket-bounded), then a
    per-user self-join bounded by basket size (66 pairs per 12-item
    basket, never user-count x items), two broadcastable marginals,
    top-20. At 100 TB the basket-size bound is the contract: pair
    volume is sum_u C(b_u, 2) — heavy users need basket caps (q71's
    per-domain cap composes here).
    """
    # the distinct (user, item) presence set has FIVE consumers (both
    # self-join sides, the popularity marginal twice, the user count);
    # materialize it once so the events scan + props regexp runs once —
    # the checkpointed rows are the same basket-bounded bytes the pair
    # self-join shuffles anyway
    clicks = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1)
            .cast("long")
            .alias("item"),
        )
        .distinct()
        .transform(checkpoint_corpus)
    )
    a, b = clicks.alias("a"), clicks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
        .agg(F.count("*").cast("long").alias("c_xy"))
    )
    # item-cardinality rows, broadcast twice (x and y attach): compute once
    pop = clicks.groupBy("item").agg(
        F.count("*").cast("long").alias("c_i")
    ).transform(checkpoint_corpus)
    n_users = clicks.select("user_id").distinct().agg(
        F.count("*").cast("long").alias("n_users")
    )
    return (
        pairs.where(F.col("c_xy") >= 3)
        .join(
            F.broadcast(pop.withColumnRenamed("item", "x").withColumnRenamed("c_i", "c_x")),
            "x",
        )
        .join(
            F.broadcast(pop.withColumnRenamed("item", "y").withColumnRenamed("c_i", "c_y")),
            "y",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "x",
            "y",
            "c_xy",
            F.expr(
                "CAST((c_xy * 1000000 div c_x) * n_users div c_y AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), F.col("x"), F.col("y"))
        .limit(20)
    )


SKETCH_QUERIES["q250_basket_affinity"] = q250_basket_affinity

SKETCH_ORACLES["q250_basket_affinity"] = """
    WITH clicks AS (
      SELECT DISTINCT user_id,
             CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
               AS item
      FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT a.item AS x, b.item AS y, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM clicks a JOIN clicks b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY a.item, b.item
    ),
    pop AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS c_i
      FROM clicks GROUP BY item
    ),
    nu AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM clicks
    )
    SELECT p.x, p.y, p.c_xy,
           CAST((p.c_xy * 1000000 // px.c_i) * nu.n_users // py.c_i
                AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN pop px ON p.x = px.item
    JOIN pop py ON p.y = py.item
    CROSS JOIN nu
    WHERE p.c_xy >= 3
    ORDER BY lift_ppm DESC, p.x, p.y LIMIT 20
"""


# --- q251: seasonal-naive forecast evaluation --------------------------------


def q251_forecast_eval(spark, sf_dir):
    """Seasonal-naive forecast baseline and its error, exact to the
    cent: daily purchase revenue, forecast(d) = revenue(d - 7 days)
    (the weekly-seasonality naive every real forecaster must beat),
    scored by MAE in cents and MAPE in milli over the evaluable days.
    Day arithmetic is epoch-day integers (``epoch_us div 86400e6``) so
    both engines bucket identically — no calendar functions with
    engine-specific week rules.

    Scale shape: the fact stream collapses to one row per day in a
    single aggregate; the lag-7 window and the error aggregate run on
    that ~30-row table. The eval is one row — the dashboard scalar.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("day").agg(F.sum("cents").cast("long").alias("rev"))
    w = Window.orderBy("day")
    scored = daily.select(
        "day", "rev", F.lag("rev", 7).over(w).alias("fc")
    ).where(F.col("fc").isNotNull())
    return scored.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("CAST(sum(abs(rev - fc)) div count(*) AS BIGINT)").alias(
            "mae_cents"
        ),
        F.expr(
            "CAST(sum(abs(rev - fc) * 1000 div rev) div count(*) AS BIGINT)"
        ).alias("mape_milli"),
    )


SKETCH_QUERIES["q251_forecast_eval"] = q251_forecast_eval

SKETCH_ORACLES["q251_forecast_eval"] = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    scored AS (
      SELECT day, rev, LAG(rev, 7) OVER (ORDER BY day) AS fc
      FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(CAST(SUM(abs(rev - fc)) AS BIGINT)
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS mae_cents,
           CAST(CAST(SUM(abs(rev - fc) * 1000 // rev) AS BIGINT)
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS mape_milli
    FROM scored WHERE fc IS NOT NULL
"""


# --- q252: chi-square independence test --------------------------------------


def q252_chisq_independence(spark, sf_dir):
    """Pearson chi-square independence test (event_type x weekend) in
    exact milli fixed point: per-cell terms ((o*N - r*c)^2 * 1000) /
    (N * r * c) — the numerator square (~1e19) carried in
    DECIMAL(38,0)/HUGEINT, every division last, so the statistic is
    engine-exact. Weekend comes from epoch-day arithmetic
    ((day + 3) % 7 >= 5; day 0 = Thursday), not calendar dow functions
    whose week origin differs between engines.

    The A/B-test shape: at 100 TB the contingency table is one
    aggregate to |types| x 2 cells; the statistic is driver-free
    arithmetic over that tiny table. chi2_milli >> the 9.49 critical
    value (alpha=.05, dof=4) would flag a weekday-mix shift.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            (F.expr("unix_micros(ts) div 86400000000") + 3) % 7 >= 5
        ).alias("is_weekend"),
    )
    # |types| x 2 rows, but the subtree is a full corpus aggregate and
    # has FOUR consumers (rows, cols, total, terms) — materialize once
    cells = ev.groupBy("event_type", "is_weekend").agg(
        F.count("*").cast("long").alias("o")
    ).localCheckpoint(eager=True)
    rows = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("r")
    )
    cols = cells.groupBy("is_weekend").agg(
        F.sum("o").cast("long").alias("c")
    )
    total = cells.agg(F.sum("o").cast("long").alias("n"))
    terms = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "is_weekend")
        .crossJoin(F.broadcast(total))
        .select(
            F.expr(
                "CAST((CAST(o * n - r * c AS DECIMAL(38,0))"
                " * (o * n - r * c) * 1000)"
                " div (n * r * c) AS BIGINT)"
            ).alias("term_milli"),
            "n",
        )
    )
    return terms.groupBy("n").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("term_milli").cast("long").alias("chi2_milli"),
    ).select(
        F.col("n").alias("n_events"),
        "n_cells",
        F.expr("CAST((n_cells div 2 - 1) * (2 - 1) AS BIGINT)").alias("dof"),
        "chi2_milli",
    )


SKETCH_QUERIES["q252_chisq_independence"] = q252_chisq_independence

SKETCH_ORACLES["q252_chisq_independence"] = """
    WITH ev AS (
      SELECT event_type,
             ((epoch_us(ts) // 86400000000 + 3) % 7) >= 5 AS is_weekend
      FROM events
    ),
    cells AS (
      SELECT event_type, is_weekend, CAST(COUNT(*) AS BIGINT) AS o
      FROM ev GROUP BY event_type, is_weekend
    ),
    r AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
      FROM cells GROUP BY event_type
    ),
    c AS (
      SELECT is_weekend, CAST(SUM(o) AS BIGINT) AS c
      FROM cells GROUP BY is_weekend
    ),
    t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT CAST((CAST(ce.o * t.n - r.r * c.c AS HUGEINT)
                   * (ce.o * t.n - r.r * c.c) * 1000)
                  // (t.n * r.r * c.c) AS BIGINT) AS term_milli,
             t.n
      FROM cells ce
      JOIN r ON ce.event_type = r.event_type
      JOIN c ON ce.is_weekend = c.is_weekend
      CROSS JOIN t
    )
    SELECT n AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(*) // 2 - 1) * (2 - 1) AS BIGINT) AS dof,
           CAST(SUM(term_milli) AS BIGINT) AS chi2_milli
    FROM terms GROUP BY n
"""


# --- q253: incremental join-view maintenance ---------------------------------


def q253_delta_join_view(spark, sf_dir):
    """Incremental view maintenance for a JOIN view, the classic
    delta-rule: with V = A join B and inserts dA, dB,

        dV  =  dA join B_old  UNION ALL  A_old join dB
                              UNION ALL  dA join dB

    (the three terms partition the new pairs by which side is new, so
    they are disjoint — no dedup needed). The query materializes the
    rule on orders join customer (deterministic hash split: ~6 % of
    orders and ~9 % of customers play the role of the delta), counts
    each term, and AUDITS the rule against the full recompute with a
    portable-hash checksum over the join keys — maintenance vs
    recompute must agree in count AND content, engine-exactly.

    Scale shape: at 100 TB dV costs |dA| + |dB| worth of join work
    against the (bucketed) old sides instead of re-joining the world —
    THE argument for maintaining materialized views incrementally; the
    checksum column is how a production maintainer would continuously
    self-verify. 3 hash joins over delta-sized probes + 1 recompute
    join (audit only) + tiny aggregates.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    a_new = F.col("o_orderkey") % 17 == 0
    b_new = F.col("c_custkey") % 11 == 0
    a_old, da = orders.where(~a_new), orders.where(a_new)
    b_old, db = cust.where(~b_new), cust.where(b_new)

    def _j(left, right):
        return left.join(right, F.col("o_custkey") == F.col("c_custkey"))

    def _sig(df, label):
        # 31-bit portable row hash — summable over ~2^31 rows in BIGINT
        return df.agg(
            F.lit(label).alias("part"),
            F.count("*").cast("long").alias("n"),
            F.sum(F.expr(f"conv(substring(md5(concat(CAST(o_orderkey AS STRING), ':', CAST(c_custkey AS STRING))), 1, 8), 16, 10) % 2147483647"))
            .cast("long")
            .alias("key_sum"),
        )

    v_old = _j(a_old, b_old)
    d1, d2, d3 = _j(da, b_old), _j(a_old, db), _j(da, db)
    recompute = _j(orders, cust)
    # the incremental view's signature is ADDITIVE over the disjoint
    # parts (count and key_sum are both plain sums, same addends in a
    # different association), so it is derived from the four
    # materialized part rows instead of re-running every delta join
    # inside a union (which doubled all four joins: 9 orders scans)
    part_sigs = (
        _sig(v_old, "v_old")
        .unionAll(_sig(d1, "delta_a"))
        .unionAll(_sig(d2, "delta_b"))
        .unionAll(_sig(d3, "delta_ab"))
        .localCheckpoint(eager=True)
    )
    inc_sig = part_sigs.agg(
        F.lit("incremental").alias("part"),
        F.sum("n").cast("long").alias("n"),
        F.sum("key_sum").cast("long").alias("key_sum"),
    )
    parts = part_sigs.unionAll(inc_sig).unionAll(_sig(recompute, "recompute"))
    return parts.orderBy("part")


SKETCH_QUERIES["q253_delta_join_view"] = q253_delta_join_view

_Q253_HASH = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||"
    " CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2147483647"
)

SKETCH_ORACLES["q253_delta_join_view"] = f"""
    WITH a_old AS (SELECT o_orderkey, o_custkey FROM orders
                   WHERE o_orderkey % 17 <> 0),
    da AS (SELECT o_orderkey, o_custkey FROM orders
           WHERE o_orderkey % 17 = 0),
    b_old AS (SELECT c_custkey FROM customer WHERE c_custkey % 11 <> 0),
    db AS (SELECT c_custkey FROM customer WHERE c_custkey % 11 = 0),
    v_old AS (SELECT o_orderkey, c_custkey FROM a_old
              JOIN b_old ON o_custkey = c_custkey),
    d1 AS (SELECT o_orderkey, c_custkey FROM da
           JOIN b_old ON o_custkey = c_custkey),
    d2 AS (SELECT o_orderkey, c_custkey FROM a_old
           JOIN db ON o_custkey = c_custkey),
    d3 AS (SELECT o_orderkey, c_custkey FROM da
           JOIN db ON o_custkey = c_custkey),
    incr AS (
      SELECT * FROM v_old UNION ALL SELECT * FROM d1
      UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
    ),
    reco AS (SELECT o_orderkey, c_custkey FROM orders
             JOIN customer ON o_custkey = c_custkey),
    sigs AS (
      SELECT 'v_old' AS part, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({_Q253_HASH}) AS BIGINT) AS key_sum FROM v_old
      UNION ALL
      SELECT 'delta_a', CAST(COUNT(*) AS BIGINT),
             CAST(SUM({_Q253_HASH}) AS BIGINT) FROM d1
      UNION ALL
      SELECT 'delta_b', CAST(COUNT(*) AS BIGINT),
             CAST(SUM({_Q253_HASH}) AS BIGINT) FROM d2
      UNION ALL
      SELECT 'delta_ab', CAST(COUNT(*) AS BIGINT),
             CAST(SUM({_Q253_HASH}) AS BIGINT) FROM d3
      UNION ALL
      SELECT 'incremental', CAST(COUNT(*) AS BIGINT),
             CAST(SUM({_Q253_HASH}) AS BIGINT) FROM incr
      UNION ALL
      SELECT 'recompute', CAST(COUNT(*) AS BIGINT),
             CAST(SUM({_Q253_HASH}) AS BIGINT) FROM reco
    )
    SELECT part, n, key_sum FROM sigs ORDER BY part
"""


# --- q254: binary-decay momentum ---------------------------------------------


def q254_decay_momentum(spark, sf_dir):
    """Recency-weighted revenue momentum with BINARY decay — the
    exp()-free EWMA: day d's revenue contributes ``cents >> age`` to
    the momentum score (half-life = 1 day, exact integer shifts, ages
    beyond 40 days contribute 0 by construction). Per event type:
    momentum, the naive 40-day total, and momentum's share of total in
    ppm — how front-loaded the recent activity is.

    Scale shape: facts collapse to (type, day) in one aggregate; the
    decay fold is a ~40-row-per-type expression against the broadcast
    1-row max-day — no window over facts, no recursion (the standard
    EWMA's sequential dependency is gone because 2^-k weights are
    closed-form).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click", "signup")
    )
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("event_type", "day").agg(
        F.sum("cents").cast("long").alias("rev")
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    return (
        daily.crossJoin(F.broadcast(mx))
        .where(F.expr("max_day - day < 40"))
        .select(
            "event_type",
            F.expr(
                "shiftright(rev, CAST(max_day - day AS INT))"
            ).alias("decayed"),
            "rev",
        )
        .groupBy("event_type")
        .agg(
            F.sum("decayed").cast("long").alias("momentum"),
            F.sum("rev").cast("long").alias("total_40d"),
        )
        .select(
            "event_type",
            "momentum",
            "total_40d",
            F.expr("CAST(momentum * 1000000 div total_40d AS BIGINT)").alias(
                "front_load_ppm"
            ),
        )
        .orderBy("event_type")
    )


SKETCH_QUERIES["q254_decay_momentum"] = q254_decay_momentum

SKETCH_ORACLES["q254_decay_momentum"] = """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events
      WHERE event_type IN ('purchase', 'click', 'signup')
      GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(day) AS max_day FROM daily),
    decayed AS (
      SELECT event_type, rev >> CAST(max_day - day AS INT) AS decayed,
             rev
      FROM daily CROSS JOIN mx
      WHERE max_day - day < 40
    )
    SELECT event_type,
           CAST(SUM(decayed) AS BIGINT) AS momentum,
           CAST(SUM(rev) AS BIGINT) AS total_40d,
           CAST(CAST(SUM(decayed) AS BIGINT) * 1000000
                // CAST(SUM(rev) AS BIGINT) AS BIGINT) AS front_load_ppm
    FROM decayed GROUP BY event_type
    ORDER BY event_type
"""


# --- q255: bitmap index intersection -----------------------------------------


def q255_bitmap_index(spark, sf_dir):
    """Bitmap-index boolean retrieval: per token, the docs containing
    it are packed into 62-bit words (block = doc_id div 62, word =
    bit_or(1 << doc_id mod 62) — 62 dodges the sign bit in both
    engines), and "docs containing BOTH 'hash' AND 'join'" becomes
    popcount(w1 & w2) summed over co-present blocks — the classic OLAP
    bitmap AND, with OR handled via inclusion-exclusion so absent
    blocks need no outer join. The exact distinct-doc intersection is
    computed alongside and must EQUAL the bitmap answer (bitmaps are a
    lossless index, not a sketch) — the equality is part of the output.

    Scale shape: bitmap build is one (token, block) aggregate with
    map-side bit_or combining — the posting list compresses 62:1
    against an id list before the shuffle; the AND/OR query touches
    only the two tokens' words. At 100 TB this is the word-aligned
    core of a roaring-style index.
    """
    t1, t2 = "hash", "join"
    docs = load_table(spark, sf_dir, "documents")
    toked = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .where(F.col("tok").isin(t1, t2))
        .distinct()
        # feeds FOUR consumers (both word maps, per-token counts, the
        # exact AND audit) — materialize the tiny (doc, tok) presence
        # set once or Catalyst re-derives the corpus explode per
        # consumer (23 s -> ~4 s at sf0.01; q131/q245 policy)
        .transform(checkpoint_corpus)
    )
    words = toked.select(
        "tok",
        F.expr("doc_id div 62").alias("block"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 62 AS INT))").alias(
            "bit"
        ),
    ).groupBy("tok", "block").agg(F.expr("bit_or(bit)").alias("w"))
    w1 = words.where(F.col("tok") == t1).select(
        "block", F.col("w").alias("w1")
    )
    w2 = words.where(F.col("tok") == t2).select(
        "block", F.col("w").alias("w2")
    )
    bitmap = (
        w1.join(w2, "block")
        .agg(
            F.sum(F.expr("bit_count(w1 & w2)")).cast("long").alias(
                "and_docs"
            ),
        )
    )
    counts = words.groupBy("tok").agg(
        F.sum(F.expr("bit_count(w)")).cast("long").alias("docs"),
        F.count("*").cast("long").alias("blocks"),
    )
    c1 = counts.where(F.col("tok") == t1).select(
        F.col("docs").alias("docs_t1"), F.col("blocks").alias("blocks_t1")
    )
    c2 = counts.where(F.col("tok") == t2).select(
        F.col("docs").alias("docs_t2"), F.col("blocks").alias("blocks_t2")
    )
    exact = (
        toked.groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("k"))
        .agg(
            F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
            .cast("long")
            .alias("and_docs_exact")
        )
    )
    return (
        bitmap.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(exact))
        .select(
            "docs_t1",
            "blocks_t1",
            "docs_t2",
            "blocks_t2",
            "and_docs",
            "and_docs_exact",
            (F.col("docs_t1") + F.col("docs_t2") - F.col("and_docs")).alias(
                "or_docs"
            ),
            (F.col("and_docs") == F.col("and_docs_exact"))
            .cast("long")
            .alias("lossless"),
        )
    )


SKETCH_QUERIES["q255_bitmap_index"] = q255_bitmap_index

SKETCH_ORACLES["q255_bitmap_index"] = f"""
    WITH toked AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
      ) WHERE tok IN ('hash', 'join')
    ),
    words AS (
      SELECT tok, doc_id // 62 AS block,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(doc_id % 62 AS INT))
                  AS BIGINT) AS w
      FROM toked GROUP BY tok, doc_id // 62
    ),
    anded AS (
      SELECT CAST(SUM(bit_count(a.w & b.w)) AS BIGINT) AS and_docs
      FROM words a JOIN words b ON a.block = b.block
      WHERE a.tok = 'hash' AND b.tok = 'join'
    ),
    counts AS (
      SELECT tok, CAST(SUM(bit_count(w)) AS BIGINT) AS docs,
             CAST(COUNT(*) AS BIGINT) AS blocks
      FROM words GROUP BY tok
    ),
    exact AS (
      SELECT CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS and_docs_exact
      FROM (SELECT doc_id, COUNT(DISTINCT tok) AS k
            FROM toked GROUP BY doc_id)
    )
    SELECT c1.docs AS docs_t1, c1.blocks AS blocks_t1,
           c2.docs AS docs_t2, c2.blocks AS blocks_t2,
           a.and_docs, e.and_docs_exact,
           c1.docs + c2.docs - a.and_docs AS or_docs,
           CAST(a.and_docs = e.and_docs_exact AS BIGINT) AS lossless
    FROM anded a
    CROSS JOIN (SELECT docs, blocks FROM counts WHERE tok = 'hash') c1
    CROSS JOIN (SELECT docs, blocks FROM counts WHERE tok = 'join') c2
    CROSS JOIN exact e
"""
