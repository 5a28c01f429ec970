"""Selection & distribution metrology queries (q335+): the sampling,
reweighting, and statistical-testing operations a 100 TB curation
pipeline runs AROUND its filters — domain reweighting (DoReMi-style
multiplicative weights), Good–Turing unseen-mass estimation, priority
sampling with unbiased subset-sum estimates, Neyman allocation,
asymmetric shingle containment (quote/subset detection that symmetric
Jaccard misses), Kolmogorov–Smirnov and Mann–Whitney drift tests,
dead-embedding-dimension audits, t-closeness (completing the
k-anonymity / l-diversity privacy triad), TF-cosine all-pairs document
similarity (Bayardo et al., WWW'07), split-conformal thresholds, and
deterministic permutation tests.

House conventions (identical to queries/audit_queries.py): exact
integer arithmetic (ppm/fixed point, division LAST, Spark ``div`` /
DuckDB ``//``), portable md5 hashing, DECIMAL(38,0)/HUGEINT headroom on
products of sums, scalar-only output columns, identical column aliases
in query and oracle, ``ensure_parallelism`` ahead of CPU-dense per-row
passes, ``localCheckpoint`` on collapsed bounded-domain tables.

Reference parity note: the reference engine (milenkovicm/adhesive,
src/fusion.rs) delegates its relational surface to DataFusion and ships
none of this; this module is SURVEY §2.3 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from adhesive_spark.queries.oracle_fragments import (
    _NORM,
    _PAIR_CTES,
    _TOKS,
    _h32,
    _quality_sql,
)
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

METROLOGY_QUERIES: dict = {}
METROLOGY_ORACLES: dict = {}

# --- q335: DoReMi-style domain reweighting (multiplicative weights) ----------


def q335_domain_reweight(spark, sf_dir):
    """Domain-mixture reweighting à la DoReMi (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"), with the per-domain quality DEFICIT standing in for
    excess loss: domains whose mean quality trails the corpus mean get
    their mixture weight multiplicatively boosted for 3 rounds, then
    renormalized to ppm — the planner that decides how hard to
    oversample an under-served domain before the next training run.

    Exact integer arithmetic: weights live in ppm, each round is
    ``w ← w·(1e6 + excess_ppm) div 1e6`` followed by ``w ← w·1e6 div
    Σw``; division last, so the output is engine-identical.

    Scale shape: ONE corpus aggregate collapses documents to K source
    rows (map-side combined, checkpointed); the 3 MM-style rounds run
    on K rows with a broadcast 1-row renormalizer each — all tiny jobs,
    replication-invariant (means and shares are ratios)."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    dom = (
        ensure_parallelism(docs)
        .select(
            "source", scaled_long(quality_score(F.col("text")), 4).alias("q")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("q").cast("long").alias("sq"),
        )
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        dom.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("sq").cast("long").alias("ssq"),
        )
    )
    base = dom.crossJoin(tot).select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("n * 1000000 div nn").alias("base_ppm"),
        # quality deficit vs the corpus mean, in ppm of quality scale:
        # mean_ppm = sq·100 div n (q is 1e4-scaled); division-last via
        # cross-multiplication keeps it exact
        F.expr(
            "greatest(CAST(ssq AS DECIMAL(38,0)) * n - "
            "CAST(sq AS DECIMAL(38,0)) * nn, 0)"
        ).alias("deficit_num"),
        F.expr("CAST(n AS DECIMAL(38,0)) * nn").alias("deficit_den"),
    )
    base = base.select(
        "source",
        "n_docs",
        "base_ppm",
        F.expr(
            "CAST(deficit_num * 100 div deficit_den AS BIGINT)"
        ).alias("excess_ppm"),
    ).localCheckpoint(eager=True)
    w = base.select("source", F.col("base_ppm").alias("w"))
    for _ in range(3):
        boosted = w.join(
            F.broadcast(base.select("source", "excess_ppm")), "source"
        ).selectExpr("source", "w * (1000000 + excess_ppm) div 1000000 AS w")
        w = (
            boosted.crossJoin(
                F.broadcast(boosted.agg(F.sum("w").alias("sw")))
            )
            .selectExpr("source", "w * 1000000 div sw AS w")
            .localCheckpoint(eager=True)
        )
    return base.join(w, "source").select(
        "source",
        "n_docs",
        "base_ppm",
        "excess_ppm",
        F.col("w").cast("long").alias("weight_ppm"),
        (F.col("w") - F.col("base_ppm")).cast("long").alias("tilt_ppm"),
    )


METROLOGY_QUERIES["q335_domain_reweight"] = q335_domain_reweight


def _drw_round_sql(prev: str, cur: str) -> str:
    """One multiplicative-weights round as CTE text."""
    return f"""
    b_{cur} AS (
      SELECT w.source,
             CAST(w.w * (1000000 + b.excess_ppm) // 1000000 AS BIGINT) AS w
      FROM {prev} w JOIN base b ON w.source = b.source
    ),
    {cur} AS (
      SELECT source,
             CAST(w * 1000000 // (SELECT SUM(w) FROM b_{cur}) AS BIGINT) AS w
      FROM b_{cur}
    )"""


def _drw_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks FROM documents
    ),
    dom AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT))
                  AS BIGINT) AS sq
      FROM t GROUP BY source
    ),
    tot AS (SELECT SUM(n) AS nn, SUM(sq) AS ssq FROM dom),
    base AS (
      SELECT source, n AS n_docs,
             CAST(n * 1000000 // nn AS BIGINT) AS base_ppm,
             CAST(GREATEST(CAST(ssq AS HUGEINT) * n
                           - CAST(sq AS HUGEINT) * nn, 0) * 100
                  // (CAST(n AS HUGEINT) * nn) AS BIGINT) AS excess_ppm
      FROM dom, tot
    ),
    w0 AS (SELECT source, base_ppm AS w FROM base),
    {_drw_round_sql("w0", "w1")},
    {_drw_round_sql("w1", "w2")},
    {_drw_round_sql("w2", "w3")}
    SELECT b.source, b.n_docs, b.base_ppm, b.excess_ppm,
           w3.w AS weight_ppm,
           CAST(w3.w - b.base_ppm AS BIGINT) AS tilt_ppm
    FROM base b JOIN w3 ON b.source = w3.source
    """


METROLOGY_ORACLES["q335_domain_reweight"] = _drw_oracle()


# --- q336: Good–Turing unseen-mass estimate ----------------------------------


def q336_good_turing_mass(spark, sf_dir):
    """Good–Turing unseen-probability-mass estimate per source (Gale &
    Sampson 1995, "Good–Turing frequency estimation without tears"):
    the probability that the NEXT token drawn from a source is a type
    never seen before ≈ N₁/T (singleton types over total tokens) — the
    vocabulary-coverage planner that says which sources still surprise
    the tokenizer and how fast (alongside N₂ for the Turing estimate of
    singleton discount and the singleton share of the vocabulary).

    Scale shape: token explode collapses immediately to (source, token)
    counts (map-side combined), then to a per-source count-of-counts —
    two keyed aggregates, corpus-linear, no windows, no joins against
    raw rows."""
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        ensure_parallelism(docs)
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return tok.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " div sum(c) AS BIGINT)"
        ).alias("unseen_mass_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("singleton_share_ppm"),
    )


METROLOGY_QUERIES["q336_good_turing_mass"] = q336_good_turing_mass

METROLOGY_ORACLES["q336_good_turing_mass"] = f"""
    WITH tok AS (
      SELECT source, t.tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents) t
      GROUP BY source, t.tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // SUM(c) AS BIGINT) AS unseen_mass_ppm,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS singleton_share_ppm
    FROM tok GROUP BY source
"""


# --- q337: priority sampling with unbiased subset-sum estimator ---------------


def q337_priority_sample(spark, sf_dir):
    """Priority sampling (Duffield, Lund & Thorup 2007, "Priority
    sampling for estimation of arbitrary subset sums"): draw a fixed
    k=32 weighted sample of documents (weight = n_chars) such that ANY
    subset-sum of weights is estimable without bias — each sampled item
    gets priority q = w·1e6 div u (u a deterministic per-doc hash in
    [1, 1e6]), the top k+1 priorities are taken, τ = the (k+1)-th, and
    the estimator per kept item is max(w, τ). The one-pass weighted
    sampler a curation pipeline uses to audit a 100 TB corpus from 32
    rows with calibrated totals.

    Scale shape: priorities are a stateless per-row projection; the
    top-(k+1) is a TakeOrdered (no global sort); everything after runs
    on 33 rows. The true total rides along from a 1-row broadcast
    aggregate so the output is self-auditing."""
    from adhesive_spark.operators.dedup import portable_hash32

    k = 32
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    u = (
        portable_hash32(
            F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))
        )
        % F.lit(1000000)
    ) + F.lit(1)
    prios = docs.withColumn("u", u).selectExpr(
        "doc_id", "w", "w * 1000000 div u AS prio"
    )
    top = (
        prios.orderBy(F.col("prio").desc(), "doc_id")
        .limit(k + 1)
        .localCheckpoint(eager=True)
    )
    # bounded-domain: 33 rows only — single-partition window is safe
    wr = Window.orderBy(F.col("prio").desc(), F.col("doc_id"))
    ranked = top.select(
        "doc_id", "w", "prio", F.row_number().over(wr).alias("rank")
    )
    tau = F.broadcast(
        ranked.where(F.col("rank") == k + 1).select(
            F.col("prio").alias("tau")
        )
    )
    sampled = (
        ranked.where(F.col("rank") <= k)
        .crossJoin(tau)
        .select(
            "rank",
            "doc_id",
            "w",
            F.greatest(F.col("w"), F.col("tau")).cast("long").alias("est_w"),
        )
    )
    est = F.broadcast(
        sampled.agg(F.sum("est_w").cast("long").alias("est_total"))
    )
    true_tot = F.broadcast(
        docs.agg(F.sum("w").cast("long").alias("true_total"))
    )
    return sampled.crossJoin(est).crossJoin(true_tot).select(
        "rank", "doc_id", "w", "est_w", "est_total", "true_total"
    )


METROLOGY_QUERIES["q337_priority_sample"] = q337_priority_sample

METROLOGY_ORACLES["q337_priority_sample"] = f"""
    WITH prios AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST(CAST(n_chars AS BIGINT) * 1000000 //
                  (({_h32("md5('ps:' || CAST(doc_id AS VARCHAR))")} % 1000000)
                   + 1) AS BIGINT) AS prio
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, w, prio,
             ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS rank
      FROM prios
    ),
    tau AS (SELECT prio AS tau FROM ranked WHERE rank = 33),
    sampled AS (
      SELECT rank, doc_id, w,
             CAST(GREATEST(w, tau.tau) AS BIGINT) AS est_w
      FROM ranked, tau WHERE rank <= 32
    )
    SELECT rank, doc_id, w, est_w,
           (SELECT CAST(SUM(est_w) AS BIGINT) FROM sampled) AS est_total,
           (SELECT CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
            FROM documents) AS true_total
    FROM sampled
"""


# --- q338: Neyman allocation planner ------------------------------------------


def q338_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified sample allocation (Neyman 1934): for a
    fixed labeling/eval budget of 10,000 rows, allocate to strata
    (sources) proportionally to N_h·σ_h — high-variance strata earn
    more samples than proportional allocation gives them. σ_h is the
    integer square root of the exact integer variance of the
    1e4-scaled quality score (floor(sqrt(x)) on an integral double is
    exact and engine-identical; the variance numerator uses
    DECIMAL(38,0) headroom).

    Scale shape: one corpus aggregate to K source rows (n, Σq, Σq² —
    map-side combined), then arithmetic on K rows with a 1-row
    broadcast normalizer. Replication-invariant."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    budget = 10000
    docs = load_table(spark, sf_dir, "documents")
    strata = (
        ensure_parallelism(docs)
        .select(
            "source", scaled_long(quality_score(F.col("text")), 4).alias("q")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("q").cast("long").alias("s1"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    sig = strata.select(
        "source",
        "n",
        F.expr(
            "CAST(FLOOR(SQRT(CAST("
            " CAST((CAST(n AS DECIMAL(38,0)) * s2"
            "       - CAST(s1 AS DECIMAL(38,0)) * s1)"
            "      div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            " AS DOUBLE))) AS BIGINT)"
        ).alias("sigma_scaled"),
    )
    weighted = sig.select(
        "source",
        "n",
        "sigma_scaled",
        (F.col("n") * F.col("sigma_scaled")).alias("wgt"),
    )
    tot = F.broadcast(
        weighted.agg(
            F.sum("wgt").cast("long").alias("wtot"),
            F.sum("n").cast("long").alias("ntot"),
        )
    )
    return weighted.crossJoin(tot).select(
        "source",
        F.col("n").alias("n_docs"),
        "sigma_scaled",
        F.expr("wgt * 1000000 div greatest(wtot, 1)")
        .cast("long")
        .alias("neyman_ppm"),
        F.expr(f"wgt * {budget} div greatest(wtot, 1)")
        .cast("long")
        .alias("neyman_alloc"),
        F.expr(f"n * {budget} div ntot").cast("long").alias("prop_alloc"),
    )


METROLOGY_QUERIES["q338_neyman_allocation"] = q338_neyman_allocation


def _neyman_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks FROM documents
    ),
    strata AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2
      FROM (SELECT source,
                   CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q
            FROM t)
      GROUP BY source
    ),
    sig AS (
      SELECT source, n,
             CAST(FLOOR(SQRT(CAST(
               CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
                    // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS DOUBLE))) AS BIGINT) AS sigma_scaled
      FROM strata
    ),
    weighted AS (
      SELECT source, n, sigma_scaled, n * sigma_scaled AS wgt FROM sig
    ),
    tot AS (SELECT SUM(wgt) AS wtot, SUM(n) AS ntot FROM weighted)
    SELECT source, n AS n_docs, sigma_scaled,
           CAST(wgt * 1000000 // GREATEST(wtot, 1) AS BIGINT) AS neyman_ppm,
           CAST(wgt * 10000 // GREATEST(wtot, 1) AS BIGINT) AS neyman_alloc,
           CAST(n * 10000 // ntot AS BIGINT) AS prop_alloc
    FROM weighted, tot
    """


METROLOGY_ORACLES["q338_neyman_allocation"] = _neyman_oracle()


# --- q339: asymmetric shingle containment (quote/subset detection) ------------


def q339_containment_pairs(spark, sf_dir):
    """Asymmetric containment near-dup pairs (Broder 1997): C(A→B) =
    |A∩B|/|A| over 3-word shingles — the quote/excerpt/syndication
    detector. A 200-word excerpt inside a 5,000-word page has Jaccard
    ≈ 0.04 (invisible to q33/q37) but containment ≈ 1.0; a dedup policy
    that only looks at symmetric similarity double-counts exactly these.
    Emits both directions' containments and the Jaccard for every pair
    where either direction ≥ 0.25, all exact ppm.

    Scale shape: explode + equi-join on shingle with the df≤1000
    hot-shingle candidate cap (per-shingle cost ≤ cap²); denominators
    keep full shingle-set sizes."""
    from adhesive_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 1000
    )
    return containment_pairs(
        docs, "text", "doc_id", n=3, threshold_ppm=250_000
    )


METROLOGY_QUERIES["q339_containment_pairs"] = q339_containment_pairs

METROLOGY_ORACLES["q339_containment_pairs"] = f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks
      FROM documents WHERE doc_id < 1000
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) - 2 >= 1
                  THEN list_distinct(list_transform(
                         range(1, len(toks) - 2 + 1),
                         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                  ELSE [norm] END AS grams
      FROM t
    ),
    x AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
    sz AS (SELECT doc_id, len(grams) AS n_sh FROM g),
    rare AS (SELECT shingle FROM x GROUP BY shingle HAVING COUNT(*) <= 1000),
    xf AS (SELECT x.doc_id, x.shingle FROM x JOIN rare USING (shingle)),
    c AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM xf a JOIN xf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_common * 1000000 // sa.n_sh AS BIGINT) AS cont_ab_ppm,
           CAST(n_common * 1000000 // sb.n_sh AS BIGINT) AS cont_ba_ppm,
           CAST(n_common * 1000000 // (sa.n_sh + sb.n_sh - n_common)
                AS BIGINT) AS jaccard_ppm
    FROM c
    JOIN sz sa ON c.id_a = sa.doc_id
    JOIN sz sb ON c.id_b = sb.doc_id
    WHERE n_common * 1000000 // sa.n_sh >= 250000
       OR n_common * 1000000 // sb.n_sh >= 250000
"""


# --- q340: two-sample Kolmogorov–Smirnov drift per source ----------------------


def q340_ks_drift(spark, sf_dir):
    """Per-source distribution drift: the exact two-sample
    Kolmogorov–Smirnov statistic between each source's quality-score
    distribution and the REST of the corpus — the detector for "this
    source's quality profile is shaped differently", which mean-based
    monitors (q150/q222) miss when means happen to agree. D is computed
    as max over distinct values of |cum_src·n_rest − cum_rest·n_src|
    (integer cross-multiplication — division happens ONCE at the end),
    with the arg-max value reported via the house hv-encode trick
    (d_num·100001 + q_s, tie → larger q_s).

    Scale shape: the corpus collapses to (source, q_s) distinct-value
    counts in ONE pass (checkpointed — the q318 discipline); the value
    grid (distinct values × K sources, both bounded) is built from a
    broadcast crossJoin; all windows run over distinct VALUES per
    source, never rows."""
    return ks_drift_report(load_table(spark, sf_dir, "documents"))


def ks_drift_report(docs):
    """DF-level core of q340 (any documents DataFrame with source/text)
    — shared with the stress harness, which drives it over the
    N×-replicated corpus to prove the distinct-value grid stays
    bounded-domain (replication grows rows, never distinct quality
    values, so D and the windows are replication-invariant)."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    by_val = (
        ensure_parallelism(docs)
        .select(
            "source", scaled_long(quality_score(F.col("text")), 4).alias("q_s")
        )
        .groupBy("source", "q_s")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vals = by_val.select("q_s").distinct()
    srcs = by_val.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_src")
    )
    tot = F.broadcast(by_val.agg(F.sum("cnt").cast("long").alias("n_all")))
    # bounded grid: K sources × distinct values (both collapse-bounded)
    grid = srcs.crossJoin(F.broadcast(vals)).join(
        by_val, ["source", "q_s"], "left"
    ).select(
        "source",
        "n_src",
        "q_s",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("a"),
    )
    wv = (
        Window.partitionBy("source")
        .orderBy("q_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # global cumulative per value from the value-collapsed table
    gv = by_val.groupBy("q_s").agg(F.sum("cnt").cast("long").alias("g"))
    # bounded-domain: distinct quality values only (replication-
    # invariant) — single-partition WindowExec is intentional and safe
    wg = Window.orderBy("q_s").rowsBetween(Window.unboundedPreceding, 0)
    gcum = gv.select("q_s", F.sum("g").over(wg).alias("cum_all"))
    cums = (
        grid.select(
            "source", "n_src", "q_s", F.sum("a").over(wv).alias("cum_src")
        )
        .join(F.broadcast(gcum), "q_s")
        .crossJoin(tot)
    )
    d = cums.select(
        "source",
        "n_src",
        (F.col("n_all") - F.col("n_src")).alias("n_rest"),
        "q_s",
        F.expr(
            "abs(CAST(cum_src AS DECIMAL(38,0)) * (n_all - n_src)"
            " - CAST(cum_all - cum_src AS DECIMAL(38,0)) * n_src)"
        ).alias("d_num"),
    )
    enc = d.groupBy("source", "n_src", "n_rest").agg(
        F.max(
            F.expr("d_num * 100001 + q_s")
        ).alias("enc")
    )
    return enc.select(
        "source",
        "n_src",
        "n_rest",
        # enc is DECIMAL(38,0), but Spark's `div` RETURNS BIGINT for
        # decimal operands — so the decoded d_num must be re-widened
        # before the ppm multiply: at the 10 000× stress rung d_num
        # crosses ~9.2e12 and (long)·1000000 overflows ANSI int64
        # (caught by the r12 ladder; DuckDB's HUGEINT oracle twin was
        # never exposed). Exact integers are unchanged where the long
        # path fit.
        F.expr(
            "CAST(CAST(enc div 100001 AS DECIMAL(38,0)) * 1000000"
            " div greatest(CAST(n_src AS DECIMAL(38,0)) * n_rest, 1)"
            " AS BIGINT)"
        ).alias("ks_ppm"),
        F.expr("CAST(enc % 100001 AS BIGINT)").alias("q_at_d"),
    )


METROLOGY_QUERIES["q340_ks_drift"] = q340_ks_drift


def _ks_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT source,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s
      FROM t
    ),
    by_val AS (
      SELECT source, q_s, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM scored GROUP BY source, q_s
    ),
    vals AS (SELECT DISTINCT q_s FROM by_val),
    srcs AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_src
             FROM by_val GROUP BY source),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM by_val),
    grid AS (
      SELECT s.source, s.n_src, v.q_s,
             COALESCE(b.cnt, 0) AS a
      FROM srcs s CROSS JOIN vals v
      LEFT JOIN by_val b ON b.source = s.source AND b.q_s = v.q_s
    ),
    gcum AS (
      SELECT q_s, SUM(g) OVER (ORDER BY q_s) AS cum_all
      FROM (SELECT q_s, SUM(cnt) AS g FROM by_val GROUP BY q_s)
    ),
    cums AS (
      SELECT g.source, g.n_src, g.q_s,
             SUM(g.a) OVER (PARTITION BY g.source ORDER BY g.q_s)
               AS cum_src,
             gc.cum_all, t.n_all
      FROM grid g JOIN gcum gc ON g.q_s = gc.q_s CROSS JOIN tot t
    ),
    d AS (
      SELECT source, n_src, n_all - n_src AS n_rest, q_s,
             ABS(CAST(cum_src AS HUGEINT) * (n_all - n_src)
                 - CAST(cum_all - cum_src AS HUGEINT) * n_src) AS d_num
      FROM cums
    ),
    enc AS (
      SELECT source, n_src, n_rest,
             MAX(d_num * 100001 + q_s) AS enc
      FROM d GROUP BY source, n_src, n_rest
    )
    SELECT source, n_src, n_rest,
           CAST((enc // 100001) * 1000000
                // GREATEST(CAST(n_src AS HUGEINT) * n_rest, 1) AS BIGINT)
             AS ks_ppm,
           CAST(enc % 100001 AS BIGINT) AS q_at_d
    FROM enc
    """


METROLOGY_ORACLES["q340_ks_drift"] = _ks_oracle()


# --- q341: Mann–Whitney rank test / AUC per source ------------------------------


def q341_mannwhitney_auc(spark, sf_dir):
    """Per-source Mann–Whitney U against the rest of the corpus,
    reported as the common-language effect size U/(n₁n₂) — exactly the
    probability that a random doc from the source out-scores a random
    doc from the rest (ties count ½), i.e. the AUC of "source
    membership" as a quality classifier. The location-shift complement
    to q340's shape test. Everything integer: 2U = Σ_v a_v·(2·B_<v +
    b_v) over the distinct-value table, so ties need no fractional
    ranks; division happens once at the output.

    Scale shape: same collapsed (source, q_s) count table as q340
    (one corpus pass, checkpointed); B_<v comes from exclusive windows
    over distinct values only."""
    return mannwhitney_report(load_table(spark, sf_dir, "documents"))


def mannwhitney_report(docs):
    """DF-level core of q341 (any documents DataFrame with source/text)
    — shared with the stress harness (same replication-invariant
    distinct-value contract as :func:`ks_drift_report`)."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    by_val = (
        ensure_parallelism(docs)
        .select(
            "source", scaled_long(quality_score(F.col("text")), 4).alias("q_s")
        )
        .groupBy("source", "q_s")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    gv = by_val.groupBy("q_s").agg(F.sum("cnt").cast("long").alias("g"))
    srcs = by_val.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_src")
    )
    tot = F.broadcast(by_val.agg(F.sum("cnt").cast("long").alias("n_all")))
    # only the source's OWN values contribute (a_v = 0 elsewhere), so no
    # grid is needed: join global per-value counts and their exclusive
    # cumulative back to the source's value rows
    # bounded-domain: distinct quality values only (replication-
    # invariant) — single-partition WindowExec is intentional and safe
    wg = Window.orderBy("q_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    gcum = gv.select(
        "q_s",
        "g",
        F.coalesce(F.sum("g").over(wg), F.lit(0)).alias("g_below"),
    )
    ws = (
        Window.partitionBy("source")
        .orderBy("q_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scum = by_val.select(
        "source",
        "q_s",
        "cnt",
        F.coalesce(F.sum("cnt").over(ws), F.lit(0)).alias("a_below"),
    )
    terms = scum.join(F.broadcast(gcum), "q_s").select(
        "source",
        # b_v = g - a_v (rest count at v); B_<v = g_below - a_below
        F.expr(
            "CAST(cnt AS DECIMAL(38,0))"
            " * (2 * (g_below - a_below) + (g - cnt))"
        ).alias("term"),
    )
    u2 = terms.groupBy("source").agg(F.sum("term").alias("u2"))
    return (
        u2.join(srcs, "source")
        .crossJoin(tot)
        .select(
            "source",
            "n_src",
            (F.col("n_all") - F.col("n_src")).alias("n_rest"),
            F.col("u2").cast("long").alias("u2"),
            F.expr(
                "CAST(u2 * 1000000 div greatest(2 * CAST(n_src AS DECIMAL(38,0))"
                " * (n_all - n_src), 1) AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


METROLOGY_QUERIES["q341_mannwhitney_auc"] = q341_mannwhitney_auc


def _mwu_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT source,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s
      FROM t
    ),
    by_val AS (
      SELECT source, q_s, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM scored GROUP BY source, q_s
    ),
    gv AS (SELECT q_s, CAST(SUM(cnt) AS BIGINT) AS g
           FROM by_val GROUP BY q_s),
    gcum AS (
      SELECT q_s, g,
             COALESCE(SUM(g) OVER (ORDER BY q_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS g_below
      FROM gv
    ),
    scum AS (
      SELECT source, q_s, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY q_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS a_below
      FROM by_val
    ),
    srcs AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_src
             FROM by_val GROUP BY source),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM by_val),
    u2 AS (
      SELECT s.source,
             SUM(CAST(s.cnt AS HUGEINT)
                 * (2 * (gc.g_below - s.a_below) + (gc.g - s.cnt))) AS u2
      FROM scum s JOIN gcum gc ON s.q_s = gc.q_s
      GROUP BY s.source
    )
    SELECT u.source, sr.n_src, t.n_all - sr.n_src AS n_rest,
           CAST(u.u2 AS BIGINT) AS u2,
           CAST(u.u2 * 1000000 // GREATEST(2 * CAST(sr.n_src AS HUGEINT)
                * (t.n_all - sr.n_src), 1) AS BIGINT) AS auc_ppm
    FROM u2 u JOIN srcs sr ON u.source = sr.source CROSS JOIN tot t
    """


METROLOGY_ORACLES["q341_mannwhitney_auc"] = _mwu_oracle()


# --- q342: dead embedding dimensions -------------------------------------------


def q342_dead_dimensions(spark, sf_dir):
    """Per-dimension variance audit of the (unit-normalized, 1e6-
    quantized) embedding space: dimensions carrying < 0.1% of total
    variance are DEAD — wasted index bytes and a symptom of
    representation collapse (complement of q331's isotropy scalar,
    which says whether variance is skewed; this says WHERE). Float
    work stays in-row (q331 convention), so the cross-row moments are
    exact integers; variance numerators use DECIMAL(38,0) headroom.

    Scale shape: one posexplode pass → a 64-row per-dimension moment
    aggregate; the share normalizer is a 1-row broadcast. Per-dim
    output is dimension-bounded, not corpus-bounded."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    quant = emb.select(
        F.expr(
            "transform(v, x -> CAST(round(x / sqrt(aggregate(v,"
            " CAST(0.0 AS DOUBLE), (a, y) -> a + y * y)) * 1000000, 0)"
            " AS BIGINT))"
        ).alias("q")
    )
    # materialize the 64-row per-dimension moment table once: the
    # variance-total broadcast and the final share pass each re-ran the
    # quantize kernel + posexplode over the whole corpus
    per_dim = (
        quant.select(F.posexplode("q").alias("d", "x"))
        .groupBy("d")
        .agg(
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
            F.count("*").cast("long").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    var = per_dim.select(
        F.col("d").cast("long").alias("d"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
        ).alias("var_num"),
    )
    tot = F.broadcast(var.agg(F.sum("var_num").alias("var_tot")))
    return var.crossJoin(tot).select(
        "d",
        F.expr("CAST(var_num * 1000000 div var_tot AS BIGINT)").alias(
            "var_share_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN var_num * 1000000 div var_tot < 1000"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_dead"),
    )


METROLOGY_QUERIES["q342_dead_dimensions"] = q342_dead_dimensions

METROLOGY_ORACLES["q342_dead_dimensions"] = """
    WITH emb AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    quant AS (
      SELECT list_transform(v, x -> CAST(round(x / sqrt(
               list_reduce(list_transform(v, y -> y * y),
                           (a, b) -> a + b)) * 1000000, 0) AS BIGINT))
               AS q
      FROM emb
    ),
    per_dim AS (
      SELECT u.d, CAST(SUM(q[u.d]) AS BIGINT) AS s1,
             CAST(SUM(q[u.d] * q[u.d]) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM quant, UNNEST(generate_series(1, len(q))) AS u(d)
      GROUP BY u.d
    ),
    var AS (
      SELECT CAST(d - 1 AS BIGINT) AS d,
             CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS var_num
      FROM per_dim
    ),
    tot AS (SELECT SUM(var_num) AS var_tot FROM var)
    SELECT d,
           CAST(var_num * 1000000 // var_tot AS BIGINT) AS var_share_ppm,
           CAST(CASE WHEN var_num * 1000000 // var_tot < 1000
                THEN 1 ELSE 0 END AS BIGINT) AS is_dead
    FROM var, tot
"""


# --- q343: t-closeness privacy audit -------------------------------------------


def q343_t_closeness(spark, sf_dir):
    """t-closeness screen (Li, Li & Venkatasubramanian, ICDE 2007)
    completing the release-gate privacy triad with q179 (k-anonymity)
    and q262 (l-diversity): for each quasi-identifier class (lang,
    source, 500-char length bucket — q179's key), the Earth-Mover's
    Distance between the class's distribution over the ORDINAL
    sensitive attribute (quality decile) and the global distribution.
    A class whose sensitive distribution diverges (t > 0.3) leaks the
    attribute even when it is k-anonymous and l-diverse. Ordered-domain
    EMD = Σ_bins |cumP − cumQ| / (B−1), exact via cross-multiplied
    integer cumulatives, division last.

    Scale shape: one corpus pass collapses to (class, decile) counts
    (checkpointed); the class×10-bin grid is bounded by the class
    count; windows run over 10 bins per class."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    cells = (
        ensure_parallelism(docs)
        .select(
            "lang",
            "source",
            (F.col("n_chars") / F.lit(500)).cast("long").alias("len_bucket"),
            F.least(
                scaled_long(quality_score(F.col("text")), 4) / F.lit(1000),
                F.lit(9),
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("lang", "source", "len_bucket", "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    groups = cells.groupBy("lang", "source", "len_bucket").agg(
        F.sum("cnt").cast("long").alias("n_rows")
    )
    gbin = cells.groupBy("bin").agg(F.sum("cnt").cast("long").alias("gb"))
    tot = F.broadcast(cells.agg(F.sum("cnt").cast("long").alias("n_all")))
    spine = spark.range(10).select(F.col("id").cast("long").alias("bin"))
    # global cumulative over the 10-bin spine (bounded-domain: 10 rows —
    # single-partition window is intentional and safe)
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    gcum = (
        spine.join(gbin, "bin", "left")
        .select("bin", F.coalesce("gb", F.lit(0)).alias("gb"))
        .select("bin", F.sum("gb").over(wb).alias("cum_all"))
    )
    grid = (
        groups.crossJoin(F.broadcast(spine))
        .join(cells, ["lang", "source", "len_bucket", "bin"], "left")
        .select(
            "lang",
            "source",
            "len_bucket",
            "n_rows",
            "bin",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("a"),
        )
    )
    wg = (
        Window.partitionBy("lang", "source", "len_bucket")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    terms = (
        grid.select(
            "lang",
            "source",
            "len_bucket",
            "n_rows",
            "bin",
            F.sum("a").over(wg).alias("cum_g"),
        )
        .join(F.broadcast(gcum), "bin")
        .crossJoin(tot)
        .select(
            "lang",
            "source",
            "len_bucket",
            "n_rows",
            F.expr(
                "abs(CAST(cum_g AS DECIMAL(38,0)) * n_all"
                " - CAST(cum_all AS DECIMAL(38,0)) * n_rows)"
            ).alias("term"),
        )
    )
    emd = terms.groupBy("lang", "source", "len_bucket", "n_rows").agg(
        F.sum("term").alias("t_num")
    )
    return emd.crossJoin(tot).select(
        "lang",
        "source",
        "len_bucket",
        "n_rows",
        F.expr(
            "CAST(t_num * 1000000"
            " div (CAST(n_rows AS DECIMAL(38,0)) * n_all * 9) AS BIGINT)"
        ).alias("t_ppm"),
        F.expr(
            "CAST(CASE WHEN t_num * 1000000"
            " div (CAST(n_rows AS DECIMAL(38,0)) * n_all * 9) > 300000"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("at_risk"),
    )


METROLOGY_QUERIES["q343_t_closeness"] = q343_t_closeness


def _tclose_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT lang, source, n_chars, text, {_TOKS} AS toks FROM documents
    ),
    cells AS (
      SELECT lang, source, n_chars // 500 AS len_bucket,
             LEAST(CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT)
                   // 1000, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY 1, 2, 3, 4
    ),
    groups AS (
      SELECT lang, source, len_bucket, CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM cells GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM cells),
    spine AS (SELECT UNNEST(generate_series(0, 9)) AS bin),
    gcum AS (
      SELECT s.bin,
             SUM(COALESCE(g.gb, 0)) OVER (ORDER BY s.bin) AS cum_all
      FROM spine s LEFT JOIN (
        SELECT bin, SUM(cnt) AS gb FROM cells GROUP BY bin
      ) g ON s.bin = g.bin
    ),
    grid AS (
      SELECT gr.lang, gr.source, gr.len_bucket, gr.n_rows, s.bin,
             COALESCE(c.cnt, 0) AS a
      FROM groups gr CROSS JOIN spine s
      LEFT JOIN cells c ON c.lang = gr.lang AND c.source = gr.source
        AND c.len_bucket = gr.len_bucket AND c.bin = s.bin
    ),
    terms AS (
      SELECT g.lang, g.source, g.len_bucket, g.n_rows,
             ABS(CAST(SUM(g.a) OVER (PARTITION BY g.lang, g.source,
                   g.len_bucket ORDER BY g.bin) AS HUGEINT) * t.n_all
                 - CAST(gc.cum_all AS HUGEINT) * g.n_rows) AS term
      FROM grid g JOIN gcum gc ON g.bin = gc.bin CROSS JOIN tot t
    ),
    emd AS (
      SELECT lang, source, len_bucket, n_rows, SUM(term) AS t_num
      FROM terms GROUP BY 1, 2, 3, 4
    )
    SELECT e.lang, e.source, e.len_bucket, e.n_rows,
           CAST(e.t_num * 1000000
                // (CAST(e.n_rows AS HUGEINT) * t.n_all * 9) AS BIGINT)
             AS t_ppm,
           CAST(CASE WHEN e.t_num * 1000000
                // (CAST(e.n_rows AS HUGEINT) * t.n_all * 9) > 300000
                THEN 1 ELSE 0 END AS BIGINT) AS at_risk
    FROM emd e CROSS JOIN tot t
    """


METROLOGY_ORACLES["q343_t_closeness"] = _tclose_oracle()


# --- q344: TF-cosine all-pairs document similarity ------------------------------


def q344_tfcos_allpairs(spark, sf_dir):
    """All-pairs document cosine similarity over raw term-frequency
    vectors via the inverted-index partial-products join (Bayardo,
    Ma & Srikant, WWW 2007, "Scaling up all pairs similarity search")
    — the sparse lexical complement of the embedding near-dup family
    (q34/q80): no model, no floats, exact. Reports the top 20 pairs by
    squared cosine in ppm: cos²·1e6 = dot²·1e6 div (‖a‖²·‖b‖²) — the
    monotone transform avoids square roots entirely, keeping every
    step integer.

    Scale shape: one token pass to (doc, term, tf); partial products
    join only on terms with document frequency ≤ 50 (the hot-term
    candidate cap, cost ≤ cap² per term — norms still use FULL
    vectors); TakeOrdered top-20, no global sort."""
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tf = (
        ensure_parallelism(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return tfcos_allpairs_report(tf)


def tfcos_allpairs_report(tf, df_cap: int = 50):
    """The q344 core over a caller-supplied ``(doc_id, tok, tf)`` table —
    split out so tools/stress.py can ladder the df-capped inverted-index
    join on replicated corpora without re-tokenizing through the query."""
    tf = tf.transform(checkpoint_corpus)
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("nrm")
    )
    rare = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= df_cap)
        .select("tok")
    )
    joinable = tf.join(rare, "tok")
    l, r = joinable.alias("l"), joinable.alias("r")
    dots = (
        l.join(
            r,
            (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("l.tf") * F.col("r.tf")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(
            norms.withColumnsRenamed({"doc_id": "doc_a", "nrm": "na"}),
            "doc_a",
        )
        .join(
            norms.withColumnsRenamed({"doc_id": "doc_b", "nrm": "nb"}),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.expr(
                "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
                " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    top = (
        scored.orderBy(F.col("cos2_ppm").desc(), "doc_a", "doc_b")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    # bounded-domain: 20 rows — single-partition window is safe
    wr = Window.orderBy(F.col("cos2_ppm").desc(), "doc_a", "doc_b")
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "doc_a",
        "doc_b",
        "dot",
        "cos2_ppm",
    )


METROLOGY_QUERIES["q344_tfcos_allpairs"] = q344_tfcos_allpairs

METROLOGY_ORACLES["q344_tfcos_allpairs"] = f"""
    WITH tf AS (
      SELECT doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok
            FROM documents WHERE doc_id < 200) t
      GROUP BY doc_id, t.tok
    ),
    norms AS (
      SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nrm
      FROM tf GROUP BY doc_id
    ),
    rare AS (SELECT tok FROM tf GROUP BY tok HAVING COUNT(*) <= 50),
    jf AS (SELECT tf.doc_id, tf.tok, tf.tf FROM tf JOIN rare USING (tok)),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM jf a JOIN jf b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, dot,
             CAST(CAST(dot AS HUGEINT) * dot * 1000000
                  // (CAST(na.nrm AS HUGEINT) * nb.nrm) AS BIGINT)
               AS cos2_ppm
      FROM dots
      JOIN norms na ON dots.doc_a = na.doc_id
      JOIN norms nb ON dots.doc_b = nb.doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos2_ppm DESC, doc_a, doc_b)
                AS BIGINT) AS rank,
           doc_a, doc_b, dot, cos2_ppm
    FROM scored
    ORDER BY cos2_ppm DESC, doc_a, doc_b
    LIMIT 20
"""


# --- q345: split-conformal threshold planner ------------------------------------


def q345_conformal_threshold(spark, sf_dir):
    """Split-conformal upper bound per event type (Vovk et al.;
    finite-sample form as in Lei et al. 2018): on a deterministic
    hash-half calibration split, the α=0.1 conformal threshold is the
    ⌈0.9·(n+1)⌉-th smallest value — guaranteeing ≥ 90% coverage on
    exchangeable future draws WITHOUT distributional assumptions. The
    held-out half then reports the empirical coverage next to the
    guarantee — the anomaly-gate calibration an event-monitoring
    pipeline ships.

    Scale shape: the calibration half collapses to (type, cents)
    distinct-value counts (q318 discipline — NO per-type row ranking);
    the threshold is the smallest value whose cumulative count reaches
    the conformal rank; the test half is one aggregate against the
    broadcast thresholds."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import scaled_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        scaled_long(F.col("value"), 2).alias("c"),
        (
            portable_hash32(
                F.concat(F.lit("cal:"), F.col("event_id").cast("string"))
            )
            % 2
        ).alias("half"),
    )
    cal = ev.where(F.col("half") == 0)
    by_val = (
        cal.groupBy("event_type", "c")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    ncal = by_val.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_cal")
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = by_val.select(
        "event_type", "c", F.sum("cnt").over(wv).alias("cum")
    ).join(F.broadcast(ncal), "event_type")
    # conformal rank: ceil(0.9·(n+1)) capped at n
    ranked = cum.select(
        "event_type",
        "n_cal",
        "c",
        "cum",
        F.expr("least((9 * (n_cal + 1) + 9) div 10, n_cal)").alias("r_star"),
    )
    qhat = ranked.where(F.col("cum") >= F.col("r_star")).groupBy(
        "event_type", "n_cal", "r_star"
    ).agg(F.min("c").alias("q_hat_c"))
    test = ev.where(F.col("half") == 1)
    cov = (
        test.join(
            F.broadcast(
                qhat.select("event_type", "q_hat_c")
            ),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.expr(
                "CAST(sum(CASE WHEN c <= q_hat_c THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )
    return qhat.join(cov, "event_type").select(
        "event_type",
        "n_cal",
        F.col("r_star").cast("long").alias("rank_used"),
        F.col("q_hat_c").cast("long").alias("q_hat_c"),
        "n_test",
        "coverage_ppm",
    )


METROLOGY_QUERIES["q345_conformal_threshold"] = q345_conformal_threshold

METROLOGY_ORACLES["q345_conformal_threshold"] = f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             {_h32("md5('cal:' || CAST(event_id AS VARCHAR))")} % 2 AS half
      FROM events
    ),
    by_val AS (
      SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev WHERE half = 0 GROUP BY event_type, c
    ),
    ncal AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_cal
             FROM by_val GROUP BY event_type),
    cum AS (
      SELECT b.event_type, n.n_cal, b.c,
             SUM(b.cnt) OVER (PARTITION BY b.event_type ORDER BY b.c)
               AS cum,
             LEAST((9 * (n.n_cal + 1) + 9) // 10, n.n_cal) AS r_star
      FROM by_val b JOIN ncal n ON b.event_type = n.event_type
    ),
    qhat AS (
      SELECT event_type, n_cal, r_star,
             CAST(MIN(c) AS BIGINT) AS q_hat_c
      FROM cum WHERE cum >= r_star GROUP BY event_type, n_cal, r_star
    ),
    cov AS (
      SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN e.c <= q.q_hat_c THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
      FROM ev e JOIN qhat q ON e.event_type = q.event_type
      WHERE e.half = 1
      GROUP BY e.event_type
    )
    SELECT q.event_type, q.n_cal,
           CAST(q.r_star AS BIGINT) AS rank_used, q.q_hat_c,
           c.n_test, c.coverage_ppm
    FROM qhat q JOIN cov c ON q.event_type = c.event_type
"""


# --- q346: deterministic permutation test ---------------------------------------


def q346_permutation_test(spark, sf_dir):
    """Deterministic two-sample permutation test (Fisher's exact-
    randomization logic, hash-derandomized like q319's bootstrap):
    does mean purchase value differ from mean click value more than
    random relabeling explains? 64 deterministic replicas reassign
    each row to pseudo-"purchase" with probability n_A/n via a
    per-(replica, row) hash draw; the p-value is the share of replicas
    whose |mean difference| ≥ the observed one (with the +1
    add-one-in correction). Mean differences are compared via fully
    cross-multiplied integer inequalities — no division anywhere in
    the comparison, so the verdict is engine-identical.

    Scale shape: one bounded 64× lane explode that map-side combines
    to (replica) sums — the q319 shape; everything downstream runs on
    64 rows + two broadcast scalars."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import scaled_long

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_id",
        (F.col("event_type") == "purchase").cast("long").alias("is_a"),
        scaled_long(F.col("value"), 2).alias("c"),
    )
    obs = F.broadcast(
        ev.agg(
            F.sum("is_a").cast("long").alias("n_a"),
            F.sum(F.when(F.col("is_a") == 1, F.col("c"))).cast("long").alias(
                "s_a"
            ),
            F.sum(F.lit(1) - F.col("is_a")).cast("long").alias("n_b"),
            F.sum(F.when(F.col("is_a") == 0, F.col("c"))).cast("long").alias(
                "s_b"
            ),
        ).localCheckpoint(eager=True)
    )
    p_ppm = F.expr("n_a * 1000000 div (n_a + n_b)")
    lanes = (
        ev.crossJoin(obs)
        .select(
            "event_id",
            "c",
            p_ppm.alias("p_ppm"),
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        )
        .select(
            "b",
            "c",
            (
                portable_hash32(
                    F.concat(
                        F.lit("pm"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                )
                % 1000000
                < F.col("p_ppm")
            )
            .cast("long")
            .alias("pa"),
        )
    )
    reps = lanes.groupBy("b").agg(
        F.sum("pa").cast("long").alias("ra"),
        F.sum(F.when(F.col("pa") == 1, F.col("c"))).cast("long").alias("sa"),
        F.sum(F.lit(1) - F.col("pa")).cast("long").alias("rb"),
        F.sum(F.when(F.col("pa") == 0, F.col("c"))).cast("long").alias("sb"),
    )
    # replica exceeds observed iff |sa·rb − sb·ra| · (n_a·n_b) ≥
    # |s_a·n_b − s_b·n_a| · (ra·rb) — all integer; degenerate replicas
    # (ra or rb = 0) count as exceeding (conservative)
    verdicts = reps.crossJoin(obs).select(
        F.expr(
            "CASE WHEN ra = 0 OR rb = 0 THEN 1"
            " WHEN abs(CAST(sa AS DECIMAL(38,0)) * rb"
            "          - CAST(sb AS DECIMAL(38,0)) * ra)"
            "      * (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            "      >= abs(CAST(s_a AS DECIMAL(38,0)) * n_b"
            "             - CAST(s_b AS DECIMAL(38,0)) * n_a)"
            "         * (CAST(ra AS DECIMAL(38,0)) * rb)"
            " THEN 1 ELSE 0 END"
        ).alias("exceeds")
    )
    pv = F.broadcast(
        verdicts.agg(
            F.sum("exceeds").cast("long").alias("n_exceed"),
            F.count("*").cast("long").alias("n_reps"),
        )
    )
    return (
        obs.crossJoin(pv)
        .select(
            "n_a",
            "n_b",
            F.expr("coalesce(s_a, 0L) div greatest(n_a, 1)")
            .cast("long")
            .alias("mean_a_c"),
            F.expr("coalesce(s_b, 0L) div greatest(n_b, 1)")
            .cast("long")
            .alias("mean_b_c"),
            "n_exceed",
            "n_reps",
            F.expr(
                "CAST((n_exceed + 1) * 1000000 div (n_reps + 1) AS BIGINT)"
            ).alias("p_value_ppm"),
        )
    )


METROLOGY_QUERIES["q346_permutation_test"] = q346_permutation_test

METROLOGY_ORACLES["q346_permutation_test"] = f"""
    WITH ev AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    obs AS (
      SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN is_a = 1 THEN c END) AS BIGINT) AS s_a,
             CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN is_a = 0 THEN c END) AS BIGINT) AS s_b
      FROM ev
    ),
    lanes AS (
      SELECT bb.b, e.c,
             CASE WHEN {_h32("md5('pm' || CAST(bb.b AS VARCHAR) || ':' || CAST(e.event_id AS VARCHAR))")}
                  % 1000000 < o.n_a * 1000000 // (o.n_a + o.n_b)
                  THEN 1 ELSE 0 END AS pa
      FROM ev e
      CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
      CROSS JOIN obs o
    ),
    reps AS (
      SELECT b, CAST(SUM(pa) AS BIGINT) AS ra,
             CAST(SUM(CASE WHEN pa = 1 THEN c END) AS BIGINT) AS sa,
             CAST(SUM(1 - pa) AS BIGINT) AS rb,
             CAST(SUM(CASE WHEN pa = 0 THEN c END) AS BIGINT) AS sb
      FROM lanes GROUP BY b
    ),
    verdicts AS (
      SELECT CASE WHEN r.ra = 0 OR r.rb = 0 THEN 1
                  WHEN ABS(CAST(r.sa AS HUGEINT) * r.rb
                           - CAST(r.sb AS HUGEINT) * r.ra)
                       * (CAST(o.n_a AS HUGEINT) * o.n_b)
                       >= ABS(CAST(o.s_a AS HUGEINT) * o.n_b
                              - CAST(o.s_b AS HUGEINT) * o.n_a)
                          * (CAST(r.ra AS HUGEINT) * r.rb)
                  THEN 1 ELSE 0 END AS exceeds
      FROM reps r CROSS JOIN obs o
    ),
    pv AS (
      SELECT CAST(SUM(exceeds) AS BIGINT) AS n_exceed,
             CAST(COUNT(*) AS BIGINT) AS n_reps
      FROM verdicts
    )
    SELECT o.n_a, o.n_b,
           CAST(COALESCE(o.s_a, 0) // GREATEST(o.n_a, 1) AS BIGINT) AS mean_a_c,
           CAST(COALESCE(o.s_b, 0) // GREATEST(o.n_b, 1) AS BIGINT)
             AS mean_b_c,
           p.n_exceed, p.n_reps,
           CAST((p.n_exceed + 1) * 1000000 // (p.n_reps + 1) AS BIGINT)
             AS p_value_ppm
    FROM obs o CROSS JOIN pv p
"""


# --- q347: within-document code-switching audit ---------------------------------


def _lang_id_arr(toks_col):
    """lang_id over a token-ARRAY column (operators.text.lang_id takes
    raw text): same marker sets, same min_hits=1, same first-language
    tie-break chain, so half-document IDs are comparable to whole-
    document IDs."""
    from adhesive_spark.operators.text import LANG_MARKERS

    scores = {}
    for lang, markers in LANG_MARKERS.items():
        marks = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(
            F.filter(toks_col, lambda t: F.array_contains(marks, t))
        )
    expr = F.lit("und")
    best = F.lit(-1)
    for lang in reversed(list(scores)):
        s = scores[lang]
        expr = F.when((s >= 1) & (s >= best), F.lit(lang)).otherwise(expr)
        best = F.greatest(s, best)
    return expr


def q347_code_switch_audit(spark, sf_dir):
    """Within-document language-mix (code-switching) audit: language-ID
    the first and second HALF of each document separately (same marker
    heuristic as q32/q161) and report, per source, how often the halves
    disagree — mixed-language documents poison monolingual training
    mixes and langid-keyed dedup, and a document-level language column
    cannot see them by construction. `und_ppm` (either half
    undetermined) rides along as the detector's own confidence rail.

    Scale shape: one stateless per-row pass (slice + marker counting on
    bound arrays) collapsing straight to a per-source aggregate —
    corpus-linear, no joins, no windows."""
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    toked = ensure_parallelism(docs).select(
        "source", tokens(F.col("text")).alias("toks")
    )
    halved = toked.select(
        "source",
        F.expr("slice(toks, 1, (size(toks) + 1) div 2)").alias("h1"),
        F.expr(
            "slice(toks, (size(toks) + 1) div 2 + 1,"
            " size(toks) - (size(toks) + 1) div 2)"
        ).alias("h2"),
    )
    labeled = halved.select(
        "source",
        _lang_id_arr(F.col("h1")).alias("l1"),
        _lang_id_arr(F.col("h2")).alias("l2"),
    )
    return labeled.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr(
            "CAST(sum(CASE WHEN l1 <> 'und' AND l2 <> 'und' AND l1 <> l2"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_mixed"),
        F.expr(
            "CAST(sum(CASE WHEN l1 <> 'und' AND l2 <> 'und' AND l1 <> l2"
            " THEN 1 ELSE 0 END) * 1000000 div count(*) AS BIGINT)"
        ).alias("mixed_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN l1 = 'und' OR l2 = 'und' THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("und_ppm"),
    )


METROLOGY_QUERIES["q347_code_switch_audit"] = q347_code_switch_audit


def _lang_sql_arr(toks: str) -> str:
    """DuckDB twin of _lang_id_arr over a list expression."""
    from adhesive_spark.operators.text import LANG_MARKERS

    def score(lang: str) -> str:
        markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        return f"len(list_filter({toks}, t -> t IN ({markers})))"

    return f"""
        CASE WHEN {score('en')} >= 1
                  AND {score('en')} >= greatest({score('de')},
                                                {score('fr')}, {score('es')})
             THEN 'en'
             WHEN {score('de')} >= 1
                  AND {score('de')} >= greatest({score('fr')}, {score('es')})
             THEN 'de'
             WHEN {score('fr')} >= 1 AND {score('fr')} >= {score('es')}
             THEN 'fr'
             WHEN {score('es')} >= 1 THEN 'es'
             ELSE 'und' END
    """


def _codeswitch_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ),
    halved AS (
      SELECT source,
             toks[1:(len(toks) + 1) // 2] AS h1,
             toks[(len(toks) + 1) // 2 + 1:len(toks)] AS h2
      FROM t
    ),
    labeled AS (
      SELECT source,
             ({_lang_sql_arr("h1")}) AS l1,
             ({_lang_sql_arr("h2")}) AS l2
      FROM halved
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN l1 <> 'und' AND l2 <> 'und' AND l1 <> l2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
           CAST(SUM(CASE WHEN l1 <> 'und' AND l2 <> 'und' AND l1 <> l2
                THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS mixed_ppm,
           CAST(SUM(CASE WHEN l1 = 'und' OR l2 = 'und' THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS und_ppm
    FROM labeled GROUP BY source
    """


METROLOGY_ORACLES["q347_code_switch_audit"] = _codeswitch_oracle()


# --- q348: PQ quantization-distortion audit --------------------------------------


def q348_pq_distortion(spark, sf_dir):
    """Product-quantization distortion audit: the exact reconstruction
    error the q246 PQ-ANN index pays, per subspace — total and mean
    ‖sv − c(sv)‖² over the milli-quantized vectors, plus codebook
    occupancy (codes used out of 8, and the hottest code's share).
    This is the "is the codebook any good?" readout (Jégou et al.
    2011, "Product quantization for nearest neighbor search"
    evaluates exactly this trade): a subspace with high distortion or
    one-code collapse tells you to retrain BEFORE shipping a 100 TB
    recall regression — the error side of the q330/q283 recall/occupancy
    ladders.

    Scale shape: assignment is a broadcast join against the 32-row
    codebook + one windowless min-struct aggregate per (vector,
    subspace); output is 4 rows."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("mv"),
    )
    n_sub, subdim, n_cent = 4, 16, 8
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("s"),
                        F.slice(F.col("mv"), s * subdim + 1, subdim).alias(
                            "sv"
                        ),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    codebook = sub.where(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
    )
    l2sq = (
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    # nearest centroid per (vector, subspace): min over (dist, cid)
    # struct — one aggregate, no window
    assigned = (
        sub.join(F.broadcast(codebook), "s")
        .select(
            "vec_id",
            "s",
            F.struct(
                F.expr(l2sq).alias("dist"), F.col("cid").alias("cid")
            ).alias("k"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("k").alias("k"))
        .select(
            "s", F.col("k.dist").alias("dist"), F.col("k.cid").alias("code")
        )
    )
    per_code = assigned.groupBy("s", "code").agg(
        F.count("*").cast("long").alias("nc"),
        F.sum("dist").cast("long").alias("err"),
    )
    return (
        per_code.groupBy("s")
        .agg(
            F.sum("nc").cast("long").alias("n_vecs"),
            F.sum("err").cast("long").alias("total_err"),
            F.expr("CAST(sum(err) div sum(nc) AS BIGINT)").alias("mean_err"),
            F.count("*").cast("long").alias("codes_used"),
            F.expr(
                "CAST(max(nc) * 1000000 div sum(nc) AS BIGINT)"
            ).alias("top_code_ppm"),
        )
        .select(
            "s", "n_vecs", "total_err", "mean_err", "codes_used",
            "top_code_ppm",
        )
    )


METROLOGY_QUERIES["q348_pq_distortion"] = q348_pq_distortion

METROLOGY_ORACLES["q348_pq_distortion"] = """
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS mv
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s.s,
             mv[s.s * 16 + 1:s.s * 16 + 16] AS sv
      FROM emb, (SELECT UNNEST(generate_series(0, 3)) AS s) s
    ),
    codebook AS (
      SELECT vec_id AS cid, s, sv AS cv FROM sub WHERE vec_id < 8
    ),
    dists AS (
      SELECT sub.vec_id, sub.s, cb.cid,
             list_reduce(list_transform(range(1, 17),
               i -> (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])),
               (a, b) -> a + b) AS dist
      FROM sub JOIN codebook cb ON sub.s = cb.s
    ),
    assigned AS (
      SELECT s, MIN({'d': dist, 'c': cid}) AS k
      FROM dists GROUP BY vec_id, s
    ),
    flat AS (
      SELECT s, (k).d AS dist, (k).c AS code FROM assigned
    ),
    per_code AS (
      SELECT s, code, CAST(COUNT(*) AS BIGINT) AS nc,
             CAST(SUM(dist) AS BIGINT) AS err
      FROM flat GROUP BY s, code
    )
    SELECT CAST(s AS BIGINT) AS s,
           CAST(SUM(nc) AS BIGINT) AS n_vecs,
           CAST(SUM(err) AS BIGINT) AS total_err,
           CAST(SUM(err) // SUM(nc) AS BIGINT) AS mean_err,
           CAST(COUNT(*) AS BIGINT) AS codes_used,
           CAST(MAX(nc) * 1000000 // SUM(nc) AS BIGINT) AS top_code_ppm
    FROM per_code GROUP BY s
"""


# --- q349: stopword-profile style affinity matrix --------------------------------


def q349_style_affinity(spark, sf_dir):
    """Source-pair STYLE affinity: cosine² between per-source stopword-
    frequency profiles (the 19 STOPWORDS_EN, classic function-word
    stylometry à la Mosteller & Wallace) — sources that read alike
    cluster together even when their topics differ, which is the signal
    a mixture planner wants when deciding if two sources are redundant
    STYLES rather than redundant CONTENT (q199's copy matrix). Profiles
    are normalized to ppm of the source's stopword mass BEFORE the
    pairwise product, so the arithmetic is corpus-size-independent
    (components ≤ 1e6 ⇒ dot ≤ 19·10¹², square fits DECIMAL(38,0) at ANY
    scale) and replication-invariant.

    Scale shape: the corpus collapses to (source, word) counts in one
    pass (≤ K·19 rows, checkpointed); the K² pair join runs on K rows
    per side."""
    from adhesive_spark.operators.text import STOPWORDS_EN, tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    counts = (
        ensure_parallelism(docs)
        .select(
            "source",
            F.explode(
                F.filter(
                    tokens(F.col("text")),
                    lambda t: F.array_contains(stops, t),
                )
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(checkpoint_corpus)
    )
    tots = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("tot")
    )
    prof = counts.join(F.broadcast(tots), "source").selectExpr(
        "source", "word", "c * 1000000 div tot AS p"
    )
    norms = prof.groupBy("source").agg(
        F.sum(F.col("p") * F.col("p")).cast("long").alias("nrm")
    )
    # prof/norms are K·19-bounded at any corpus size — broadcast every
    # join side so the pair pass is BHJ-only (no SMJ on tiny tables)
    l, r = prof.alias("l"), prof.alias("r")
    dots = (
        l.join(
            F.broadcast(r),
            (F.col("l.word") == F.col("r.word"))
            & (F.col("l.source") < F.col("r.source")),
        )
        .groupBy(
            F.col("l.source").alias("src_a"),
            F.col("r.source").alias("src_b"),
        )
        .agg(F.sum(F.col("l.p") * F.col("r.p")).cast("long").alias("dot"))
    )
    return (
        dots.join(
            F.broadcast(
                norms.withColumnsRenamed({"source": "src_a", "nrm": "na"})
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                norms.withColumnsRenamed({"source": "src_b", "nrm": "nb"})
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
                " div greatest(CAST(na AS DECIMAL(38,0)) * nb, 1)"
                " AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )


METROLOGY_QUERIES["q349_style_affinity"] = q349_style_affinity


def _style_oracle() -> str:
    from adhesive_spark.operators.text import STOPWORDS_EN

    stops = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
    WITH counts AS (
      SELECT source, t.word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(list_filter({_TOKS},
                     t -> t IN ({stops}))) AS word
            FROM documents) t
      GROUP BY source, t.word
    ),
    tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
             FROM counts GROUP BY source),
    prof AS (
      SELECT c.source, c.word,
             CAST(c.c * 1000000 // t.tot AS BIGINT) AS p
      FROM counts c JOIN tots t ON c.source = t.source
    ),
    norms AS (
      SELECT source, CAST(SUM(p * p) AS BIGINT) AS nrm
      FROM prof GROUP BY source
    ),
    dots AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(SUM(a.p * b.p) AS BIGINT) AS dot
      FROM prof a JOIN prof b
        ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT d.src_a, d.src_b,
           CAST(CAST(d.dot AS HUGEINT) * d.dot * 1000000
                // GREATEST(CAST(na.nrm AS HUGEINT) * nb.nrm, 1)
                AS BIGINT) AS cos2_ppm
    FROM dots d
    JOIN norms na ON d.src_a = na.source
    JOIN norms nb ON d.src_b = nb.source
    """


METROLOGY_ORACLES["q349_style_affinity"] = _style_oracle()


# --- q350: dedup survivorship-bias audit ------------------------------------------


def q350_dedup_survivorship(spark, sf_dir):
    """Does min-id near-dup dedup systematically KEEP the worse copy?
    Over the q46 near-dup clusters (3-gram Jaccard ≥ 0.1, doc_id < 300,
    star-CC closure), compare the mean quality of the kept (min-id)
    representatives against the dropped members, per source — the
    survivorship audit that motivates q109's quality-argmax
    canonicalization: a positive `drop_minus_keep` says the policy is
    throwing away the cleaner copies. All quality means are exact
    integer (1e4-scaled, division last, empty-side guarded).

    Scale shape: the q46 pair/closure machinery (shingle then node
    shuffles, never all-pairs) + one broadcast-joined quality rollup."""
    from adhesive_spark.operators.dedup import ngram_jaccard_pairs
    from adhesive_spark.operators.graph import connected_components
    from adhesive_spark.operators.text import quality_score, scaled_long

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    comp = connected_components(pairs).withColumnRenamed(
        "node", "doc_id"
    )
    scored = docs.select(
        "doc_id",
        "source",
        scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
    )
    members = comp.join(scored, "doc_id").select(
        "source",
        "q_s",
        (F.col("doc_id") == F.col("component"))
        .cast("long")
        .alias("is_kept"),
    )
    return members.groupBy("source").agg(
        F.count("*").cast("long").alias("n_clustered"),
        F.sum("is_kept").cast("long").alias("n_kept"),
        F.expr("CAST(count(*) - sum(is_kept) AS BIGINT)").alias("n_dropped"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN is_kept = 1 THEN q_s END), 0L)"
            " div greatest(sum(is_kept), 1L) AS BIGINT)"
        ).alias("kept_q_mean"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN is_kept = 0 THEN q_s END), 0L)"
            " div greatest(count(*) - sum(is_kept), 1L) AS BIGINT)"
        ).alias("dropped_q_mean"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN is_kept = 0 THEN q_s END), 0L)"
            " div greatest(count(*) - sum(is_kept), 1L)"
            " - coalesce(sum(CASE WHEN is_kept = 1 THEN q_s END), 0L)"
            " div greatest(sum(is_kept), 1L) AS BIGINT)"
        ).alias("drop_minus_keep"),
    )


METROLOGY_QUERIES["q350_dedup_survivorship"] = q350_dedup_survivorship


def _survivorship_oracle() -> str:
    return f"""
    WITH RECURSIVE {_PAIR_CTES},
    t2 AS (
      SELECT doc_id, source, text, {_TOKS} AS toks
      FROM documents WHERE doc_id < 300
    ),
    scored AS (
      SELECT doc_id, source,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s
      FROM t2
    ),
    members AS (
      SELECT s.source, s.q_s,
             CASE WHEN c.node = c.component THEN 1 ELSE 0 END AS is_kept
      FROM comp c JOIN scored s ON c.node = s.doc_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clustered,
           CAST(SUM(is_kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(is_kept) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(CASE WHEN is_kept = 1 THEN q_s END), 0)
                // GREATEST(SUM(is_kept), 1) AS BIGINT) AS kept_q_mean,
           CAST(COALESCE(SUM(CASE WHEN is_kept = 0 THEN q_s END), 0)
                // GREATEST(COUNT(*) - SUM(is_kept), 1) AS BIGINT)
             AS dropped_q_mean,
           CAST(COALESCE(SUM(CASE WHEN is_kept = 0 THEN q_s END), 0)
                // GREATEST(COUNT(*) - SUM(is_kept), 1)
                - COALESCE(SUM(CASE WHEN is_kept = 1 THEN q_s END), 0)
                // GREATEST(SUM(is_kept), 1) AS BIGINT) AS drop_minus_keep
    FROM members GROUP BY source
    """


METROLOGY_ORACLES["q350_dedup_survivorship"] = _survivorship_oracle()


# --- q351: corpus-saturation / marginal-novelty curve ------------------------------


def q351_corpus_saturation(spark, sf_dir):
    """Marginal-novelty curve: as the corpus is ingested in doc_id
    order, what fraction of each document's 3-gram shingles has never
    been seen before? Reported per ingest DECILE as the aggregate novel-
    shingle share (ppm) — the saturation diagnostic behind "is more of
    this crawl still worth ingesting?", the shingle-level counterpart
    of q134's vocabulary-growth curve (Heaps' law) and the ordering
    complement of q333's dedup-pressure audit.

    Scale shape: shingle explode → min(doc_id) per shingle (map-side
    combinable) → one equi-join back on shingle → per-doc novel counts
    → decile rollup. Two shingle-keyed shuffles, corpus-linear, the
    exact-dedup cost class."""
    from adhesive_spark.operators.dedup import word_shingles
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    sh = ensure_parallelism(docs).select(
        "doc_id",
        F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
    )
    # first-seen as a min window inside ONE shingle-keyed exchange (the
    # ngram_jaccard_pairs shape): the separate min-aggregate + join-back
    # re-ran the explode — the CPU bound — a second time; identical
    # values (novel = occurrence whose doc_id equals the per-shingle min)
    occ = sh.repartition("shingle").withColumn(
        "first_id", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    # doc-cardinality rows with two consumers (max_id + decile rollup):
    # materialize once so the shingle pass runs once
    per_doc = (
        occ.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sh"),
            F.sum(
                (F.col("doc_id") == F.col("first_id")).cast("long")
            )
            .cast("long")
            .alias("novel"),
        )
        .transform(checkpoint_corpus)
    )
    mx = F.broadcast(per_doc.agg(F.max("doc_id").alias("max_id")))
    return (
        per_doc.crossJoin(mx)
        .selectExpr(
            "least(doc_id * 10 div (max_id + 1), 9L) AS decile",
            "n_sh",
            "novel",
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("novel").cast("long").alias("n_novel"),
            F.expr(
                "CAST(sum(novel) * 1000000 div sum(n_sh) AS BIGINT)"
            ).alias("novel_ppm"),
        )
    )


METROLOGY_QUERIES["q351_corpus_saturation"] = q351_corpus_saturation

METROLOGY_ORACLES["q351_corpus_saturation"] = f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) - 2 >= 1
                  THEN list_distinct(list_transform(
                         range(1, len(toks) - 2 + 1),
                         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                  ELSE [norm] END AS grams
      FROM t
    ),
    x AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
    first AS (SELECT shingle, MIN(doc_id) AS first_id
              FROM x GROUP BY shingle),
    per_doc AS (
      SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
             CAST(SUM(CASE WHEN x.doc_id = f.first_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS novel
      FROM x JOIN first f ON x.shingle = f.shingle
      GROUP BY x.doc_id
    ),
    mx AS (SELECT MAX(doc_id) AS max_id FROM per_doc)
    SELECT LEAST(p.doc_id * 10 // (m.max_id + 1), 9) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           CAST(SUM(novel) * 1000000 // SUM(n_sh) AS BIGINT) AS novel_ppm
    FROM per_doc p, mx m
    GROUP BY LEAST(p.doc_id * 10 // (m.max_id + 1), 9)
"""


# --- q352: event-flow steady state (Markov stationary distribution) ---------------


def q352_markov_steady_state(spark, sf_dir):
    """Stationary distribution of the per-user event-flow Markov chain:
    q159's transition counts row-normalized to ppm, then 3 power-
    iteration steps π ← πP from the uniform start (integer throughout,
    renormalized each step like q306's MM loop) — "where does user
    attention settle?": the steady-state mass ranks event types by
    long-run occupancy rather than raw frequency, the journey-model
    readout next to q159's raw matrix and q105's funnel.

    Scale shape: ONE user-window pass collapses the corpus to the K×K
    count matrix (checkpointed); iterations run on K² rows with 1-row
    broadcast renormalizers — replication-invariant."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = (
        steps.groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    row_tot = counts.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("rt")
    )
    p = counts.join(F.broadcast(row_tot), "from_type").selectExpr(
        "from_type", "to_type", "n * 1000000 div rt AS p_ppm"
    ).localCheckpoint(eager=True)
    states = counts.select(
        F.col("from_type").alias("state")
    ).union(counts.select("to_type")).distinct()
    k_df = F.broadcast(states.agg(F.count("*").alias("k")))
    pi = states.crossJoin(k_df).selectExpr(
        "state", "1000000 div k AS pi"
    )
    for _ in range(3):
        nxt = (
            p.join(
                F.broadcast(pi.withColumnsRenamed({"state": "from_type"})),
                "from_type",
            )
            .groupBy(F.col("to_type").alias("state"))
            .agg(
                F.expr("CAST(sum(pi * p_ppm) div 1000000 AS BIGINT)").alias(
                    "pi"
                )
            )
        )
        # keep states with no inbound mass at 0 (right join on states)
        nxt = states.join(nxt, "state", "left").select(
            "state", F.coalesce("pi", F.lit(0)).alias("pi")
        )
        pi = (
            nxt.crossJoin(F.broadcast(nxt.agg(F.sum("pi").alias("sp"))))
            .selectExpr("state", "pi * 1000000 div greatest(sp, 1) AS pi")
            .localCheckpoint(eager=True)
        )
    out_mass = counts.groupBy(F.col("from_type").alias("state")).agg(
        F.sum("n").cast("long").alias("out_steps")
    )
    return (
        pi.join(out_mass, "state", "left")
        .select(
            F.col("state").alias("event_type"),
            F.coalesce("out_steps", F.lit(0)).cast("long").alias("out_steps"),
            F.col("pi").cast("long").alias("steady_ppm"),
        )
    )


METROLOGY_QUERIES["q352_markov_steady_state"] = q352_markov_steady_state


def _markov_round_sql(prev: str, cur: str) -> str:
    return f"""
    r_{cur} AS (
      SELECT s.state,
             COALESCE(CAST(SUM(pv.pi * p.p_ppm) // 1000000 AS BIGINT), 0)
               AS pi
      FROM states s
      LEFT JOIN p ON p.to_type = s.state
      LEFT JOIN {prev} pv ON pv.state = p.from_type
      GROUP BY s.state
    ),
    {cur} AS (
      SELECT state,
             CAST(pi * 1000000
                  // GREATEST((SELECT SUM(pi) FROM r_{cur}), 1) AS BIGINT)
               AS pi
      FROM r_{cur}
    )"""


METROLOGY_ORACLES["q352_markov_steady_state"] = f"""
    WITH steps AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS from_type,
             event_type AS to_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    row_tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS rt
                FROM counts GROUP BY from_type),
    p AS (
      SELECT c.from_type, c.to_type,
             CAST(c.n * 1000000 // r.rt AS BIGINT) AS p_ppm
      FROM counts c JOIN row_tot r ON c.from_type = r.from_type
    ),
    states AS (
      SELECT from_type AS state FROM counts
      UNION SELECT to_type FROM counts
    ),
    pi0 AS (
      SELECT state,
             CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT) AS pi
      FROM states
    ),
    {_markov_round_sql("pi0", "pi1")},
    {_markov_round_sql("pi1", "pi2")},
    {_markov_round_sql("pi2", "pi3")}
    SELECT s.state AS event_type,
           CAST(COALESCE(o.out_steps, 0) AS BIGINT) AS out_steps,
           pi3.pi AS steady_ppm
    FROM states s
    JOIN pi3 ON s.state = pi3.state
    LEFT JOIN (SELECT from_type AS state, CAST(SUM(n) AS BIGINT)
                 AS out_steps FROM counts GROUP BY from_type) o
      ON s.state = o.state
"""


# --- q353: temporal burstiness (Fano factor) per event type ------------------------


def q353_burstiness_fano(spark, sf_dir):
    """Over-dispersion audit of event arrivals: the Fano factor
    (variance-to-mean ratio of DAILY counts, Fano 1947; == 1 for a
    Poisson process, > 1 ⇒ bursty) per event type over the global day
    spine — zero-days included, which per-type day lists would silently
    drop. Bursty ingestion breaks rate-based anomaly thresholds and
    capacity plans sized off the mean; this is the one-number test.
    fano_ppm = (n·Σc² − S²)·1e6 div (n·S) — exact integer,
    division last; the peak day's share rides along.

    Scale shape: one (type, day) count aggregate (map-side combined,
    checkpointed) + a broadcast day-spine count; everything after runs
    on type×day-bounded rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = (
        ev.groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_days = F.broadcast(
        daily.select("day").distinct().agg(
            F.count("*").cast("long").alias("nd")
        )
    )
    per_type = daily.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.max("c").cast("long").alias("peak"),
    )
    return per_type.crossJoin(n_days).select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.col("s").alias("n_events"),
        F.expr(
            "CAST((CAST(nd AS DECIMAL(38,0)) * s2"
            " - CAST(s AS DECIMAL(38,0)) * s) * 1000000"
            " div greatest(CAST(nd AS DECIMAL(38,0)) * s, 1) AS BIGINT)"
        ).alias("fano_ppm"),
        F.expr("CAST(peak * 1000000 div greatest(s, 1) AS BIGINT)").alias(
            "peak_day_ppm"
        ),
    )


METROLOGY_QUERIES["q353_burstiness_fano"] = q353_burstiness_fano

METROLOGY_ORACLES["q353_burstiness_fano"] = """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS nd FROM daily),
    per_type AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(MAX(c) AS BIGINT) AS peak
      FROM daily GROUP BY event_type
    )
    SELECT event_type, nd.nd AS n_days, s AS n_events,
           CAST((CAST(nd.nd AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
                * 1000000
                // GREATEST(CAST(nd.nd AS HUGEINT) * s, 1) AS BIGINT)
             AS fano_ppm,
           CAST(peak * 1000000 // GREATEST(s, 1) AS BIGINT)
             AS peak_day_ppm
    FROM per_type, nd
"""


# --- q354: int4 quantization ranking-fidelity audit --------------------------------


def q354_quantization_fidelity(spark, sf_dir):
    """Does int4 storage keep the NEIGHBORS? For the 8 probe vectors
    (the q246 convention), rank the corpus by exact integer dot product
    twice — once over milli-quantized full-precision vectors, once over
    symmetric int4 codes (c = x·7 div max|x|, per-vector scale) — and
    report top-10 overlap and top-1 agreement per probe. This is the
    recall side of q72's storage-compression summaries: the number that
    says whether a 8× memory cut is free or catastrophic BEFORE
    re-indexing 100 TB. Both rankings are exact integers with vec_id
    tie-breaks, so the audit itself is engine-reproducible.

    Scale shape: probes broadcast against a corpus-linear scan (the q35
    contract); per-probe ranking windows partition by probe."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("mv"),
    )
    coded = emb.select(
        "vec_id",
        "mv",
        F.expr(
            "transform(mv, x -> x * 7 div"
            " greatest(array_max(transform(mv, y -> abs(y))), 1L))"
        ).alias("c4"),
    )
    probes = coded.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("mv").alias("qmv"),
        F.col("c4").alias("qc4"),
    )
    corpus = coded.where(F.col("vec_id") >= 8)
    dotsql = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "query_id",
        "vec_id",
        F.expr(dotsql.format(a="mv", b="qmv")).alias("dot_full"),
        F.expr(dotsql.format(a="c4", b="qc4")).alias("dot_q4"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("dot_full").desc(), "vec_id"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dot_q4").desc(), "vec_id"
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wq).alias("rq"),
    ).where((F.col("rf") <= 10) | (F.col("rq") <= 10))
    return ranked.groupBy("query_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("overlap10"),
        F.expr(
            "CAST(max(CASE WHEN rf = 1 AND rq = 1 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("top1_match"),
    )


METROLOGY_QUERIES["q354_quantization_fidelity"] = q354_quantization_fidelity

METROLOGY_ORACLES["q354_quantization_fidelity"] = """
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS mv
      FROM embeddings
    ),
    coded AS (
      SELECT vec_id, mv,
             list_transform(mv, x -> x * 7 //
               GREATEST(list_max(list_transform(mv, y -> ABS(y))), 1))
               AS c4
      FROM emb
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             list_reduce(list_transform(range(1, len(c.mv) + 1),
               i -> c.mv[i] * q.mv[i]), (a, b) -> a + b) AS dot_full,
             list_reduce(list_transform(range(1, len(c.c4) + 1),
               i -> c.c4[i] * q.c4[i]), (a, b) -> a + b) AS dot_q4
      FROM coded c, coded q
      WHERE q.vec_id < 8 AND c.vec_id >= 8
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY dot_full DESC, vec_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY dot_q4 DESC, vec_id) AS rq
      FROM scored
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS overlap10,
           CAST(MAX(CASE WHEN rf = 1 AND rq = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS top1_match
    FROM ranked GROUP BY query_id
"""


# --- q355: difference-in-differences -----------------------------------------------


def q355_diff_in_diff(spark, sf_dir):
    """Difference-in-differences readout (Card & Krueger 1994 design):
    mean purchase value vs mean view value, before vs after the median
    calendar day — DiD = (T_post − T_pre) − (C_post − C_pre) — the
    quasi-experimental estimator an event pipeline runs when a launch
    has no randomized holdout and the control series absorbs the shared
    trend. The cutoff is the median DISTINCT day (bounded-domain rank,
    the q318 discipline); each difference is computed cross-multiplied
    then divided ONCE into centi-cents, so the output is
    engine-identical.

    Scale shape: one (group, period) aggregate over the filtered event
    stream (map-side combined, 4 rows) + a distinct-day cutoff table;
    everything after is arithmetic on 4 rows."""
    from adhesive_spark.operators.text import scaled_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        scaled_long(F.col("value"), 2).alias("c"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    # the distinct-day spine is calendar-bounded tiny but used TWICE
    # (rank window + the nd count), each use re-running the full events
    # distinct — materialize it once
    days = ev.select("day").distinct().localCheckpoint(eager=True)
    # bounded-domain: distinct DAYS (calendar-bounded) — single-
    # partition window is intentional and safe
    wd = Window.orderBy("day")
    cutoff = F.broadcast(
        days.select("day", F.row_number().over(wd).alias("r"))
        .crossJoin(F.broadcast(days.agg(F.count("*").alias("nd"))))
        .where(F.col("r") == F.expr("(nd + 1) div 2"))
        .select(F.col("day").alias("cutoff_day"))
    )
    cells = (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .crossJoin(cutoff)
        .select(
            "cutoff_day",
            (F.col("event_type") == "purchase").cast("long").alias("is_t"),
            (F.col("day") > F.col("cutoff_day")).cast("long").alias("post"),
            "c",
        )
        .groupBy("cutoff_day", "is_t", "post")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
        )
    )
    wide = cells.groupBy("cutoff_day").agg(
        *[
            F.max(
                F.when(
                    (F.col("is_t") == t) & (F.col("post") == p), F.col(col)
                )
            )
            .cast("long")
            .alias(f"{name}_{'t' if t else 'c'}_{'post' if p else 'pre'}")
            for col, name in (("n", "n"), ("s", "s"))
            for t in (1, 0)
            for p in (1, 0)
        ]
    )
    return wide.select(
        "cutoff_day",
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.expr("s_t_pre div greatest(n_t_pre, 1)").alias("mean_t_pre_c"),
        F.expr("s_t_post div greatest(n_t_post, 1)").alias("mean_t_post_c"),
        F.expr("s_c_pre div greatest(n_c_pre, 1)").alias("mean_c_pre_c"),
        F.expr("s_c_post div greatest(n_c_post, 1)").alias("mean_c_post_c"),
        F.expr(
            "CAST((CAST(s_t_post AS DECIMAL(38,0)) * n_t_pre"
            " - CAST(s_t_pre AS DECIMAL(38,0)) * n_t_post) * 100"
            " div greatest(CAST(n_t_post AS DECIMAL(38,0)) * n_t_pre, 1)"
            " - (CAST(s_c_post AS DECIMAL(38,0)) * n_c_pre"
            " - CAST(s_c_pre AS DECIMAL(38,0)) * n_c_post) * 100"
            " div greatest(CAST(n_c_post AS DECIMAL(38,0)) * n_c_pre, 1)"
            " AS BIGINT)"
        ).alias("did_c100"),
    )


METROLOGY_QUERIES["q355_diff_in_diff"] = q355_diff_in_diff

METROLOGY_ORACLES["q355_diff_in_diff"] = """
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ev),
    cutoff AS (
      SELECT day AS cutoff_day FROM (
        SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS r,
               COUNT(*) OVER () AS nd
        FROM days
      ) WHERE r = (nd + 1) // 2
    ),
    cells AS (
      SELECT x.cutoff_day,
             CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS is_t,
             CASE WHEN e.day > x.cutoff_day THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM ev e CROSS JOIN cutoff x
      WHERE e.event_type IN ('purchase', 'view')
      GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT cutoff_day,
             MAX(CASE WHEN is_t = 1 AND post = 0 THEN n END) AS n_t_pre,
             MAX(CASE WHEN is_t = 1 AND post = 1 THEN n END) AS n_t_post,
             MAX(CASE WHEN is_t = 0 AND post = 0 THEN n END) AS n_c_pre,
             MAX(CASE WHEN is_t = 0 AND post = 1 THEN n END) AS n_c_post,
             MAX(CASE WHEN is_t = 1 AND post = 0 THEN s END) AS s_t_pre,
             MAX(CASE WHEN is_t = 1 AND post = 1 THEN s END) AS s_t_post,
             MAX(CASE WHEN is_t = 0 AND post = 0 THEN s END) AS s_c_pre,
             MAX(CASE WHEN is_t = 0 AND post = 1 THEN s END) AS s_c_post
      FROM cells GROUP BY cutoff_day
    )
    SELECT cutoff_day, n_t_pre, n_t_post, n_c_pre, n_c_post,
           CAST(s_t_pre // GREATEST(n_t_pre, 1) AS BIGINT) AS mean_t_pre_c,
           CAST(s_t_post // GREATEST(n_t_post, 1) AS BIGINT)
             AS mean_t_post_c,
           CAST(s_c_pre // GREATEST(n_c_pre, 1) AS BIGINT) AS mean_c_pre_c,
           CAST(s_c_post // GREATEST(n_c_post, 1) AS BIGINT)
             AS mean_c_post_c,
           CAST((CAST(s_t_post AS HUGEINT) * n_t_pre
                 - CAST(s_t_pre AS HUGEINT) * n_t_post) * 100
                // GREATEST(CAST(n_t_post AS HUGEINT) * n_t_pre, 1)
                - (CAST(s_c_post AS HUGEINT) * n_c_pre
                   - CAST(s_c_pre AS HUGEINT) * n_c_post) * 100
                // GREATEST(CAST(n_c_post AS HUGEINT) * n_c_pre, 1)
                AS BIGINT) AS did_c100
    FROM wide
"""


# --- q356: cross-source vocabulary overlap from mergeable HLL sketches -------------


def q356_hll_union_overlap(spark, sf_dir):
    """Cross-source vocabulary overlap WITHOUT a cross-source join:
    per-source 64-register token HLLs (the q241/q249 register
    machinery) max-merge into pairwise UNION sketches — the mergeable-
    sketch property that makes this free at 100 TB: one corpus pass
    builds K·64 registers, every one of the K² union estimates is
    register arithmetic. Overlap = est_a + est_b − est_union by
    inclusion–exclusion (clamped at 0), in ppm of the smaller side —
    the "should these two sources share a dedup pass?" pre-flight,
    sketch-priced instead of q199's exact join.

    Scale shape: one (source, bucket) hash aggregate (map-side
    combined, checkpointed); pair unions run on K²·64 bounded rows via
    broadcast joins."""
    from adhesive_spark.operators.sketches import (
        HLL_ALPHA_PPM,
        HLL_M,
        HLL_P,
        HLL_SCALE,
        hash60,
    )
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("tok"))
    regs = (
        ensure_parallelism(docs)
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .select(
            "source",
            (h % F.lit(HLL_M)).alias("bucket"),
            F.shiftright(h, HLL_P).alias("_rem"),
        )
        .select(
            "source",
            "bucket",
            F.when(F.col("_rem") == 0, F.lit(HLL_SCALE).cast("long"))
            .otherwise(
                F.lit(HLL_SCALE).cast("long")
                - F.length(F.bin(F.col("_rem"))).cast("long")
            )
            .alias("rho"),
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m_j"))
        .localCheckpoint(eager=True)
    )

    def estimate(grouped, keys):
        summed = grouped.groupBy(*keys).agg(
            F.count("*").cast("long").alias("nonempty"),
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST({HLL_SCALE} - m_j AS INT))"
                )
            )
            .cast("long")
            .alias("s_nonempty"),
        )
        return summed.select(
            *keys,
            (
                F.col("s_nonempty")
                + (F.lit(HLL_M) - F.col("nonempty"))
                * F.lit(1 << HLL_SCALE).cast("long")
            ).alias("s_scaled"),
        ).select(
            *keys,
            F.expr(
                f"CAST(((CAST({HLL_ALPHA_PPM} AS DECIMAL(38,0))"
                f" * {HLL_M} * {HLL_M} * {1 << HLL_SCALE})"
                f" div s_scaled) div 1000000 AS BIGINT)"
            ).alias("est"),
        )

    singles = estimate(regs, ["source"])
    pairs = (
        singles.alias("a")
        .crossJoin(F.broadcast(singles.alias("b")))
        .where(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.col("a.est").alias("est_a"),
            F.col("b.est").alias("est_b"),
        )
    )
    contrib = pairs.select("src_a", "src_b").join(
        F.broadcast(regs),
        (F.col("source") == F.col("src_a"))
        | (F.col("source") == F.col("src_b")),
    ).select("src_a", "src_b", "bucket", "m_j")
    unions = estimate(
        contrib.groupBy("src_a", "src_b", "bucket").agg(
            F.max("m_j").alias("m_j")
        ),
        ["src_a", "src_b"],
    ).withColumnRenamed("est", "est_union")
    return (
        pairs.join(F.broadcast(unions), ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "est_a",
            "est_b",
            "est_union",
            F.expr(
                "CAST(greatest(est_a + est_b - est_union, 0L) * 1000000"
                " div greatest(least(est_a, est_b), 1L) AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


METROLOGY_QUERIES["q356_hll_union_overlap"] = q356_hll_union_overlap


def _hll_union_oracle() -> str:
    from adhesive_spark.operators.sketches import (
        _HASH_HEX_CHARS,
        HLL_ALPHA_PPM,
        HLL_M,
        HLL_P,
        HLL_SCALE,
    )

    est = (
        f"CAST(((CAST({HLL_ALPHA_PPM} AS HUGEINT)"
        f" * {HLL_M} * {HLL_M} * {1 << HLL_SCALE})"
        f" // s_scaled) // 1000000 AS BIGINT)"
    )
    return f"""
    WITH hashed AS (
      SELECT source, h % {HLL_M} AS bucket,
             CASE WHEN (h >> {HLL_P}) = 0
                  THEN CAST({HLL_SCALE} AS BIGINT)
                  ELSE CAST({HLL_SCALE} AS BIGINT)
                       - CAST(length(bin(h >> {HLL_P})) AS BIGINT)
             END AS rho
      FROM (
        SELECT source,
               CAST(('0x' || substr(md5(t.tok), 1, {_HASH_HEX_CHARS}))
                    AS BIGINT) AS h
        FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents) t
      )
    ),
    regs AS (
      SELECT source, bucket, MAX(rho) AS m_j
      FROM hashed GROUP BY source, bucket
    ),
    singles AS (
      SELECT source, {est} AS est FROM (
        SELECT source,
               SUM(CAST(1 AS BIGINT) << CAST({HLL_SCALE} - m_j AS INT))
                 + ({HLL_M} - COUNT(*))
                   * (CAST(1 AS BIGINT) << {HLL_SCALE}) AS s_scaled
        FROM regs GROUP BY source
      )
    ),
    pair_regs AS (
      SELECT a.source AS src_a, b.source AS src_b, r.bucket,
             MAX(r.m_j) AS m_j
      FROM singles a JOIN singles b ON a.source < b.source
      JOIN regs r ON r.source = a.source OR r.source = b.source
      GROUP BY 1, 2, r.bucket
    ),
    unions AS (
      SELECT src_a, src_b, {est} AS est_union FROM (
        SELECT src_a, src_b,
               SUM(CAST(1 AS BIGINT) << CAST({HLL_SCALE} - m_j AS INT))
                 + ({HLL_M} - COUNT(*))
                   * (CAST(1 AS BIGINT) << {HLL_SCALE}) AS s_scaled
        FROM pair_regs GROUP BY src_a, src_b
      )
    )
    SELECT u.src_a, u.src_b, a.est AS est_a, b.est AS est_b, u.est_union,
           CAST(GREATEST(a.est + b.est - u.est_union, 0) * 1000000
                // GREATEST(LEAST(a.est, b.est), 1) AS BIGINT)
             AS overlap_ppm
    FROM unions u
    JOIN singles a ON u.src_a = a.source
    JOIN singles b ON u.src_b = b.source
    """


METROLOGY_ORACLES["q356_hll_union_overlap"] = _hll_union_oracle()


# --- q357: A/A null-calibration test ------------------------------------------------


def q357_aa_null_calibration(spark, sf_dir):
    """A/A test per event type (the experimentation pipeline's null
    calibration, Kohavi et al.'s standard pre-flight): split each
    type's rows into two DETERMINISTIC hash halves that received the
    same treatment by construction, then run the q346 permutation
    machinery — a healthy pipeline must NOT reject its own null. Per
    type: the halves' mean difference, its permutation p-value over 64
    hash-derandomized relabelings (cross-multiplied integer
    comparisons), and the pass flag (p ≥ 0.05). A failing type means
    the hash split, the metric plumbing, or the variance model is
    broken — BEFORE any real experiment is read.

    Scale shape: the q319/q346 bounded 64× lane explode, map-side
    combined to (type, replica) sums; verdicts on K·64 rows."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import scaled_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        scaled_long(F.col("value"), 2).alias("c"),
        (
            portable_hash32(
                F.concat(F.lit("aa:"), F.col("event_id").cast("string"))
            )
            % 2
        ).alias("g"),
    )
    obs = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("g") == 0, F.col("c"))).cast("long").alias("s_a"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("g") == 1, F.col("c"))).cast("long").alias("s_b"),
    ).localCheckpoint(eager=True)
    lanes = (
        ev.select(
            "event_type",
            "event_id",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        )
        .select(
            "event_type",
            "b",
            "c",
            (
                portable_hash32(
                    F.concat(
                        F.lit("pm"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                )
                % 2
            ).alias("pa"),
        )
    )
    reps = lanes.groupBy("event_type", "b").agg(
        F.sum(F.when(F.col("pa") == 0, 1).otherwise(0))
        .cast("long")
        .alias("ra"),
        F.sum(F.when(F.col("pa") == 0, F.col("c"))).cast("long").alias("sa"),
        F.sum(F.when(F.col("pa") == 1, 1).otherwise(0))
        .cast("long")
        .alias("rb"),
        F.sum(F.when(F.col("pa") == 1, F.col("c"))).cast("long").alias("sb"),
    )
    verdicts = reps.join(F.broadcast(obs), "event_type").select(
        "event_type",
        F.expr(
            "CASE WHEN ra = 0 OR rb = 0 THEN 1"
            " WHEN abs(CAST(sa AS DECIMAL(38,0)) * rb"
            "          - CAST(sb AS DECIMAL(38,0)) * ra)"
            "      * (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            "      >= abs(CAST(s_a AS DECIMAL(38,0)) * n_b"
            "             - CAST(s_b AS DECIMAL(38,0)) * n_a)"
            "         * (CAST(ra AS DECIMAL(38,0)) * rb)"
            " THEN 1 ELSE 0 END"
        ).alias("exceeds"),
    )
    pv = verdicts.groupBy("event_type").agg(
        F.sum("exceeds").cast("long").alias("n_exceed"),
        F.count("*").cast("long").alias("n_reps"),
    )
    return obs.join(pv, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("coalesce(s_a, 0L) div greatest(n_a, 1)").alias("mean_a_c"),
        F.expr("coalesce(s_b, 0L) div greatest(n_b, 1)").alias("mean_b_c"),
        F.expr(
            "CAST((n_exceed + 1) * 1000000 div (n_reps + 1) AS BIGINT)"
        ).alias("p_value_ppm"),
        F.expr(
            "CAST(CASE WHEN (n_exceed + 1) * 1000000 div (n_reps + 1)"
            " >= 50000 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("null_ok"),
    )


METROLOGY_QUERIES["q357_aa_null_calibration"] = q357_aa_null_calibration

METROLOGY_ORACLES["q357_aa_null_calibration"] = f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             {_h32("md5('aa:' || CAST(event_id AS VARCHAR))")} % 2 AS g
      FROM events
    ),
    obs AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN g = 0 THEN c END) AS BIGINT) AS s_a,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN g = 1 THEN c END) AS BIGINT) AS s_b
      FROM ev GROUP BY event_type
    ),
    lanes AS (
      SELECT e.event_type, bb.b, e.c,
             {_h32("md5('pm' || CAST(bb.b AS VARCHAR) || ':' || CAST(e.event_id AS VARCHAR))")}
               % 2 AS pa
      FROM ev e CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
    ),
    reps AS (
      SELECT event_type, b,
             CAST(SUM(CASE WHEN pa = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ra,
             CAST(SUM(CASE WHEN pa = 0 THEN c END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN pa = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rb,
             CAST(SUM(CASE WHEN pa = 1 THEN c END) AS BIGINT) AS sb
      FROM lanes GROUP BY event_type, b
    ),
    verdicts AS (
      SELECT r.event_type,
             CASE WHEN r.ra = 0 OR r.rb = 0 THEN 1
                  WHEN ABS(CAST(r.sa AS HUGEINT) * r.rb
                           - CAST(r.sb AS HUGEINT) * r.ra)
                       * (CAST(o.n_a AS HUGEINT) * o.n_b)
                       >= ABS(CAST(o.s_a AS HUGEINT) * o.n_b
                              - CAST(o.s_b AS HUGEINT) * o.n_a)
                          * (CAST(r.ra AS HUGEINT) * r.rb)
                  THEN 1 ELSE 0 END AS exceeds
      FROM reps r JOIN obs o ON r.event_type = o.event_type
    ),
    pv AS (
      SELECT event_type, CAST(SUM(exceeds) AS BIGINT) AS n_exceed,
             CAST(COUNT(*) AS BIGINT) AS n_reps
      FROM verdicts GROUP BY event_type
    )
    SELECT o.event_type, o.n_a, o.n_b,
           CAST(COALESCE(o.s_a, 0) // GREATEST(o.n_a, 1) AS BIGINT)
             AS mean_a_c,
           CAST(COALESCE(o.s_b, 0) // GREATEST(o.n_b, 1) AS BIGINT)
             AS mean_b_c,
           CAST((p.n_exceed + 1) * 1000000 // (p.n_reps + 1) AS BIGINT)
             AS p_value_ppm,
           CAST(CASE WHEN (p.n_exceed + 1) * 1000000 // (p.n_reps + 1)
                >= 50000 THEN 1 ELSE 0 END AS BIGINT) AS null_ok
    FROM obs o JOIN pv p ON o.event_type = p.event_type
"""


# --- q358: capture–recapture duplicate-population estimate --------------------------


def q358_capture_recapture(spark, sf_dir):
    """Capture–recapture estimate of the DISTINCT-document population
    (Lincoln–Petersen with the Chapman small-sample correction): two
    independent deterministic 10% hash samples of the fingerprint
    space; N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from the marked-recapture count
    m — the ecology estimator repurposed as a sample-priced distinct
    count: where q241's HLL pays one pass over EVERYTHING, this prices
    the population from two cheap samples, and shipping them
    side-by-side (est vs exact, err_ppm) calibrates how far sample
    economics can be trusted on this corpus.

    Scale shape: fingerprints collapse once (exact-dedup aggregate);
    the two sample flags and the estimate are one more tiny
    aggregate."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fps = (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .select(
            "fp",
            (
                portable_hash32(F.concat(F.lit("cr1:"), F.col("fp"))) % 10
                == 0
            )
            .cast("long")
            .alias("s1"),
            (
                portable_hash32(F.concat(F.lit("cr2:"), F.col("fp"))) % 10
                == 0
            )
            .cast("long")
            .alias("s2"),
        )
    )
    return fps.agg(
        F.sum("s1").cast("long").alias("n1"),
        F.sum("s2").cast("long").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("m"),
        F.count("*").cast("long").alias("exact_distinct"),
        F.expr(
            "CAST((sum(s1) + 1) * (sum(s2) + 1)"
            " div (sum(s1 * s2) + 1) - 1 AS BIGINT)"
        ).alias("est_chapman"),
        F.expr(
            "CAST(abs((sum(s1) + 1) * (sum(s2) + 1)"
            " div (sum(s1 * s2) + 1) - 1 - count(*)) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("err_ppm"),
    )


METROLOGY_QUERIES["q358_capture_recapture"] = q358_capture_recapture

METROLOGY_ORACLES["q358_capture_recapture"] = f"""
    WITH fps AS (
      SELECT DISTINCT md5({_NORM}) AS fp FROM documents
    ),
    flagged AS (
      SELECT fp,
             CASE WHEN {_h32("md5('cr1:' || fp)")} % 10 = 0
                  THEN 1 ELSE 0 END AS s1,
             CASE WHEN {_h32("md5('cr2:' || fp)")} % 10 = 0
                  THEN 1 ELSE 0 END AS s2
      FROM fps
    )
    SELECT CAST(SUM(s1) AS BIGINT) AS n1,
           CAST(SUM(s2) AS BIGINT) AS n2,
           CAST(SUM(s1 * s2) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS exact_distinct,
           CAST((SUM(s1) + 1) * (SUM(s2) + 1) // (SUM(s1 * s2) + 1) - 1
                AS BIGINT) AS est_chapman,
           CAST(ABS((SUM(s1) + 1) * (SUM(s2) + 1) // (SUM(s1 * s2) + 1)
                - 1 - COUNT(*)) * 1000000 // COUNT(*) AS BIGINT)
             AS err_ppm
    FROM flagged
"""
